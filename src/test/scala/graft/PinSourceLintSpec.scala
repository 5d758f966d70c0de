package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `graft.io.Pins` is the only main source that pins a
  * frame or walks the session's persisted RDDs. Every other pin goes
  * through `Pins.pin`, so its size cap and its release through
  * `Pins.scope` cannot be skipped. Reads files only; starts no Spark.
  */
class PinSourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val allowed = root.resolve("graft/io/Pins.scala")
  private val banned = """localCheckpoint\(|\.checkpoint\(|getPersistentRDDs""".r

  test("only graft/io/Pins.scala checkpoints or reads getPersistentRDDs") {
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != allowed).toSeq
    assert(sources.nonEmpty)
    val hits = sources.sortBy(_.toString).flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("pin outside graft.io.Pins:\n", "\n", ""))
  }
}
