package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions.col

/** Leak guard over the store commands: each one runs its body in one
  * pin scope, so after it returns the session holds no persisted RDD
  * it did not hold before. A subset check, not equality: the
  * ContextCleaner may drop an older, unreferenced RDD at any time.
  */
class CommandPinsSpec extends SparkSpec {

  private val now = Timestamp.valueOf("2025-06-01 12:00:00")

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def mkInputs(docs: (String, String)*): String = {
    val in = Files.createTempDirectory("graft_pins_in").toFile
    docs.foreach { case (name, text) =>
      Files.write(new java.io.File(in, name).toPath, text.getBytes("UTF-8"))
    }
    in.toString
  }

  /** Every command's leaks, so one run names each leaking command. */
  private val leaks = scala.collection.mutable.ArrayBuffer.empty[String]

  private def leavesNoPin[A](what: String)(command: => A): A = {
    val before = persisted()
    val out = command
    val leaked = persisted() -- before
    if (leaked.nonEmpty) leaks += s"$what left ${leaked.size} persisted RDD(s)"
    out
  }

  test("fsck, repair, dupreport, curate, profile, ingest and delete free every pin they make") {
    val recipe = "cooking recipe with butter flour sugar eggs and a pinch of salt for baking"
    val in = mkInputs(
      "a.txt" -> "spark query engine performance tuning guide for large clusters",
      "b.txt" -> "watermark lateness checkpoint recovery in streaming pipelines",
      "p1.txt" -> s"completely different $recipe bread",
      "p2.txt" -> s"completely different $recipe cakes")
    val store = Files.createTempDirectory("graft_pins_store").toString
    leavesNoPin("ingest")(Main.runIngest(spark, in, store, "nomic", now))
    leavesNoPin("fsck")(Main.runFsck(spark, store))
    leavesNoPin("fsck --repair")(Main.runFsckRepair(spark, store))
    leavesNoPin("dupreport")(Main.runDupReport(spark, in))
    val out = Files.createTempDirectory("graft_pins_curated").toString + "/out"
    leavesNoPin("curate")(Main.runCurate(spark, store, out, "nomic"))
    leavesNoPin("profile")(Main.runProfile(spark, store, rebuild = true))
    val id = spark.read.parquet(s"$store/documents.parquet")
      .filter(col("status") === "completed").select(col("doc_id"))
      .orderBy(col("doc_id")).head().getString(0)
    leavesNoPin("delete")(Main.runDelete(spark, store, Seq(id), now,
                                         purgeSnapshots = false))
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
