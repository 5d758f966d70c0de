package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.builder(Session.envCpus).getOrCreate()
    // q36's oracle compares against a persisted vector intermediate;
    // only the verify path pays for that export (bench must time the
    // pipeline, not a parquet write) — see Pipeline.Q36PersistProp.
    sys.props(graft.queries.Pipeline.Q36PersistProp) = "true"
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q86,q89 — dump/compare a subset while iterating
    // on an oracle (comma-separated name prefixes), same contract as
    // Bench's. The driver never sets it: full dump.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release any localCheckpoint pins the query created (queries are
      // isolated; nothing is intentionally cached across them)
      finally graft.io.Pins.sweepAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
