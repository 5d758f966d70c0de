package graft

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The settings `graft.Session` must carry for the oracle to hold —
  * checked on the shared spec session, which the factory builds.
  */
class SessionSpec extends SparkSpec {
  import spark.implicits._

  test("factory session carries the oracle-critical settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.sql.optimizer.excludedRules") ==
           GraftExtensions.ExcludedOptimizerRules)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
  }

  test("native functions resolve, timestamps write as micros, benign WARNs are quiet") {
    assert(spark.sql("SELECT long_vec_dot(array(1L, 2L), array(3L, 4L))")
             .head().getLong(0) == 11L)
    val dir = java.nio.file.Files.createTempDirectory("graft_session").toString
    try {
      Seq(java.sql.Timestamp.valueOf("2025-01-01 00:00:00")).toDF("ts")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val part = new java.io.File(dir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString),
        spark.sparkContext.hadoopConfiguration))
      val tsType =
        try reader.getFooter.getFileMetaData.getSchema.getType(0).toString
        finally reader.close()
      assert(tsType.contains("int64") && tsType.contains("MICROS"), tsType)
    } finally graft.io.Tables.rmTree(new java.io.File(dir))
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.window.WindowExec").foreach { name =>
      assert(org.apache.logging.log4j.LogManager.getLogger(name).getLevel ==
             org.apache.logging.log4j.Level.ERROR, name)
    }
  }
}
