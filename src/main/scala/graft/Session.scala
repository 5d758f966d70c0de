package graft

import org.apache.spark.sql.SparkSession

/** The one session config every entry point runs: the CLI (`Main`),
  * `Bench`, `Verify` and the specs. Callers add only deployment
  * settings (a checkpoint dir, a warehouse dir) and call `getOrCreate`.
  */
object Session extends org.apache.spark.internal.Logging {

  /** Local session on `cpus` cores:
    *  - `GraftExtensions` registers the native functions
    *    (`cosine_similarity`, `cdc_cuts`, `shingle_md5`, …) and its
    *    excluded optimizer rules;
    *  - UTC session time: `Tables.load`'s TimestampNTZ→Timestamp cast
    *    is value-preserving only under UTC;
    *  - `nanosAsLong`: TIMESTAMP(NANOS) parquet columns read as long and
    *    are normalized in `graft.io.Tables.load`;
    *  - `TIMESTAMP_MICROS` output: TZ-typed timestamps otherwise write
    *    INT96 (nanos), which hashes differently from the oracle's
    *    microsecond timestamps.
    */
  def builder(cpus: Int): SparkSession.Builder = {
    quietBenignWarnings()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.optimizer.excludedRules",
              GraftExtensions.ExcludedOptimizerRules)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  }

  /** Cores from `SPARK_GRAFT_CPUS` (default 4) — the mains' knob. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Two WARNs that fire by contract, quieted to ERROR:
    *  - dropping a dead localCheckpoint pin (`Pins.release`/`sweepAll`)
    *    logs "locally checkpointed ... cannot be recomputed" per pin;
    *  - WindowExec's single-partition WARN: global windows here only
    *    ever run over aggregate-bounded frames (frequency histograms,
    *    daily rollups, top-k slivers — each site documents its bound).
    *    The plan-shape specs, not this logger, guard against a
    *    corpus-sized global window.
    */
  private def quietBenignWarnings(): Unit = {
    // Spark installs its default log4j config on first use, which would
    // drop levels set before it — initialize it first
    initializeLogIfNecessary(isInterpreter = false)
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.window.WindowExec").foreach(
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.ERROR))
  }
}
