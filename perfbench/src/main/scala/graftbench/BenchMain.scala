package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point.
  *
  * {{{
  * graftbench.BenchMain <workload> <seed> <seconds> <trace 0|1> <workDir> <cores>
  * }}}
  *
  * Prints one detail JSON line (every measured quantity, for humans and
  * baselines) and then, last, the result line run.py relays.
  */
object BenchMain {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int)

  /** What a workload hands back: end-to-end values, per-layer values
    * (trace runs), extra detail, and the operation tally.
    */
  final class Result {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** Count one checked operation; `ok = false` records a failure. */
    def check(ok: Boolean, msg: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.size < 20) failures += msg }
    }
  }

  def main(argv: Array[String]): Unit = {
    val Array(w, seed, secs, trace, work, cores) = argv
    val a = Args(w, seed.toLong, secs.toDouble, trace == "1", Paths.get(work), cores.toInt)
    Files.createDirectories(a.work)
    if (a.workload == "cds") {
      // class-loading run for the build's shared class archive: one
      // session and one query, no output
      val s = session(a, None)
      s.range(0, 1000, 1, a.cores).selectExpr("sum(id)").collect()
      s.stop()
      return
    }
    val res = a.workload match {
      case "suite" => SuiteWorkload.run(a)
      case "store" => StoreWorkload.run(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    res.e2e("peak_rss_mb") = peakRssMb()
    println(detailJson(a, res))
    val metrics = (if (a.trace) Metrics.perLayer.map(n => n -> res.layer.getOrElse(n, 0.0))
                   else Metrics.endToEnd.map(n => n -> res.e2e(n)))
      .map { case (n, v) => s""""$n":{"value":${num(v)},"unit":"${Metrics.unit(n)}"}""" }
    println(s"""{"correct":${res.failed == 0},"attempted":${math.max(1L, res.attempted)},""" +
            s""""failed":${res.failed},"metrics":{${metrics.mkString(",")}}}""")
  }

  /** Session per workload, copying the engine's own configuration:
    * graft.Bench's for the query suite, graft.Main's for the store.
    */
  def session(a: Args, ckptDir: Option[String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.optimizer.excludedRules",
              graft.GraftExtensions.ExcludedOptimizerRules)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    val s = (if (a.workload == "suite") b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
             else b.config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    ckptDir.foreach(s.sparkContext.setCheckpointDir)
    s
  }

  /** Set-up time: the median of three session start-ups, each ending
    * in one small warm query (the first one pays JVM class loading);
    * the last session stays open for the workload.
    */
  def timedSessions(a: Args, ckptDir: Option[String]): (SparkSession, Double, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var s: SparkSession = null
    (0 until 3).foreach { _ =>
      if (s != null) s.stop()
      val t0 = System.nanoTime()
      s = session(a, ckptDir)
      s.range(0, 1000, 1, a.cores).selectExpr("sum(id)").collect()
      times += (System.nanoTime() - t0) / 1e9
    }
    (s, median(times.toSeq), times.toSeq)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the R-7 rule numpy uses). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jsonValue(v: Any): String = v match {
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s""""$k":${jsonValue(x)}""" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
  }

  private def detailJson(a: Args, r: Result): String =
    jsonValue(mutable.LinkedHashMap[String, Any](
      "detail" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cores" -> a.cores,
      "attempted" -> r.attempted, "failed" -> r.failed, "failures" -> r.failures,
      "end_to_end" -> r.e2e, "layers" -> r.layer) ++ r.detail)
}

/** The metric catalogue: names and units, in BENCHMARK.json order. */
object Metrics {
  val endToEnd: Seq[String] =
    Seq("setup_s", "work_s", "op_p50_s", "op_p90_s", "ops_per_s", "peak_rss_mb")

  private val spanQ = Seq("wall_s", "plan_s", "driver_s", "jobs", "tasks", "task_s", "util")

  val perLayer: Seq[String] =
    Seq("rel", "loop", "other").flatMap(g =>
      (spanQ ++ Seq("shuffle_mb", "spill_mb")).map(q => s"queries.$g.$q")) ++
    Seq("io.pin.pins", "io.pin.pin_mb", "io.pin.s") ++
    (spanQ ++ Seq("shuffle_mb")).map(q => s"ingest.bulk.$q") ++
    Seq("io.store_bytes_per_input_byte", "ingest.convert.docs_per_s", "chunk.docs_per_s",
        "embed.chunks_per_s", "dedup.sig_docs_per_s") ++
    Seq("search.index", "search.postings", "text.curate", "io.delete")
      .flatMap(s => Seq("wall_s", "plan_s", "driver_s", "jobs", "task_s").map(q => s"$s.$q")) ++
    Seq("ann", "knn", "bm25", "hybrid", "knn_cached").flatMap(k =>
      Seq("p50_s", "plan_s", "driver_s", "jobs", "tasks", "read_mb").map(q => s"search.$k.$q")) ++
    Seq("search.ann.read_share", "search.cache_hit_share", "search.ann.recall_at_10",
        "trace.overhead_share")

  def unit(n: String): String = n match {
    case x if (x.endsWith("_s") || x.endsWith(".s")) && !x.endsWith("per_s") => "s"
    case x if x.endsWith("per_s") => "1/s"
    case x if x.endsWith("_mb") => "MB"
    case x if x.endsWith(".jobs") || x.endsWith(".tasks") || x.endsWith(".pins") => "count"
    case _ => "ratio"
  }
}
