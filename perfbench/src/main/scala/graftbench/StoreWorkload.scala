package graftbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Main
import graftbench.BenchMain.{Args, Result, dirBytes, median, quantile}
import graftbench.Gen.Upload

/** `store`: the write path on a fresh store, then the read path on the
  * store it built.
  *
  * Write path, each step timed once, in order: bulk ingest of a seeded
  * corpus with planted near-dup families; `index`; `postings`;
  * `curate`; one set-valued takedown `delete` (a full read-merge-swap
  * store transaction).
  *
  * Read path: a closed loop of whole request cycles, each with a fixed
  * mix (4 ann at nprobe 2, 2 knn, 2 bm25 over stored postings, 1
  * hybrid, 1 knn_cached) in seeded order, query texts drawn Zipf from a
  * seeded pool so some repeat.
  */
object StoreWorkload {
  val BulkDocs = 120
  val BulkDupShare = 0.1
  val DeleteIds = 10
  val K = 10
  val Provider = "nomic"
  val PoolSize = 24
  /** IVF cells for a store of a few hundred chunks: two probed cells
    * then hold far more than k rows, so an `ann` answer has k rows.
    */
  val NList = 4
  val MinCycles = 2
  val Cycle: Seq[String] = Seq.fill(4)("ann") ++ Seq.fill(2)("knn") ++
    Seq.fill(2)("bm25") ++ Seq("hybrid", "knn_cached")
  val WriteSteps: Seq[String] =
    Seq("ingest.bulk", "search.index", "search.postings", "text.curate", "io.delete")

  def run(a: Args): Result = {
    val res = new Result
    val (spark, setupS, setups) = BenchMain.timedSessions(a, None)
    try body(spark, a, res, setupS, setups)
    finally spark.stop()
    res
  }

  private def body(spark: SparkSession, a: Args, res: Result, setupS: Double,
                   setups: Seq[Double]): Unit = {
    val r = new Random(a.seed)
    val store = a.work.resolve("store").toString
    val bulkDir = a.work.resolve("in/bulk")

    // ---------------------------------------------------------- inputs
    val bulk = Gen.corpus(r, BulkDocs, "b", BulkDupShare)
    Gen.writeUploads(bulkDir, bulk)
    val inputBytes = dirBytes(bulkDir)
    // takedown set: kept docs outside every near-dup family
    val families = bulk.flatMap(_.nearDupOf).toSet
    val deleted = r.shuffle(bulk.filter(u => u.nearDupOf.isEmpty && !families(u.name)))
      .take(DeleteIds)
    val inputs = mutable.LinkedHashMap[String, Double](
      "near_dup_share" -> bulk.count(_.nearDupOf.isDefined).toDouble / bulk.size)
    Seq("md", "txt", "docx", "pdf").foreach { f =>
      inputs(s"${f}_share") = bulk.count(_.format == f).toDouble / bulk.size
    }
    res.detail("inputs") = inputs

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    def span[A](name: String)(f: => A): (A, Double) = tracer match {
      case Some(t) => t.span(name)(f)
      case None => val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
    }
    val stepS = mutable.LinkedHashMap.empty[String, Double]
    def step[A](name: String)(f: => A): Option[A] =
      try {
        val (v, dt) = span(name)(f)
        stepS(name) = dt
        res.check(true, "")
        Some(v)
      } catch {
        case scala.util.control.NonFatal(e) =>
          res.check(false, s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(200))
          None
      }
    val t0 = 1700000000000L

    // ---------------------------------------------------------- write path
    val bulkRep = step("ingest.bulk")(
      Main.runIngest(spark, bulkDir.toString, store, Provider, new Timestamp(t0)))
    step("search.index")(Main.runBuildVectorIndex(spark, store, Provider, NList))
    step("search.postings")(Main.runBuildPostings(spark, store, 64))
    step("text.curate")(Main.runCurate(spark, store, a.work.resolve("curated").toString, Provider))

    // ---------------------------------------------------------- checks
    val docs = spark.read.parquet(s"$store/documents.parquet")
      .select("doc_id", "filename", "status").collect()
      .map(x => (x.getString(1), (x.getString(0), x.getString(2)))).toMap
    def idOf(u: Upload) = docs.get(if (u.name.endsWith(".txt")) u.name.dropRight(4) + ".md" else u.name)
    def status(u: Upload) = idOf(u).map(_._2).getOrElse("absent")
    bulkRep.foreach(rep => res.check(rep.nDocs == BulkDocs && rep.nFailed == 0,
      s"bulk ingest reported ${rep.nDocs} docs, ${rep.nFailed} failed"))
    bulk.filter(_.nearDupOf.isDefined).foreach(u =>
      res.check(status(u) == "duplicate", s"planted near-dup ${u.name} is ${status(u)}"))
    val deleteIds = deleted.flatMap(idOf).map(_._1)
    res.check(deleteIds.size == DeleteIds, s"found ${deleteIds.size} of $DeleteIds delete ids")

    step("io.delete")(Main.runDelete(spark, store, deleteIds, new Timestamp(t0 + 120000),
                                     purgeSnapshots = false))
    val gone = deleteIds.toSet
    val chunks = spark.read.parquet(s"$store/chunks.parquet")
    inputs("embed_distinct_share") =
      chunks.select("content").distinct().count().toDouble / math.max(1L, chunks.count())
    val removed = spark.read.parquet(s"$store/documents.parquet")
      .filter(col("doc_id").isin(deleteIds: _*) && col("status") === "removed").count()
    res.check(removed == deleteIds.size, s"$removed of ${deleteIds.size} deleted docs read removed")
    Seq("chunks", "embeddings").foreach { t =>
      val n = spark.read.parquet(s"$store/$t.parquet")
        .filter(substring(col("chunk_id"), 1, 64).isin(deleteIds: _*)).count()
      res.check(n == 0, s"$n $t rows left for deleted ids")
    }
    val (_, nViol) = Main.runFsck(spark, store)
    res.check(nViol == 0, s"fsck reports $nViol violations")

    // ---------------------------------------------------------- read path
    val pool = Gen.queryPool(r, PoolSize)
    val cachedFirst = mutable.Map.empty[String, Seq[String]]
    val perKind = mutable.LinkedHashMap(Cycle.distinct.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    var hits = 0; var cachedN = 0
    def request(kind: String, q: String, timed: Boolean): Double = {
      val name = s"search.$kind"
      val out = try {
        val (lines, dt) = kind match {
          case "ann" => span(name)(Main.runSearchAnn(spark, store, q, K, 2))
          case "knn" => span(name)(Main.runSearch(spark, store, q, Provider, K))
          case "bm25" => span(name)(Main.runSearchBm25(spark, store, q, K))
          case "hybrid" => span(name)(Main.runSearchHybrid(spark, store, q, K, 2))
          case "knn_cached" =>
            val ((ls, hit), dt) = span(name)(Main.runSearchCached(spark, store, q, Provider, K))
            if (timed) { cachedN += 1; if (hit) hits += 1 }
            if (!hit) cachedFirst(q) = ls
            else res.check(cachedFirst.get(q).forall(_ == ls), s"cached repeat of '$q' differs from its miss")
            (ls, dt)
        }
        Right((lines, dt))
      } catch {
        case scala.util.control.NonFatal(e) => Left(s"$kind '$q': ${e.getMessage}".take(200))
      }
      out match {
        case Left(msg) => res.check(false, msg); 0.0
        case Right((lines, dt)) =>
          val ids = lines.flatMap(l => "\"chunk_id\":\"([0-9a-f]{64})".r.findFirstMatchIn(l).map(_.group(1)))
          res.check(lines.size == K && !ids.exists(gone),
            s"$kind '$q' returned ${lines.size} rows" +
              (if (ids.exists(gone)) " incl. a deleted doc" else ""))
          if (timed) perKind(kind) += dt
          dt
      }
    }
    // warm-up: one request of each kind on a query the pool cannot draw
    tracer.foreach(_.setEnabled(false))
    Cycle.distinct.foreach(k => request(k, "spark table join index", timed = false))
    // start the timed loop on a collected heap, not the write path's garbage
    System.gc()
    tracer.foreach(_.setEnabled(true))
    val seen = mutable.Set.empty[String]
    var repeats = 0
    val lat = mutable.ArrayBuffer.empty[Double]
    val s0 = System.nanoTime()
    var cycles = 0
    // whole cycles only, so every run serves the same mix: at least
    // MinCycles, and more while one is predicted to end within the budget
    def elapsed = (System.nanoTime() - s0) / 1e9
    while (cycles < MinCycles || elapsed * (cycles + 1) / cycles <= a.seconds) {
      r.shuffle(Cycle).foreach { kind =>
        val q = pool(Gen.zipf(r, PoolSize))
        if (!seen.add(q)) repeats += 1
        lat += request(kind, q, timed = true)
      }
      cycles += 1
    }
    val serveS = (System.nanoTime() - s0) / 1e9
    // one cached repeat per run, so the hit path is always checked
    tracer.foreach(_.setEnabled(false))
    cachedFirst.keys.headOption.foreach(q => request("knn_cached", q, timed = false))

    // ---------------------------------------------------------- metrics
    res.e2e("setup_s") = setupS
    res.e2e("work_s") = stepS.values.sum
    res.e2e("op_p50_s") = quantile(lat.toSeq, 0.5)
    res.e2e("op_p90_s") = quantile(lat.toSeq, 0.9)
    res.e2e("ops_per_s") = lat.size / serveS
    val storeBytes = dirBytes(Path.of(store))
    res.detail("setup_samples_s") = setups
    res.detail("step_s") = stepS
    res.detail("request_median_s") = perKind.map { case (k, v) => k -> median(v.toSeq) }
    res.detail("requests") = lat.size
    res.detail("bulk_chunks") = bulkRep.map(_.nChunks).getOrElse(0L)
    res.detail("bulk_docs_per_s") = BulkDocs / stepS.getOrElse("ingest.bulk", Double.NaN)
    res.detail("store_bytes_per_input_byte") = storeBytes.toDouble / inputBytes
    inputs("repeat_share") = repeats.toDouble / lat.size
    res.detail("cache_hit_share") = if (cachedN > 0) hits.toDouble / cachedN else 0.0

    tracer.foreach { t =>
      res.layer("search.cache_hit_share") = if (cachedN > 0) hits.toDouble / cachedN else 0.0
      res.layer("io.store_bytes_per_input_byte") = storeBytes.toDouble / inputBytes
      val idxBytes = dirBytes(Path.of(graft.search.VectorIndex.indexPath(store)))
      WriteSteps.foreach { s =>
        val st = t.report(s)
        Seq("wall_s" -> st.wall, "plan_s" -> st.plan, "driver_s" -> st.driver,
            "jobs" -> st.jobs.toDouble, "tasks" -> st.tasks.toDouble, "task_s" -> st.taskS,
            "util" -> st.util, "shuffle_mb" -> st.shuffleMb)
          .foreach { case (q, v) => res.layer(s"$s.$q") = v }
      }
      val all = t.report("")
      res.layer("io.pin.pins") = all.pinRdds.size
      res.layer("io.pin.pin_mb") = all.pinMb
      res.layer("io.pin.s") = all.pinS
      perKind.foreach { case (k, v) =>
        val st = t.report(s"search.$k")
        val n = math.max(1, st.spans).toDouble
        res.layer(s"search.$k.p50_s") = median(v.toSeq)
        Seq("plan_s" -> st.plan, "driver_s" -> st.driver, "jobs" -> st.jobs.toDouble,
            "tasks" -> st.tasks.toDouble, "read_mb" -> st.readMb)
          .foreach { case (q, x) => res.layer(s"search.$k.$q") = x / n }
        if (k == "ann" && idxBytes > 0)
          res.layer("search.ann.read_share") = st.readMb * Tracer.MB / n / idxBytes
      }
      t.detach()
      kernels(spark, bulkDir.toString, res)
      res.layer("search.ann.recall_at_10") = Main.runRecallCheck(spark, store, K, 2, 5)
        .flatMap(l => "\"mean_recall_pct\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toDouble / 100))
        .headOption.getOrElse(0.0)
    }
  }

  /** Kernel rates on the bulk batch, after the traced pass: each stage
    * runs over its pinned input, so a rate is that stage alone.
    */
  private def kernels(spark: SparkSession, bulkDir: String, res: Result): Unit = {
    import graft.chunk.Chunkers
    import graft.chunk.Chunkers.{ChunkerConfig, Strategy}
    def timed(n: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val c = n; (c, (System.nanoTime() - t0) / 1e9)
    }
    val raw = graft.ingest.Ingest.toDocuments(graft.ingest.Ingest.readBinaryDir(spark, bulkDir),
                                              lit(new Timestamp(1700000000000L)))
      .localCheckpoint(true)
    val (nDocs, convS) = timed(graft.ingest.Ingest.convertDocuments(raw).count())
    val text = graft.ingest.Ingest.convertDocuments(raw).filter(col("text").isNotNull)
      .select("doc_id", "text").localCheckpoint(true)
    val nText = text.count()
    val chunks = Chunkers.chunkDocuments(text, "doc_id", "text",
      ChunkerConfig(chunkSize = 200, chunkOverlap = 20, strategy = Strategy.Hybrid))
    val (_, chunkS) = timed(chunks.count())
    val pinned = chunks.localCheckpoint(true)
    val (nChunks, embedS) = timed(graft.embed.Embedding.embedChunks(pinned, Provider).count())
    val (_, sigS) = timed(graft.dedup.Dedup.minhashSignatures(text, "doc_id", "text", 4).count())
    res.layer("ingest.convert.docs_per_s") = nDocs / convS
    res.layer("chunk.docs_per_s") = nText / chunkS
    res.layer("embed.chunks_per_s") = nChunks / embedS
    res.layer("dedup.sig_docs_per_s") = nText / sigS
    graft.io.Pins.sweepAll(spark, blocking = true)
  }
}
