package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.stream.{Inbox, StatusStream}
import graft.stream.StatusStream.{JobState, StatusUpdate}

/** Streaming operators: the file-source inbox pipeline (ST1-ST2) and
  * the mapGroupsWithState status machine (ST3 strict variant).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("inbox: micro-batches run the FULL batch stages into the bucketed store") {
    val in = Files.createTempDirectory("graft_inbox").toFile
    val store = Files.createTempDirectory("graft_store").toFile
    Files.writeString(new java.io.File(in, "a.md").toPath,
      "# Doc A\n\nFirst sentence about spark. Second sentence!")
    Files.writeString(new java.io.File(in, "b.md").toPath,
      "# Doc B\n\nOther content here entirely. More words!")
    val q = Inbox.start(spark, in.getAbsolutePath, store.getAbsolutePath,
                        nowFn = () => ts("2025-01-01 00:00:00"))
    // AvailableNow terminates after draining; a false return means the
    // drain hung (e.g. a blocking metrics read on the stream thread) —
    // fail loudly, never fall through to asserts over half-built tables
    assert(q.awaitTermination(300000), "stream must drain and terminate")
    val docs = spark.read.parquet(s"$store/documents.parquet")
    val chunks = spark.read.parquet(s"$store/chunks.parquet")
    val emb = spark.read.parquet(s"$store/embeddings.parquet")
    assert(docs.count() == 2)
    assert(docs.filter($"status" === "failed").count() == 0)
    assert(chunks.count() >= 2)
    // chunk ids are globally unique (doc-prefixed)
    assert(chunks.select("chunk_id").distinct().count() == chunks.count())
    assert(emb.count() == chunks.count())
    assert(emb.select("embedding_provider").distinct().as[String].collect().toSeq == Seq("nomic"))
    // the streamed store IS the batch store: ledgered jobs, persisted
    // dedup signatures, and the co-bucketed layout whose J1/J3 joins
    // plan shuffle-free (StoreBucketingSpec's contract, held here too)
    assert(graft.io.Tables
      .latestByKey(spark.read.parquet(s"$store/jobs.parquet"),
                   Seq("job_id"), Seq($"updated_at"))
      .filter($"status" === "completed").count() == 2)
    assert(spark.read.parquet(s"$store/signatures.parquet")
      .select("doc").distinct().count() == 2)
    assert(graft.io.Tables.looksBucketed(s"$store/chunks.parquet"))
    assert(graft.io.Tables.looksBucketed(s"$store/embeddings.parquet"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Main.openTable(spark, store.toString, "chunks")
        .join(Main.openTable(spark, store.toString, "embeddings"), Seq("chunk_id"))
      assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
             joined.queryExecution.executedPlan.toString.take(3000))
      assert(joined.count() == emb.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("watch monitors: a duplicate-heavy inbox drain reports the planted hitter with its exact batch-sketch estimate") {
    import graft.stream.{DistinctMonitor, FrequencyMonitor}
    val in = Files.createTempDirectory("graft_mon_in").toFile
    val store = Files.createTempDirectory("graft_mon_store").toString
    val dup = "the same spammy payload delivered again and again"
    (0 until 6).foreach(i =>
      Files.writeString(new java.io.File(in, s"dup$i.txt").toPath, dup))
    val uniques = Seq("alpha unique content entirely",
                      "beta other unique content",
                      "gamma further unique content",
                      "delta last unique content")
    uniques.zipWithIndex.foreach { case (t, i) =>
      Files.writeString(new java.io.File(in, s"u$i.txt").toPath, t) }
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = Main.runWatch(spark, in.toString, store,
      emit = l => lines.synchronized { lines += l; () })
    assert(n === 10, "drain must land all ten uploads")

    def sha(s: String): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val plantedSha = sha(dup)
    val allShas = Seq.fill(6)(plantedSha) ++ uniques.map(sha)

    // the heavy-hitter line for the planted payload carries EXACTLY the
    // batch-sketch estimate over everything the stream saw — computed
    // here through the monitor's own pure driver twin (spec-pinned
    // bit-identical to graft.text.Profile.cmsSketch elsewhere)
    val counters = new Array[Long](4 * 1024)
    FrequencyMonitor.mergeTokens(counters, allShas.iterator, 4, 1024)
    val wantEst = FrequencyMonitor.estimate(counters, plantedSha, 4, 1024)
    assert(wantEst >= 6L)
    val hitterLines = lines.filter(_.contains("\"monitor\":\"hitter\""))
    assert(hitterLines.nonEmpty, lines.mkString("\n"))
    // emitted (est desc, token) per scope — the planted payload leads
    assert(hitterLines.head.contains(s""""token":"$plantedSha""""),
      hitterLines.mkString("\n"))
    assert(hitterLines.head.contains(s""""est_cnt":$wantEst""") &&
           hitterLines.head.contains("\"n_seen\":10"), hitterLines.head)

    // the distinct line: register estimate over the 5 DISTINCT payloads
    // beside the 10 raw arrivals — duplicate mass visible at a glance
    val (wantUsed, wantDistinct) =
      DistinctMonitor.estimate(DistinctMonitor.mergeKeys(Map.empty, allShas.iterator))
    val distinctLines = lines.filter(_.contains("\"monitor\":\"distinct\""))
    assert(distinctLines.nonEmpty, lines.mkString("\n"))
    assert(distinctLines.head.contains(s""""registers_used":$wantUsed""") &&
           distinctLines.head.contains(s""""est_distinct":$wantDistinct""") &&
           distinctLines.head.contains("\"n_seen\":10"), distinctLines.head)

    // the monitor lines SURVIVE the console: each micro-batch's
    // distinct/hitter estimates land in the store runlog under
    // monitor-scoped metric keys — "was the inbox spamming us last
    // Tuesday" is answerable from the table, with the same batch-sketch
    // values the lines printed
    val monLog = spark.read.parquet(s"$store/runlog.parquet")
      .filter($"stage" === "watch_monitor")
      .select($"metric", $"value").as[(String, Double)].collect().toSeq
    assert(monLog.exists(p => p._1.startsWith("hitter:") &&
                              p._1.endsWith(plantedSha) &&
                              p._2 == wantEst.toDouble),
      s"runlog must carry the planted hitter: $monLog")
    assert(monLog.exists(p => p._1.startsWith("distinct:") &&
                              p._2 == wantDistinct.toDouble),
      s"runlog must carry the distinct estimate: $monLog")
    // bounded rows per batch: scopes × (1 + capped candidates)
    assert(monLog.size < 20, s"monitor runlog rows must stay bounded: ${monLog.size}")
    // REPLAY idempotence: re-appending an already-committed batchId is
    // a no-op (the restart-after-crash window Structured Streaming
    // re-executes), while a NEW batchId appends — the marker advances
    // under the runlog lease
    val marker = s"$store/_monitor_checkpoint/_runlog_committed"
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get(marker)).trim.toLong
    val nBefore = spark.read.parquet(s"$store/runlog.parquet")
      .filter($"stage" === "watch_monitor").count()
    val replay = Seq(("watch_monitor", "distinct:replayed", 1.0))
      .toDF("stage", "metric", "value")
      .withColumn("run_at", org.apache.spark.sql.functions.current_timestamp())
    Main.appendRunlogFrameOnce(store, replay, marker, committed) // replayed id
    assert(spark.read.parquet(s"$store/runlog.parquet")
      .filter($"stage" === "watch_monitor").count() === nBefore,
      "a replayed batchId must not append again")
    Main.appendRunlogFrameOnce(store, replay, marker, committed + 1) // fresh id
    assert(spark.read.parquet(s"$store/runlog.parquet")
      .filter($"metric" === "distinct:replayed").count() === 1L,
      "a fresh batchId must append exactly once")

    // a SECOND drain of new files folds onto the checkpointed state:
    // n_seen grows past the first batch, the planted hitter persists
    // in the candidate set (it is still ≥ 2% of all arrivals)
    Files.writeString(new java.io.File(in, "late.txt").toPath,
      "an eleventh late unique arrival")
    val lines2 = scala.collection.mutable.ArrayBuffer.empty[String]
    Main.runWatch(spark, in.toString, store,
      emit = l => lines2.synchronized { lines2 += l; () })
    val hit2 = lines2.filter(_.contains("\"monitor\":\"hitter\""))
    assert(hit2.exists(l => l.contains(s""""token":"$plantedSha"""") &&
                            l.contains("\"n_seen\":11")),
      s"checkpointed monitor state must carry across drains:\n${lines2.mkString("\n")}")
  }

  test("inbox restart: checkpoint resumes exactly-once, no reprocessing") {
    val in = Files.createTempDirectory("graft_inbox2").toFile
    val store = Files.createTempDirectory("graft_store2").toFile
    val t1 = ts("2025-01-01 00:00:00")
    val t2 = ts("2025-01-01 01:00:00")
    Files.writeString(new java.io.File(in, "first.md").toPath,
      "First doc entirely about cooking recipes. One sentence!")
    assert(Inbox.start(spark, in.getAbsolutePath, store.getAbsolutePath,
                       nowFn = () => t1).awaitTermination(300000))
    assert(spark.read.parquet(s"$store/documents.parquet").count() == 1)
    // drop a second file and RESTART the query on the same checkpoint
    Files.writeString(new java.io.File(in, "second.md").toPath,
      "Second doc on distributed query planning. Also here!")
    assert(Inbox.start(spark, in.getAbsolutePath, store.getAbsolutePath,
                       nowFn = () => t2).awaitTermination(300000))
    val docs = spark.read.parquet(s"$store/documents.parquet")
    assert(docs.count() == 2)
    assert(docs.select("doc_id").distinct().count() == 2)
    // exactly-once evidence beyond upsert idempotence: the first doc's
    // row still carries the FIRST batch's stamp — a reprocessing second
    // batch would have re-upserted it at t2
    val stamps = docs.select($"filename", $"updated_at")
      .as[(String, Timestamp)].collect().toMap
    assert(stamps("first.md") == t1, s"first.md must not be reprocessed: $stamps")
    assert(stamps("second.md") == t2)
  }

  test("a duplicate arriving in a LATER micro-batch is demoted like the batch path") {
    import graft.ingest.Ingest
    import org.apache.spark.sql.functions.lit
    val in = Files.createTempDirectory("graft_inbox3").toFile
    val store = Files.createTempDirectory("graft_store3").toFile
    val content = "spark query engine performance tuning guide for training pipelines"
    // identical text under two names → keep-one ties on length, min
    // doc_id wins; pick names so the SECOND batch delivers the winner
    // (doc ids are sha256(base64(content) + filename))
    val candidates = (0 to 9).map(i => s"v$i.md")
    val ids = Ingest.toDocuments(
        candidates.map(n => (s"/x/$n", content.getBytes("UTF-8"))).toDF("path", "content"),
        lit(ts("2025-01-01 00:00:00")))
      .select($"filename", $"doc_id").as[(String, String)].collect().toMap
    val loser = candidates.maxBy(ids)
    val winner = candidates.minBy(ids)

    Files.writeString(new java.io.File(in, loser).toPath, content)
    assert(Inbox.start(spark, in.getAbsolutePath, store.getAbsolutePath,
                       nowFn = () => ts("2025-01-01 00:00:00"))
      .awaitTermination(300000))
    assert(spark.read.parquet(s"$store/chunks.parquet")
      .filter($"doc_id" === ids(loser)).count() > 0)

    Files.writeString(new java.io.File(in, winner).toPath, content)
    assert(Inbox.start(spark, in.getAbsolutePath, store.getAbsolutePath,
                       nowFn = () => ts("2025-01-01 01:00:00"))
      .awaitTermination(300000))
    val status = spark.read.parquet(s"$store/documents.parquet")
      .select($"doc_id", $"status").as[(String, String)].collect().toMap
    assert(status(ids(loser)) == "duplicate",
           s"stored doc must be demoted by the later near-dup: $status")
    assert(status(ids(winner)) != "duplicate")
    val dupMeta = spark.read.parquet(s"$store/documents.parquet")
      .filter($"doc_id" === ids(loser))
      .select($"metadata_json").as[String].head()
    assert(dupMeta == s"""{"duplicate_of":"${ids(winner)}"}""")
    // the demoted doc's batch-1 chunks/embeddings/signatures are pruned
    val chunks = spark.read.parquet(s"$store/chunks.parquet")
    assert(chunks.filter($"doc_id" === ids(loser)).count() == 0)
    assert(chunks.filter($"doc_id" === ids(winner)).count() > 0)
    assert(spark.read.parquet(s"$store/embeddings.parquet")
      .filter($"chunk_id".startsWith(ids(loser))).count() == 0)
    assert(spark.read.parquet(s"$store/signatures.parquet")
      .filter($"doc" === ids(loser)).count() == 0)
  }

  test("inbox under ProcessingTime: a LONG-RUNNING consumer drains files across real micro-batches") {
    // the reference's actual queue shape is a resident consumer task
    // (document_processor.py:76-94), not a drain-and-exit job —
    // AvailableNow covers the latter; this drives the former: one
    // running query, files arriving WHILE it runs, stopped explicitly.
    // processAllAvailable() is the sync primitive (it rethrows stream-
    // thread failures and cannot park forever the way a blocking read
    // inside foreachBatch can — see the inbox drain-hang note above).
    val in = Files.createTempDirectory("graft_inbox4").toFile
    val store = Files.createTempDirectory("graft_store4").toFile
    val t1 = ts("2025-01-01 00:00:00")
    val t2 = ts("2025-01-01 01:00:00")
    @volatile var now = t1
    Files.writeString(new java.io.File(in, "first.md").toPath,
      "First doc entirely about cooking recipes. One sentence!")
    val q = Inbox.start(spark, in.getAbsolutePath, store.getAbsolutePath,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"),
      nowFn = () => now)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$store/documents.parquet").count() == 1)
      // second file lands while the consumer is LIVE → a later real
      // micro-batch picks it up under the second stamp
      now = t2
      Files.writeString(new java.io.File(in, "second.md").toPath,
        "Second doc on distributed query planning. Also here!")
      q.processAllAvailable()
    } finally q.stop()
    val docs = spark.read.parquet(s"$store/documents.parquet")
    assert(docs.count() == 2)
    assert(docs.filter($"status" === "failed").count() == 0)
    // per-file stamps prove two DISTINCT micro-batches ran, and that
    // the second did not re-upsert the first file (same exactly-once
    // evidence as the restart test, now within one running query)
    val stamps = docs.select($"filename", $"updated_at")
      .as[(String, Timestamp)].collect().toMap
    assert(stamps("first.md") == t1, s"first.md reprocessed: $stamps")
    assert(stamps("second.md") == t2)
    // the resident consumer commits the same store layout as the batch
    // path: completed ledger rows and the co-bucketed tables
    assert(graft.io.Tables
      .latestByKey(spark.read.parquet(s"$store/jobs.parquet"),
                   Seq("job_id"), Seq($"updated_at"))
      .filter($"status" === "completed").count() == 2)
    assert(graft.io.Tables.looksBucketed(s"$store/chunks.parquet"))
    assert(graft.io.Tables.looksBucketed(s"$store/embeddings.parquet"))
  }

  test("status stream: per-job state machine over micro-batches, illegal transitions dropped") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StatusUpdate]
    val query = StatusStream.run(mem.toDS())
      .writeStream.format("memory").queryName("job_states")
      .outputMode(OutputMode.Update()).start()

    mem.addData(
      StatusUpdate("j1", "running", ts("2025-01-01 00:01:00"), None),
      StatusUpdate("j2", "cancelled", ts("2025-01-01 00:01:00"), None))
    query.processAllAvailable()
    mem.addData(
      StatusUpdate("j1", "completed", ts("2025-01-01 00:02:00"), None),
      StatusUpdate("j2", "running", ts("2025-01-01 00:02:00"), None)) // illegal: cancelled absorbs
    query.processAllAvailable()

    val states = spark.table("job_states").as[JobState].collect()
      .groupBy(_.job_id).view.mapValues(_.maxBy(_.updated_at.getTime)).toMap
    assert(states("j1").status == "completed")
    assert(states("j1").started_at.contains(ts("2025-01-01 00:01:00")))
    assert(states("j1").completed_at.contains(ts("2025-01-01 00:02:00")))
    assert(states("j2").status == "cancelled")
    assert(states("j2").n_transitions == 1) // illegal update did not count
    query.stop()
  }

  test("distinct monitor: the stream's running estimate is bit-identical to re-sketching everything seen") {
    import graft.stream.DistinctMonitor
    import graft.stream.DistinctMonitor.{Arrival, DistinctEstimate}
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Arrival]
    val query = DistinctMonitor.run(mem.toDS())
      .writeStream.format("memory").queryName("distinct_est")
      .outputMode(OutputMode.Update()).start()

    val batch1 = (1 to 900).map(i => Arrival("s", s"u${i % 400}"))
    val batch2 = (1 to 900).map(i => Arrival("s", s"u${i % 700}")) // 300 new keys
    mem.addData(batch1: _*)
    query.processAllAvailable()
    mem.addData(batch2: _*)
    query.processAllAvailable()
    query.stop()

    val est = spark.table("distinct_est").as[DistinctEstimate].collect()
      .filter(_.scope == "s").maxBy(_.n_seen)
    // batch twin: one sketch over EVERYTHING the stream has seen
    val twin = graft.text.Profile.distinctSketch(
        (batch1 ++ batch2).map(a => (a.scope, a.key)).toDF("scope", "key"),
        "scope", "key")
      .select("registers_used", "est_distinct", "n_tokens")
      .as[(Long, Long, Long)].head()
    assert((est.registers_used, est.est_distinct, est.n_seen) == twin,
           s"stream=$est twin=$twin")
  }

  test("distinct monitor fold: merge-order-invariant; state bounded at 256 registers (pure unit)") {
    import graft.stream.DistinctMonitor
    val keys = (1 to 5000).map(i => s"k${i % 1700}")
    val oneShot = DistinctMonitor.mergeKeys(Map.empty, keys.iterator)
    // any batching converges to the same registers
    val batched = keys.grouped(137).foldLeft(Map.empty[Int, Long]) {
      (st, b) => DistinctMonitor.mergeKeys(st, b.iterator)
    }
    val reversed = keys.reverse.grouped(911).foldLeft(Map.empty[Int, Long]) {
      (st, b) => DistinctMonitor.mergeKeys(st, b.iterator)
    }
    assert(batched == oneShot && reversed == oneShot)
    assert(oneShot.size <= 256, s"state must stay bounded: ${oneShot.size}")
    // the fold's registers equal the engine-side register table
    val engine = graft.text.Profile.hllRegisters(
        keys.map(("s", _)).toDF("scope", "key"), "scope", "key")
      .selectExpr("CAST(bucket AS INT)", "m_reg")
      .as[(Int, Long)].collect().toMap
    assert(oneShot == engine)
  }

  test("frequency monitor: stream heavy hitters match the batch CMS over everything seen; tail never reported") {
    import graft.stream.FrequencyMonitor
    import graft.stream.FrequencyMonitor.{Arrival, HeavyHitter}
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Arrival]
    val query = FrequencyMonitor.run(mem.toDS())
      .writeStream.format("memory").queryName("freq_hitters")
      .outputMode(OutputMode.Update()).start()

    // batch 1: "hot" is 30% of mass. batch 2 is 20× the size, carried
    // by "warm" (~6%) and a long unique tail — it DILUTES "hot" (300
    // of 20,900 ≈ 1.4%) below the 2% gate without another arrival, so
    // decay is actually exercised: candidates re-gate on CURRENT
    // totals, never their entry-time share.
    val batch1 = (1 to 300).map(_ => Arrival("s", "hot")) ++
      (1 to 700).map(i => Arrival("s", s"tail$i"))
    val batch2 = (1 to 1200).map(_ => Arrival("s", "warm")) ++
      (1 to 18700).map(i => Arrival("s", s"tail${700 + i}"))
    mem.addData(batch1: _*)
    query.processAllAvailable()
    mem.addData(batch2: _*)
    query.processAllAvailable()
    query.stop()

    val out = spark.table("freq_hitters").as[HeavyHitter].collect()
      .filter(_.scope == "s")
    // after batch 1 (n=1000, gate 20): "hot" alone
    assert(out.filter(_.n_seen == 1000L).map(_.token).toSet == Set("hot"),
      out.toSeq.mkString("\n"))
    // after batch 2 (n=20900, gate 418): "warm" reports, "hot" DECAYED
    val last = out.filter(_.n_seen == 20900L)
    assert(last.map(_.token).toSet == Set("warm"),
      s"hot must decay below the re-evaluated gate: ${last.toSeq}")
    // bit-identical to the batch sketch probed over EVERYTHING seen
    val everything = (batch1 ++ batch2).map(a => a.token).toDF("token")
    val sketch = graft.text.Profile.cmsSketch(everything, "token")
    val batchEst = graft.text.Profile.cmsEstimate(
        sketch, Seq("hot", "warm").toDF("token"), "token")
      .as[(String, Long)].collect().toMap
    last.foreach { h =>
      assert(h.est_cnt == batchEst(h.token),
        s"stream est must equal the batch sketch: $h vs ${batchEst(h.token)}")
    }
    // the decayed token really is below the gate on the final totals
    // (one-sided: est ≥ 300 true, but far under 418)
    assert(batchEst("hot") * 50 < 20900L,
      s"fixture drift: hot is not below the gate (${batchEst("hot")})")
    // a uniform tail token is never a heavy hitter (CMS error is
    // one-sided but bounded far below the 2% gate at w=1024)
    assert(!out.exists(_.token.startsWith("tail")), out.toSeq.mkString("\n"))
  }

  test("frequency monitor fold: counter sums are order-invariant and equal the engine's sketch (pure unit)") {
    import graft.stream.FrequencyMonitor
    val toks = (1 to 4000).map(i => s"t${i % 37}")
    val a = new Array[Long](4 * 1024)
    FrequencyMonitor.mergeTokens(a, toks.iterator, 4, 1024)
    val b = new Array[Long](4 * 1024)
    toks.reverse.grouped(311).foreach(g =>
      FrequencyMonitor.mergeTokens(b, g.iterator, 4, 1024))
    assert(a.sameElements(b), "counter fold must be order-invariant")
    // the fold's counters equal the engine-side sketch table
    val engine = graft.text.Profile.cmsSketch(toks.toDF("token"), "token")
      .selectExpr("CAST(j AS INT)", "CAST(bucket AS INT)", "cnt")
      .as[(Int, Int, Long)].collect()
      .map { case (j, bkt, c) => (j * 1024 + bkt, c) }.toMap
    a.zipWithIndex.foreach { case (c, i) =>
      assert(c == engine.getOrElse(i, 0L), s"counter $i: $c vs engine")
    }
    // pack/unpack round-trips the full table
    assert(FrequencyMonitor.unpack(FrequencyMonitor.pack(a), a.length)
      .sameElements(a))
    // a counter past the 48-bit field SATURATES instead of throwing —
    // a require here would crash the state update on every restart
    // from the checkpoint, wedging the query forever; negatives (a
    // corrupt fold) still fail loudly
    val over = Array(FrequencyMonitor.CounterMax + 5L, 3L)
    assert(FrequencyMonitor.unpack(FrequencyMonitor.pack(over), 2)
      .sameElements(Array(FrequencyMonitor.CounterMax, 3L)),
      "overflow must saturate at the packed ceiling")
    intercept[IllegalArgumentException] {
      FrequencyMonitor.pack(Array(-1L))
    }
    // the reserved separator is rejected, not silently folded
    intercept[IllegalArgumentException] {
      FrequencyMonitor.mergeTokens(a, Iterator("badtok"), 4, 1024)
    }
  }

  test("watermarked tumbling window emits finalized windows, drops late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDS().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .count()
    val q = agg.writeStream.format("memory").queryName("ev_windows")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts("2025-01-01 10:00:00"), "click"), (ts("2025-01-01 10:05:00"), "click"))
    q.processAllAvailable()
    mem.addData((ts("2025-01-01 11:00:00"), "view"))
    q.processAllAvailable()
    // watermark advances on the NEXT batch: trigger one more
    mem.addData((ts("2025-01-01 11:30:00"), "view"))
    q.processAllAvailable()
    val rows = spark.table("ev_windows")
      .select(col("window.start").cast("string"), col("event_type"), col("count"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("2025-01-01 10:00:00", "click", 2L)), rows.toString)
    q.stop()
  }

  test("session windows: gap merge within a session, finalize at the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val agg = graft.stream.Sessions.sessionCounts(
      mem.toDS().toDF("ts", "user_id"), "ts", "user_id",
      gap = "5 minutes", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    // user 1: two events 3 min apart (one session), then a 17-min gap
    // (a second session); user 2: one event. The bridging second event
    // arrives in a LATER micro-batch and must merge into the open
    // session, extending its end.
    mem.addData((ts("2025-01-01 10:00:00"), 1L), (ts("2025-01-01 10:01:00"), 2L))
    q.processAllAvailable()
    mem.addData((ts("2025-01-01 10:03:00"), 1L))
    q.processAllAvailable()
    mem.addData((ts("2025-01-01 10:20:00"), 1L))
    q.processAllAvailable()
    // advance the watermark far enough to finalize everything
    mem.addData((ts("2025-01-01 11:00:00"), 9L))
    q.processAllAvailable()
    val rows = spark.table("sessions")
      .select(col("user_id"), col("session_start").cast("string"),
              col("session_end").cast("string"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
                           r.getLong(3))).toSet
    // session end = last event + gap; the cross-batch merge must yield
    // ONE session of 2 events for user 1's first burst, not two
    assert(rows.contains((1L, "2025-01-01 10:00:00", "2025-01-01 10:08:00", 2L)),
           rows.toString)
    assert(rows.contains((1L, "2025-01-01 10:20:00", "2025-01-01 10:25:00", 1L)),
           rows.toString)
    assert(rows.contains((2L, "2025-01-01 10:01:00", "2025-01-01 10:06:00", 1L)),
           rows.toString)
    assert(!rows.exists(r => r._1 == 1L && r._4 == 1L &&
                             r._2 == "2025-01-01 10:03:00"),
           s"bridging event must merge, not open its own session: $rows")
    q.stop()
  }

  test("session state PLATEAUS at the watermark horizon while the archive grows") {
    // the bounded-state claim, measured: 4 waves of events 2 h apart
    // (past gap + watermark) — cumulative events/emitted sessions grow
    // linearly, state rows stay within the horizon (~2×keys: the newest
    // wave's open sessions + the previous wave's not-yet-finalized
    // ones), never the archive
    val pts = Probe.sessionStateCurve(spark, keys = 40,
                                      eventsPerKey = 5, waves = 4)
    val last = pts.last
    assert(last.totalEvents == 4L * 40 * 5)
    assert(last.emitted >= 2L * 40,
           s"waves past the watermark must finalize: $pts")
    assert(last.stateRows <= 2L * 40 + 10,
           s"state must hold the watermark horizon, not the archive: $pts")
    // and the plateau: state at wave 4 is no bigger than at wave 2
    assert(last.stateRows <= pts(1).stateRows + 10,
           s"state must plateau across waves: $pts")
  }

  test("stream-static join: micro-batches enriched against a dimension table") {
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    // dimension side is a plain batch DF — Spark broadcasts/joins it
    // per micro-batch; at scale this is the streaming fact ⋈ small dim
    // pattern (dim re-read each batch, so slowly-changing dims refresh)
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    val mem = MemoryStream[(Long, Long)]
    val enriched = mem.toDS().toDF("user_id", "amount")
      .join(dim, Seq("user_id"), "left")
      .groupBy(col("segment")).agg(sum(col("amount")).as("total"))
    val q = enriched.writeStream.format("memory").queryName("seg_totals")
      .outputMode(OutputMode.Complete()).start()
    mem.addData((1L, 10L), (2L, 5L), (3L, 7L)) // 3 has no dim row
    q.processAllAvailable()
    mem.addData((1L, 30L))
    q.processAllAvailable()
    val rows = spark.table("seg_totals")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(rows(Some("gold")) == 40L)
    assert(rows(Some("basic")) == 5L)
    assert(rows(None) == 7L) // unmatched keys survive the left join
    q.stop()
  }

  test("streaming dedup: watermarked dropDuplicates across micro-batches") {
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val deduped = mem.toDS().toDF("ts", "event_id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_ev")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts("2025-01-01 10:00:00"), 1L), (ts("2025-01-01 10:00:30"), 1L),
                (ts("2025-01-01 10:01:00"), 2L))
    q.processAllAvailable()
    // same id re-sent in a later batch, still inside the watermark state
    mem.addData((ts("2025-01-01 10:02:00"), 1L), (ts("2025-01-01 10:03:00"), 3L))
    q.processAllAvailable()
    val ids = spark.table("dedup_ev").select(col("event_id"))
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"exactly-once per event_id, got $ids")
    q.stop()
  }

  test("applyUpdates fold: timestamp-ordered, terminal absorbs (pure unit)") {
    val updates = Iterator(
      StatusUpdate("j", "completed", ts("2025-01-01 00:03:00"), None),
      StatusUpdate("j", "running", ts("2025-01-01 00:01:00"), None),
      StatusUpdate("j", "failed", ts("2025-01-01 00:04:00"), Some("late"))) // after terminal
    val st = StatusStream.applyUpdates("j", updates, None)
    assert(st.status == "completed")
    assert(st.error_message.isEmpty)
    assert(st.n_transitions == 2)
  }

  test("DedupMonitor: per-window totals vs first-seen counts expose the dup mass") {
    import org.apache.spark.sql.functions._
    import graft.stream.DedupMonitor
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val (totals, uniques) = DedupMonitor.windowCounts(
      mem.toDS().toDF("ts", "content_key"), "ts", "content_key")
    val qt = totals.writeStream.format("memory").queryName("mon_totals")
      .outputMode(OutputMode.Append()).start()
    val qu = uniques.writeStream.format("memory").queryName("mon_uniques")
      .outputMode(OutputMode.Append()).start()
    // window [10:00, 10:15): 4 arrivals, 2 distinct keys (a re-sent
    // twice across batches, b once) -> dup mass 2
    mem.addData((ts("2025-01-01 10:00:00"), "a"), (ts("2025-01-01 10:01:00"), "a"),
                (ts("2025-01-01 10:02:00"), "b"))
    qt.processAllAvailable(); qu.processAllAvailable()
    mem.addData((ts("2025-01-01 10:03:00"), "a")) // later batch, same key
    qt.processAllAvailable(); qu.processAllAvailable()
    // advance the watermark far enough to finalize the window
    mem.addData((ts("2025-01-01 11:00:00"), "z"))
    qt.processAllAvailable(); qu.processAllAvailable()
    mem.addData((ts("2025-01-01 11:30:00"), "z2"))
    qt.processAllAvailable(); qu.processAllAvailable()
    val tot = spark.table("mon_totals")
      .select(col("window_start").cast("string"), col("n_total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val uni = spark.table("mon_uniques")
      .select(col("window_start").cast("string"), col("n_unique"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tot("2025-01-01 10:00:00") == 4L, tot.toString)
    assert(uni("2025-01-01 10:00:00") == 2L, uni.toString)
    qt.stop(); qu.stop()
  }

  test("a stored vector index follows the streaming inbox: each micro-batch reconciles it") {
    import graft.search.VectorIndex
    val in = Files.createTempDirectory("graft_inbox_vidx").toFile
    val store = Files.createTempDirectory("graft_store_vidx").toFile
    Files.writeString(new java.io.File(in, "a.md").toPath,
      "spark query engine performance and shuffle tuning")
    val q1 = Inbox.start(spark, in.getAbsolutePath, store.getAbsolutePath,
                         nowFn = () => ts("2025-01-01 00:00:00"))
    assert(q1.awaitTermination(300000))
    // index built between streaming runs (the operator's build step)
    Main.runBuildVectorIndex(spark, store.toString, "nomic", nlist = 2)
    def mirror(): Unit = {
      val storeIds = spark.read.parquet(s"$store/embeddings.parquet")
        .filter($"embedding_provider" === "nomic")
        .select($"chunk_id").as[String].collect().toSet
      val idxIds = spark.read
        .parquet(VectorIndex.indexPath(store.toString))
        .select($"chunk_id").as[String].collect().toSet
      assert(idxIds == storeIds,
             s"index must mirror the store slice: $idxIds vs $storeIds")
    }
    mirror()
    // new docs arrive THROUGH THE STREAM: the foreachBatch ingest
    // stages must reconcile the index under the streaming clone
    // session, exactly like the batch driver
    Files.writeString(new java.io.File(in, "b.md").toPath,
      "unrelated cooking recipe with butter and flour")
    Files.writeString(new java.io.File(in, "c.md").toPath,
      "violin concerto in d major sheet music")
    val q2 = Inbox.start(spark, in.getAbsolutePath, store.getAbsolutePath,
                         nowFn = () => ts("2025-01-01 00:01:00"))
    assert(q2.awaitTermination(300000))
    mirror()
    // and the served probe still answers over the streamed rows
    val hits = Main.runSearchAnn(spark, store.toString,
                                 "spark query engine performance", k = 1,
                                 nprobe = 8)
    assert(hits.nonEmpty && hits.head.contains("spark"), hits.toString)
  }
}
