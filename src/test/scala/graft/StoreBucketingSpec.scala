package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.io.Tables
import graft.search.Ann

/** The persisted-store scale layout: chunks/embeddings co-bucketed by
  * chunk_id (J1/J3 joins over STORED tables plan shuffle-free — what
  * BucketingSpec proves in-memory, held by the store itself), and the
  * IVF index partitioned by cell on disk (the nprobe probe is a
  * partition-pruned read, not a full scan + filter).
  */
class StoreBucketingSpec extends SparkSpec {
  import spark.implicits._

  private val now = Timestamp.valueOf("2025-06-01 12:00:00")

  test("openBucketed reads a table named by a path relative to the working directory") {
    // a relative LOCATION would resolve against the warehouse dir and
    // read an empty table; the files live under the working directory
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val dir = Files.createTempDirectory(cwd, "graft_relbkt")
    try {
      Tables.writeBucketed((1 to 20).map(i => (s"c$i", i.toLong)).toDF("chunk_id", "v"),
                           dir.resolve("t.parquet").toString, "chunk_id", 4)
      val rel = cwd.relativize(dir.resolve("t.parquet")).toString
      val got = Tables.openBucketed(spark, "graft_relbkt", rel, "chunk_id", 4)
      assert(got.count() == 20L)
      spark.sql("DROP TABLE IF EXISTS `graft_relbkt`")
    } finally Tables.rmTree(dir.toFile)
  }

  test("store chunks ⋈ embeddings: bucketed on disk, join plans with no shuffle") {
    val in = Files.createTempDirectory("graft_bkt_in").toFile
    val store = Files.createTempDirectory("graft_bkt_store").toString
    (1 to 6).foreach { i =>
      Files.write(new java.io.File(in, s"doc$i.txt").toPath,
        s"document number $i about spark shuffle and partitioning topic $i".getBytes("UTF-8"))
    }
    Main.runIngest(spark, in.toString, store, "nomic", now)

    assert(Tables.looksBucketed(s"$store/chunks.parquet"),
           "chunk files must carry bucket-id names")
    assert(Tables.looksBucketed(s"$store/embeddings.parquet"),
           "embedding files must carry bucket-id names")

    val chunks = Main.openTable(spark, store, "chunks")
    val emb = Main.openTable(spark, store, "embeddings")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = chunks.join(emb, Seq("chunk_id"))
      assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
             joined.queryExecution.executedPlan.toString.take(3000))
      assert(joined.count() > 0)
      // J1 cache probe over the stored tables: equally shuffle-free
      val misses = chunks.join(emb, Seq("chunk_id"), "left_anti")
      assert(!misses.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(misses.count() == 0, "everything ingested this run is embedded")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // second ingest over the same store exercises the cache-aside path
    // reading the bucketed tables and the bucketed upsert rewrite
    val report2 = Main.runIngest(spark, in.toString, store, "nomic", now)
    assert(report2.nDocs == 6)
    assert(Tables.looksBucketed(s"$store/chunks.parquet"), "bucketing survives upsert")
  }

  test("openTable: snapshot and live roots register DISTINCT catalog entries; a held live frame never re-resolves to the snapshot") {
    val in1 = Files.createTempDirectory("graft_cat_in1").toFile
    val in2 = Files.createTempDirectory("graft_cat_in2").toFile
    val store = Files.createTempDirectory("graft_cat_store").toString
    Files.write(new java.io.File(in1, "one.txt").toPath,
      "first document about spark shuffle partitioning".getBytes("UTF-8"))
    Files.write(new java.io.File(in2, "two.txt").toPath,
      "second later document about broadcast joins".getBytes("UTF-8"))
    Main.runIngest(spark, in1.toString, store, "nomic", now)
    graft.io.Snapshots.create(store, "s1")
    Main.runIngest(spark, in2.toString, store, "nomic",
                   Timestamp.from(now.toInstant.plusMillis(10)))
    // open LIVE first, snapshot second: with a shared catalog name the
    // snapshot open's DROP/CREATE would re-point the live frame's
    // relation — the path-hashed names keep the two resolutions apart
    val live = Main.openTable(spark, store, "documents".replace("documents", "chunks"))
    val snapRoot = graft.io.Snapshots.openRoot(store, "s1")
    val snap = Main.openTable(spark, snapRoot, "chunks")
    val nSnap = snap.count()
    val nLive = live.count() // collected AFTER the snapshot open
    assert(nLive > nSnap,
      s"live ($nLive) must outcount the snapshot ($nSnap) — a shared " +
        "catalog name would have re-resolved the held frame")
  }

  test("export: JSONL shards round-trip the deduped training surface") {
    val in = Files.createTempDirectory("graft_exp_in").toFile
    val store = Files.createTempDirectory("graft_exp_store").toString
    val out = Files.createTempDirectory("graft_exp_out").toString
    (1 to 4).foreach { i =>
      Files.write(new java.io.File(in, s"doc$i.txt").toPath,
        s"export fixture text number $i with several distinct words".getBytes("UTF-8"))
    }
    Main.runIngest(spark, in.toString, store, "nomic", now)
    val (n, missing) = Main.runExport(spark, store, out, "nomic")
    val nChunks = spark.read.parquet(s"$store/chunks.parquet").count()
    assert(n == nChunks, s"every stored chunk exports exactly once ($n vs $nChunks)")
    assert(missing == 0)

    // a provider nothing was embedded with must be REPORTED, not a
    // silent empty corpus
    val out2 = Files.createTempDirectory("graft_exp_out2").toString
    val (n2, missing2) = Main.runExport(spark, store, out2, "no_such_provider")
    assert(n2 == 0 && missing2 == nChunks,
           s"unmatched chunks must be counted ($n2, $missing2)")

    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("chunk_id", StringType), StructField("doc_id", StringType),
      StructField("content", StringType), StructField("n_tokens", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val back = Tables.readJsonl(spark, s"$out/chunks", schema).cache()
    assert(back.count() == n)
    assert(back.filter($"corrupt_record".isNotNull).count() == 0)
    val row = back.filter($"n_tokens" > 0).head()
    assert(row.getSeq[Float](row.fieldIndex("embedding")).nonEmpty)
  }

  test("all-failed ingest leaves a readable (empty) store, and recovers") {
    val in = Files.createTempDirectory("graft_fail_in").toFile
    val store = Files.createTempDirectory("graft_fail_store").toString
    Files.write(new java.io.File(in, "nope.xyz").toPath,
                "no extractor for this".getBytes("UTF-8"))
    val r = Main.runIngest(spark, in.toString, store, "nomic", now)
    assert(r.nFailed == 1 && r.nChunks == 0)
    // empty bucketed write must fall back to a schema-bearing plain
    // file — the store stays readable, not wedged
    assert(spark.read.parquet(s"$store/chunks.parquet").count() == 0)
    assert(Main.openTable(spark, store, "chunks").count() == 0)

    // a later good ingest over the same store succeeds and bucketing kicks in
    Files.write(new java.io.File(in, "good.txt").toPath,
                "a perfectly convertible text document".getBytes("UTF-8"))
    val r2 = Main.runIngest(spark, in.toString, store, "nomic", now)
    assert(r2.nChunks > 0)
    assert(Tables.looksBucketed(s"$store/chunks.parquet"))
  }

  test("stored IVF index: probe is a partition-pruned read matching the in-memory probe") {
    val dims = 8
    val emb = (0L until 60L).map { i =>
      (i, (0 until dims).map(d => ((i % 5).toFloat - 2f) * (d + 1) / 10f))
    }.toDF("vec_id", "embedding")
    val centroids: Seq[(Long, Seq[Long])] = (0L until 5L).map { c =>
      (c, (0 until dims).map(d => (c - 2L) * (d + 1) * 100L))
    }
    val assigned = Ann.ivfAssignInt(emb, "embedding", centroids)
      .select($"vec_id", $"embedding", $"cell")
    val path = Files.createTempDirectory("graft_ivf_idx").toString + "/index"
    Ann.ivfWriteIndex(assigned, path)

    val qv: Seq[Long] = (0 until dims).map(d => 150L * (d + 1))
    val stored = Ann.ivfTopKStoredInt(spark, path, "vec_id", "embedding",
                                      centroids, qv, k = 5, nprobe = 2)
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(3000))
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*IN.*"),
           "cell probe must prune partitions: " + plan.take(3000))

    val inMem = Ann.ivfTopKInt(assigned, "vec_id", "embedding",
                               centroids, qv, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = stored.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == inMem.toSeq, s"stored probe must equal in-memory: $got vs $inMem")
  }
}
