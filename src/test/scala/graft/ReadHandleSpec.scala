package graft

import java.io.File
import java.lang.ref.WeakReference
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Snapshots, Tables}
import graft.search.{Ann, Search, VectorIndex}

/** Freshness of the session read handle ([[Tables.handle]]): after each
  * kind of write the store makes, the next read through the handle
  * returns exactly the rows a fresh `spark.read.parquet` returns, and a
  * read with no write in between starts no Spark job. The serving
  * guard pins that warm search requests re-resolve nothing.
  *
  * Runs in its own JVM (see build.sbt): the last test stops the
  * session and starts another.
  */
class ReadHandleSpec extends AnyFunSuite {

  private def newSession(): SparkSession = Session.builder(2)
    .config("spark.sql.warehouse.dir", tmp("graft_rh_wh"))
    .getOrCreate()

  private var spark: SparkSession = newSession()
  private val now = Timestamp.valueOf("2025-06-01 12:00:00")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** The handle's frame holds exactly the rows of a fresh read. */
  private def assertFresh(handle: DataFrame, path: String): Unit =
    assert(rows(handle) == rows(spark.read.parquet(path)), s"stale frame for $path")

  /** Short call sites of the jobs `body` starts. */
  private def jobSites[A](body: => A): (A, Seq[String]) =
    SparkSpec.jobSites(spark)(body)

  /** A small served store: ingest, postings and vector index. */
  private def builtStore(): String = {
    val in = new File(tmp("graft_rh_in"))
    val store = tmp("graft_rh_store")
    Seq("spark.md" -> "spark query engine performance tuning guide",
        "shuffle.md" -> "distributed shuffle partitioning strategies for spark",
        "cook.md" -> "cooking recipe with butter and flour for bread",
        "sail.md" -> "sailing boats and knots on a windy lake",
        "index.md" -> "vector index probes and cell balancing maintenance")
      .foreach { case (n, t) => Files.writeString(new File(in, n).toPath, t) }
    Main.runIngest(spark, in.toString, store, "nomic", now)
    Main.runBuildPostings(spark, store, 8)
    Main.runBuildVectorIndex(spark, store, "nomic", 2)
    store
  }
  private lazy val store = builtStore()

  test("writeTable swap commit: both openTable branches re-open after an ingest batch") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_rh_swap")
    def batch(ids: Range, v: String) =
      ids.map(i => (s"c$i", s"d$i", s"$v text $i")).toDF("chunk_id", "doc_id", "content")
    // chunks is co-bucketed (catalog open), documents a plain read
    Seq("chunks", "documents").foreach { t =>
      val path = s"$dir/$t.parquet"
      Main.writeTable(spark, batch(0 until 20, "a"), dir, t, Seq("chunk_id"), Seq(lit(1)))
      val first = Main.openTable(spark, dir, t)
      assertFresh(first, path)
      assert(Main.openTable(spark, dir, t) eq first, s"$t: no write, same frame")
      Main.writeTable(spark, batch(10 until 30, "b"), dir, t, Seq("chunk_id"), Seq(lit(1)))
      val second = Main.openTable(spark, dir, t)
      assert(!(second eq first), s"$t: a commit must re-open")
      assertFresh(second, path)
      assert(second.count() == 30L)
      assert(second.filter($"chunk_id" === "c15").select($"content").as[String].head()
             == "b text 15")
    }
  }

  test("in-place append: the search cache re-opens after runSearchCached appends a miss") {
    val path = s"$store/search_cache.parquet"
    val (_, hit1) = Main.runSearchCached(spark, store, "spark tuning", "nomic", 3)
    assert(!hit1)
    val before = Tables.read(spark, path)
    assertFresh(before, path)
    val (_, hit2) = Main.runSearchCached(spark, store, "boats on a lake", "nomic", 3)
    assert(!hit2)
    val after = Tables.read(spark, path)
    assertFresh(after, path)
    assert(after.count() > before.count(), "the appended miss must be visible")
    assert(Main.runSearchCached(spark, store, "boats on a lake", "nomic", 3)._2,
           "the appended entry must serve the repeat")
  }

  test("postings append and removal: index and norms re-open") {
    val s = spark
    import s.implicits._
    val path = s"${tmp("graft_rh_post")}/postings.idx"
    val norms = s"$path.norms"
    def docs(xs: (String, String)*) = xs.toDF("chunk_id", "content")
    Search.writePostings(docs("a" -> "spark table join", "b" -> "vector index probe"),
                         "chunk_id", "content", path, 8)
    assertFresh(Tables.read(spark, path), path)
    assertFresh(Tables.read(spark, norms), norms)
    Search.appendPostings(spark, docs("c" -> "zebra crossing signal"),
                          "chunk_id", "content", path)
    assertFresh(Tables.read(spark, path), path)
    assertFresh(Tables.read(spark, norms), norms)
    assert(Search.phraseOccurrencesStored(spark, path, "chunk_id", "zebra crossing")
             .count() == 1L)
    Search.removeFromPostings(spark, docs("a" -> "spark table join"),
                              "chunk_id", "content", path)
    assertFresh(Tables.read(spark, path), path)
    assertFresh(Tables.read(spark, norms), norms)
    assert(Search.phraseOccurrencesStored(spark, path, "chunk_id", "table join")
             .count() == 0L)
    assert(Search.bm25LogTopKStored(spark, path, "chunk_id", "spark zebra")
             .select($"chunk_id").as[String].collect().toSeq == Seq("c"))
  }

  test("vector index: reconcile and balance re-open the stored probe's handle") {
    val s = spark
    import s.implicits._
    val dims = 64
    val cents = (0L until 5L).map(c => (c, (0 until dims).map(d => if (d == 8 * c) 1000L else 0L)))
    // cells 0-3 hold two angular subgroups (splittable), as in IvfMaintenanceSpec
    def vec(i: Long): Seq[Float] = (0 until dims).map { d =>
      val c = (i % 5).toInt
      if (d == 8 * c) 1f
      else if (d == 5 && c != 4) (if (i % 10 < 5) 0.4f else -0.4f)
      else ((i * 31 + d * 17) % 13 - 6).toFloat / 1000f
    }
    def slice(ids: Seq[Long]) = ids.map(i => (s"c$i", vec(i))).toDF("chunk_id", "embedding")
    val path = s"${tmp("graft_rh_vidx")}/vector.idx"
    VectorIndex.writeMeta(path, VectorIndex.Meta("nomic", 8, dims, 8, 8, 50, 2, cents, cents))
    // every row of every cell, so a probe lists the whole index
    def probedIds(): Seq[String] =
      VectorIndex.topK(spark, path, VectorIndex.readMeta(path), "chunk_id", "embedding",
                       vec(3L).map(Ann.quantizeL), k = 40, nprobe = 16)
        .select($"chunk_id").as[String].collect().toSeq.sorted
    VectorIndex.reconcile(spark, path, slice(0L until 30L), "chunk_id", "embedding")
    assertFresh(Tables.read(spark, path), path)
    assert(probedIds() == (0L until 30L).map(i => s"c$i").sorted)
    VectorIndex.reconcile(spark, path, slice(10L until 40L), "chunk_id", "embedding")
    assertFresh(Tables.read(spark, path), path)
    val reconciled = (10L until 40L).map(i => s"c$i").sorted
    assert(probedIds() == reconciled)
    val report = VectorIndex.balance(spark, path, 4L, "chunk_id", "embedding")
    assert(report.exists(_.outcome == "split"), report.toString)
    assertFresh(Tables.read(spark, path), path)
    assert(probedIds() == reconciled, "balance moves rows between cells, never in or out")
  }

  test("a --snapshot= root and the live root are separate handles") {
    Snapshots.create(store, "pre")
    val root = Snapshots.openRoot(store, "pre")
    val snap = Main.openTable(spark, root, "chunks")
    val live = Main.openTable(spark, store, "chunks")
    assert(!(snap eq live))
    assertFresh(snap, s"$root/chunks.parquet")
    assertFresh(live, s"$store/chunks.parquet")
    val nLive = live.count()
    val in = new File(tmp("graft_rh_in2"))
    Files.writeString(new File(in, "new.md").toPath, "freshly arrived notes about zebra herds")
    Main.runIngest(spark, in.toString, store, "nomic", Timestamp.valueOf("2025-06-02 12:00:00"))
    val live2 = Main.openTable(spark, store, "chunks")
    assertFresh(live2, s"$store/chunks.parquet")
    assert(live2.count() > nLive, "the live root must see the new batch")
    assert(Main.openTable(spark, root, "chunks") eq snap, "the snapshot did not change")
    assertFresh(Main.openTable(spark, root, "chunks"), s"$root/chunks.parquet")
  }

  test("a directory swapped in with java.nio moves re-opens, even at equal names, sizes and mtimes") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_rh_nio")
    val live = new File(dir, "t.parquet").toPath
    val next = new File(dir, "t.next").toPath
    val other = new File(dir, "t.other").toPath
    Seq(0, 1, 2, 3, 4).toDF("x").coalesce(1).write.parquet(live.toString)
    Seq(5, 6, 7, 8, 9).toDF("x").coalesce(1).write.parquet(other.toString)
    val first = Tables.read(spark, live.toString)
    assertFresh(first, live.toString)
    // `next` is `live`'s tree entry for entry (names, sizes, mtimes);
    // only its inodes and its bytes differ, like another process's commit
    def entries(p: Path): Seq[Path] =
      Files.walk(p).iterator().asScala.toSeq.sortBy(_.toString)
    def named(p: Path, prefix: String, suffix: String): Path =
      entries(p).find { f =>
        val n = f.getFileName.toString
        n.startsWith(prefix) && n.endsWith(suffix)
      }.get
    def shape(p: Path): Seq[(String, Long, Long)] = entries(p).map(f =>
      (p.relativize(f).toString, Files.getLastModifiedTime(f).toMillis, Files.size(f)))
    entries(live).foreach(f => Files.copy(f, next.resolve(live.relativize(f))))
    Seq(("part-", ".parquet"), (".part-", ".parquet.crc")).foreach { case (pre, suf) =>
      val (src, dst) = (named(other, pre, suf), named(next, pre, suf))
      assert(Files.size(src) == Files.size(dst), s"fixture: equal-size $suf files")
      Files.write(dst, Files.readAllBytes(src))
    }
    entries(live).reverse.foreach { f =>
      Files.setLastModifiedTime(next.resolve(live.relativize(f)), Files.getLastModifiedTime(f))
    }
    val old = new File(dir, "t.old").toPath
    Files.move(live, old)
    Files.move(next, live)
    assert(shape(live) == shape(old), "fixture: only inodes and bytes differ")
    val second = Tables.read(spark, live.toString)
    assert(!(second eq first), "new inodes must re-open")
    assertFresh(second, live.toString)
    assert(rows(second) == Seq("5", "6", "7", "8", "9"))
  }

  test("a second open with no write in between starts zero Spark jobs") {
    val paths = Seq(s"$store/postings.idx", s"$store/postings.idx.norms",
                    VectorIndex.indexPath(store))
    val warm = (Seq("chunks", "embeddings", "documents").map(Main.openTable(spark, store, _)),
                paths.map(Tables.read(spark, _)))
    val (again, sites) = jobSites(
      (Seq("chunks", "embeddings", "documents").map(Main.openTable(spark, store, _)),
       paths.map(Tables.read(spark, _))))
    assert(sites.isEmpty, s"re-open with no write started jobs: $sites")
    (warm._1 ++ warm._2).zip(again._1 ++ again._2).foreach { case (a, b) => assert(a eq b) }
  }

  test("warm search requests start no listing or schema-inference job") {
    // a ranking collected, then content fetched by id: no join, so no
    // adaptive stage, and each kind stays under its job ceiling
    val ceiling = Map("ann" -> 3, "knn" -> 2, "bm25" -> 6, "hybrid" -> 7)
    val requests = Seq[(String, String => Seq[String])](
      "ann" -> (q => Main.runSearchAnn(spark, store, q, 3)),
      "knn" -> (q => Main.runSearch(spark, store, q, "nomic", 3)),
      "bm25" -> (q => Main.runSearchBm25(spark, store, q, 3)),
      "hybrid" -> (q => Main.runSearchHybrid(spark, store, q, 3)))
    requests.foreach { case (_, run) => assert(run("spark shuffle").nonEmpty) }
    requests.foreach { case (kind, run) =>
      val ((out, sites), ran) =
        SparkSpec.executedPlans(spark)(jobSites(run("bread and butter")))
      assert(out.nonEmpty, s"$kind served nothing")
      assert(!sites.exists(_.startsWith("parquet at")),
             s"warm $kind request re-resolved a table: $sites")
      ceiling.get(kind).foreach(n => assert(sites.size <= n,
        s"warm $kind request started ${sites.size} jobs, ceiling $n: $sites"))
      if (kind == "hybrid")
        assert(!ran.exists(_.contains("chunks.parquet")),
               s"hybrid read the chunk text: ${ran.mkString("\n")}")
    }
    // knn_cached: a miss probes, searches and appends its rows; a hit is
    // the probe alone
    val ((missLines, missHit), miss) =
      jobSites(Main.runSearchCached(spark, store, "bread and butter", "nomic", 3))
    assert(!missHit && missLines.nonEmpty)
    assert(miss.size <= 3 && miss.count(_.startsWith("parquet at")) <= 1,
           s"a cache miss started ${miss.size} jobs: $miss")
    val ((hitLines, hit), sites) =
      jobSites(Main.runSearchCached(spark, store, "bread and butter", "nomic", 3))
    assert(hit && hitLines == missLines)
    assert(sites.size <= 1, s"a cache hit started ${sites.size} jobs: $sites")
  }

  test("hybrid's lexical tier is runSearchBm25's log-IDF ranking") {
    // a postings-only store: with no vector index, hybrid fuses the
    // lexical list alone, so its order is that list's order
    val in = new File(tmp("graft_rh_hyb_in"))
    val lex = tmp("graft_rh_hyb_store")
    Seq("a.md" -> "rare notes on windy lakes and sailing boats with knots for cooking days",
        "b.md" -> "common common common common words here and there again",
        "c.md" -> "common thread",
        "d.md" -> "vector index probes",
        "e.md" -> "bread and butter")
      .foreach { case (n, t) => Files.writeString(new File(in, n).toPath, t) }
    Main.runIngest(spark, in.toString, lex, "nomic", now)
    Main.runBuildPostings(spark, lex, 8)
    def field(l: String, f: String) = s""""$f":"([^"]*)"""".r.findFirstMatchIn(l).get.group(1)
    val bm25 = Main.runSearchBm25(spark, lex, "common rare", 5)
    // log IDF ranks the short all-"common" chunk above the long "rare"
    // one; the rational IDF ranked them the other way round
    assert(bm25.map(field(_, "content").split(" ").head) == Seq("common", "common", "rare"),
           bm25.mkString("\n"))
    val hybrid = Main.runSearchHybrid(spark, lex, "common rare", 5)
    assert(hybrid.map(field(_, "chunk_id")) == bm25.map(field(_, "chunk_id")))
    hybrid.zipWithIndex.foreach { case (l, i) =>
      assert(l.contains(s""""rrf_score":${1000000 / (61 + i)},""") && l.contains("\"n_lists\":1"), l)
    }
  }

  test("a stopped session's frames are never handed to a new session, and are freed") {
    val path = s"$store/documents.parquet"
    val old = new WeakReference(Tables.read(spark, path))
    val oldSession = spark
    spark.stop()
    spark = newSession()
    assert(!(spark eq oldSession))
    val fresh = Tables.read(spark, path)
    // dereferenced in its own frame: an assert on `old.get` here would
    // leave the frame in a dead local of this body, reachable to the GC
    def crossed: Boolean = old.get eq fresh
    assert(!crossed, "a frame must not cross sessions")
    assert(fresh.sparkSession eq spark)
    assertFresh(fresh, path)
    // the stopped session itself stays reachable (`oldSession`); its
    // frames must not
    var tries = 0
    while (old.get != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(old.get == null, "the stopped session's frame was never freed")
  }
}
