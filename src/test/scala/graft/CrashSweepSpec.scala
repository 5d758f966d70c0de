package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.Faults
import graft.search.Search

/** SYSTEMATIC CRASH-INJECTION SWEEP over the swap-commit machinery:
  * every multi-step commit protocol declares a [[graft.io.Faults]]
  * point between each pair of steps; this suite arms each point in
  * turn, runs the operation until it dies exactly there, then asserts
  * the DOCUMENTED recovery (fsck preambles, reader preambles, re-run
  * idempotence) converges the store to the state a never-crashed twin
  * reaches. The invariant under test is global: no crash window in
  * the table swap, artifact commit, repair swap, partition
  * maintenance, or snapshot create/restore leaves a state the engine
  * cannot heal.
  */
class CrashSweepSpec extends SparkSpec {
  import spark.implicits._

  private val now = java.sql.Timestamp.valueOf("2025-06-01 12:00:00")
  private val later = java.sql.Timestamp.valueOf("2025-06-02 12:00:00")

  private def mkInputs(docs: (String, String)*): String = {
    val in = Files.createTempDirectory("graft_sweep_in").toFile
    docs.foreach { case (name, text) =>
      Files.write(new java.io.File(in, name).toPath, text.getBytes("UTF-8"))
    }
    in.toString
  }

  private val batch1 = Seq(
    "a.txt" -> "spark query engine performance tuning guide",
    "b.txt" -> "watermark lateness checkpoint recovery streaming")
  private val batch2 = Seq(
    "c.txt" -> "distributed shuffle partitioning strategies at scale",
    "d.txt" -> "vector index probes and cell balancing notes")

  /** Deterministic full-store state: doc statuses, chunk ids,
    * embedding count, a search answer — everything ingest commits.
    */
  private def state(store: String): (Seq[(String, String)], Seq[String], Long, Seq[String]) = (
    spark.read.parquet(s"$store/documents.parquet")
      .select("doc_id", "status").as[(String, String)].collect().toSeq.sorted,
    spark.read.parquet(s"$store/chunks.parquet")
      .select("chunk_id").as[String].collect().toSeq.sorted,
    spark.read.parquet(s"$store/embeddings.parquet").count(),
    Main.runSearch(spark, store, "spark shuffle", "nomic", 3))

  override def afterAll(): Unit = { Faults.reset(); super.afterAll() }

  test("writeTable: a crash at every commit step converges via fsck preamble + re-ingest") {
    val in1 = mkInputs(batch1: _*); val in2 = mkInputs(batch2: _*)
    val control = Files.createTempDirectory("graft_sweep_ctl").toString
    Main.runIngest(spark, in1, control, "nomic", now)
    Main.runIngest(spark, in2, control, "nomic", later)
    val want = state(control)
    for (pt <- Seq("writeTable.after-tmp", "writeTable.after-aside",
                   "writeTable.after-commit")) {
      val store = Files.createTempDirectory(s"graft_sweep_wt").toString
      Main.runIngest(spark, in1, store, "nomic", now)
      Faults.arm(pt)
      val e = intercept[Faults.InjectedCrash] {
        Main.runIngest(spark, in2, store, "nomic", later)
      }
      assert(e.point == pt)
      Faults.reset()
      // documented recovery: fsck converges any table parked in trash,
      // then the batch re-runs (upsert — idempotent)
      val (pre, _) = Main.runFsck(spark, store)
      Main.runIngest(spark, in2, store, "nomic", later)
      val (post, nViol) = Main.runFsck(spark, store)
      assert(nViol == 0L, s"$pt: ${post.mkString("\n")}")
      assert(state(store) == want, s"$pt diverged from the never-crashed twin\n${pre.mkString("\n")}")
    }
  }

  test("ingest: a batch that crashes mid-commit frees every scratch pin it made") {
    val store = Files.createTempDirectory("graft_sweep_pins").toString
    Main.runIngest(spark, mkInputs(batch1: _*), store, "nomic", now)
    val in2 = mkInputs(batch2: _*)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Faults.arm("writeTable.after-tmp")
    intercept[Faults.InjectedCrash] {
      Main.runIngest(spark, in2, store, "nomic", later)
    }
    Faults.reset()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a failed batch must not leak its scratch pins")
  }

  test("commitArtifact: a crash at every step converges via re-train; readers restore from trash") {
    val in1 = mkInputs(batch1: _*)
    val control = Files.createTempDirectory("graft_sweep_actl").toString
    Main.runIngest(spark, in1, control, "nomic", now)
    Main.runTrainModel(spark, control, rounds = 2)
    val want = Main.runScoreModel(spark, control)
    for (pt <- Seq("commitArtifact.after-tmp", "commitArtifact.after-aside",
                   "commitArtifact.after-commit")) {
      val store = Files.createTempDirectory("graft_sweep_art").toString
      Main.runIngest(spark, in1, store, "nomic", now)
      Main.runTrainModel(spark, store, rounds = 2) // a live artifact to aside
      Faults.arm(pt)
      intercept[Faults.InjectedCrash] { Main.runTrainModel(spark, store, 2) }
      Faults.reset()
      // after-aside parks the ONLY model copy in .trash — a bare score
      // must still serve (reader preamble), never "no model"
      assert(Main.runScoreModel(spark, store) == want, s"$pt: reader preamble")
      Main.runTrainModel(spark, store, rounds = 2)
      assert(Main.runScoreModel(spark, store) == want, s"$pt: re-train")
      val left = new java.io.File(store).list()
        .filter(_.contains("model_boost.parquet."))
        .filterNot(n => n.endsWith(".lock") || n.endsWith(".lock.guard"))
      assert(left.isEmpty,
        s"$pt: no tmp/trash residue after heal, got ${left.mkString(",")}")
    }
  }

  test("fsck --repair: a crash at every swap step re-repairs to the never-crashed result") {
    def planted(): String = {
      val store = Files.createTempDirectory("graft_sweep_rep").toString
      Main.runIngest(spark, mkInputs(batch1: _*), store, "nomic", now)
      val chunksPath = s"$store/chunks.parquet"
      spark.read.parquet(chunksPath).limit(1)
        .withColumn("doc_id", lit("ghost-doc"))
        .withColumn("chunk_id", lit("ghost-chunk"))
        .write.mode("append").parquet(chunksPath)
      val embPath = s"$store/embeddings.parquet"
      spark.read.parquet(embPath).limit(1)
        .withColumn("chunk_id", lit("ghost-emb"))
        .write.mode("append").parquet(embPath)
      store
    }
    val control = planted()
    Main.runFsckRepair(spark, control)
    val want = state(control)
    for (pt <- Seq("fsckRepair.after-tmp", "fsckRepair.after-aside",
                   "fsckRepair.after-commit")) {
      val store = planted()
      Faults.arm(pt)
      intercept[Faults.InjectedCrash] { Main.runFsckRepair(spark, store) }
      Faults.reset()
      // documented recovery: repair is idempotent and restores parked
      // tables in its own preamble
      Main.runFsckRepair(spark, store)
      val (post, nViol) = Main.runFsck(spark, store)
      assert(nViol == 0L, s"$pt: ${post.mkString("\n")}")
      assert(state(store) == want, s"$pt diverged from the never-crashed twin")
    }
  }

  test("profile-state commit: a crash at every step serves a correct profile and heals on re-ingest") {
    val in1 = mkInputs(batch1: _*); val in2 = mkInputs(batch2: _*)
    val control = Files.createTempDirectory("graft_sweep_pctl").toString
    Main.runIngest(spark, in1, control, "nomic", now)
    Main.runIngest(spark, in2, control, "nomic", later)
    val wantProfile = Main.runProfile(spark, control)
    val want = state(control)
    // the profile artifact commits LAST inside the ingest transaction's
    // chunk stage, so every injected crash leaves committed tables with
    // a stale/absent/parked artifact — the fingerprint gate must route
    // every such window to the rescan fallback (correct answers
    // immediately), and the re-run batch must re-sync the state
    for (pt <- Seq("profileState.before-commit", "commitArtifact.after-tmp",
                   "commitArtifact.after-aside", "commitArtifact.after-commit")) {
      val store = Files.createTempDirectory("graft_sweep_prof").toString
      Main.runIngest(spark, in1, store, "nomic", now)
      Faults.arm(pt)
      val e = intercept[Faults.InjectedCrash] {
        Main.runIngest(spark, in2, store, "nomic", later)
      }
      assert(e.point == pt)
      Faults.reset()
      // fallback correctness: the crashed window's artifact (stale,
      // mid-commit, or parked in trash) must never serve — profile
      // answers from the rescan path and equals the never-crashed twin
      assert(Main.runProfile(spark, store) == wantProfile,
        s"$pt: post-crash profile must fall back to a correct rescan")
      // the fallback HEALED the artifact (rescan path rewrites it): a
      // fresh read now serves from state, still equal
      assert(graft.text.ProfileState
        .readSynced(spark, store,
                    new java.io.File(s"$store/chunks.parquet")).isDefined,
        s"$pt: the rescan fallback must re-sync the artifact")
      // re-running the batch (upsert — idempotent) converges everything
      Main.runIngest(spark, in2, store, "nomic", later)
      val (post, nViol) = Main.runFsck(spark, store)
      assert(nViol == 0L, s"$pt: ${post.mkString("\n")}")
      assert(state(store) == want && Main.runProfile(spark, store) == wantProfile,
        s"$pt diverged from the never-crashed twin")
      val left = new java.io.File(store).list()
        .filter(_.contains("profile_state.parquet."))
        .filterNot(n => n.endsWith(".lock") || n.endsWith(".lock.guard"))
      assert(left.isEmpty,
        s"$pt: no tmp/trash residue after heal, got ${left.mkString(",")}")
    }
  }

  test("delete: a crash at every commit step converges via fsck + re-run; the tombstone still blocks resurrection") {
    val in1 = mkInputs(batch1: _*)
    def target(store: String): String =
      spark.read.parquet(s"$store/documents.parquet")
        .filter(col("filename") === "a.md") // txt→md rewrite at ingest
        .select("doc_id").as[String].head()
    val delAt = java.sql.Timestamp.valueOf("2025-06-03 12:00:00")
    val control = Files.createTempDirectory("graft_sweep_dctl").toString
    Main.runIngest(spark, in1, control, "nomic", now)
    Main.runBuildPostings(spark, control, 8)
    Main.runDelete(spark, control, target(control), delAt)
    val want = state(control)
    // rebuild = the register history resets to the live store on both
    // sides — a crashed profile commit heals by rescan, which loses
    // the (documented, monotone-only) register history a never-crashed
    // fold would keep, so the comparable profile is the rebuilt one
    val wantProfile = Main.runProfile(spark, control, rebuild = true)
    // the delete transaction crosses four commit protocols (chunks
    // prune, profile artifact, embeddings prune, documents flip) —
    // every injected window must converge by the documented recovery:
    // fsck preamble restores parked tables, then the delete RE-RUNS
    // (everything before the documents flip is idempotent maintenance)
    for (pt <- Seq("writeTable.after-tmp", "writeTable.after-aside",
                   "writeTable.after-commit", "profileState.before-commit",
                   "commitArtifact.after-aside")) {
      val store = Files.createTempDirectory("graft_sweep_del").toString
      Main.runIngest(spark, in1, store, "nomic", now)
      Main.runBuildPostings(spark, store, 8)
      val id = target(store)
      Faults.arm(pt)
      val e = intercept[Faults.InjectedCrash] {
        Main.runDelete(spark, store, id, delAt)
      }
      assert(e.point == pt)
      Faults.reset()
      val (pre, _) = Main.runFsck(spark, store)
      Main.runDelete(spark, store, id, delAt)
      val (post, nViol) = Main.runFsck(spark, store)
      assert(nViol == 0L, s"$pt: ${post.mkString("\n")}")
      // the postings window specifically: the doc's postings (and its
      // bm25 norms row) must be GONE after convergence — postings are
      // removed BEFORE the chunks prune precisely so a crash between
      // them stays re-runnable (the reverse order's re-run would
      // capture an empty chunk set and strand the postings forever)
      assert(spark.read.parquet(s"$store/postings.idx")
        .filter(col("chunk_id").startsWith(id)).count() == 0L,
        s"$pt: deleted doc's postings must leave the index")
      assert(state(store) == want,
        s"$pt diverged from the never-crashed twin\n${pre.mkString("\n")}")
      // additive profile lines converge for every window; whether the
      // register history survived depends on which side of the profile
      // commit the crash fell (fold keeps it, rescan-heal resets it) —
      // both documented — so registers compare on the rebuilt form
      assert(Main.runProfile(spark, store)
               .filterNot(_.contains("\"est_distinct\":")) ==
             wantProfile.filterNot(_.contains("\"est_distinct\":")),
        s"$pt: additive profile lines")
      assert(Main.runProfile(spark, store, rebuild = true) == wantProfile,
        s"$pt: rebuilt profile")
      // the tombstone gate holds through the recovered store
      Main.runIngest(spark, in1, store, "nomic", later)
      assert(spark.read.parquet(s"$store/documents.parquet")
        .filter(col("doc_id") === id).select("status").as[String].head()
        == "removed", s"$pt: resurrection blocked")
    }
  }

  test("changed-content re-ingest: a crash AFTER the chunks commit still converges — the stale-vector erasure ran before it") {
    import graft.ingest.Ingest
    import org.apache.spark.sql.functions.lit
    val store = Files.createTempDirectory("graft_sweep_chg").toString
    val longText = (0 until 600).map(i => s"w$i").mkString(" ")
    val raw = Seq(("/a/doc.md", longText.getBytes("UTF-8"))).toDF("path", "content")
    val b1 = Ingest.convertDocuments(Ingest.toDocuments(raw, lit(now)))
    Main.ingestBatch(spark, b1, store, "nomic", now)
    Main.runBuildVectorIndex(spark, store, "nomic", 2)
    val id = b1.select(col("doc_id")).as[String].head()
    // the changed re-delivery: same doc_id, different text — crash in
    // the WORST window (chunks committed, embeddings not yet
    // recomputed): a design that detected staleness by comparing
    // against stored content would re-read its OWN committed text on
    // the re-run, see "unchanged", and serve the stale vector forever
    val newText = "short replacement text"
    def b2 = Ingest.convertDocuments(Ingest.toDocuments(raw,
        lit(java.sql.Timestamp.valueOf("2025-06-03 12:00:00"))))
      .withColumn("text", lit(newText))
    Faults.arm("profileState.before-commit") // fires AFTER the chunks swap
    val e = intercept[Faults.InjectedCrash] {
      Main.ingestBatch(spark, b2, store, "nomic", later)
    }
    assert(e.point == "profileState.before-commit")
    Faults.reset()
    // mid-window state: new content committed, stale vectors ERASED —
    // at worst an embedding-coverage gap, never a wrong vector
    assert(spark.read.parquet(s"$store/embeddings.parquet")
      .filter(col("chunk_id") === s"${id}_chunk_1").count() == 0,
      "the stale vector must be gone BEFORE the crash window")
    // the SAME batch re-runs and converges: embedding + index codes of
    // the surviving chunk embed the NEW text
    Main.ingestBatch(spark, b2, store, "nomic", later)
    val vec = spark.read.parquet(s"$store/embeddings.parquet")
      .filter(col("chunk_id") === s"${id}_chunk_1" &&
              col("embedding_provider") === "nomic")
      .select(col("embedding")).as[Array[Float]].head()
    assert(vec.sameElements(
             graft.embed.Embedding.provider("nomic").embedOne(newText)),
      "post-convergence the embedding must be of the replaced content")
    assert(spark.read.parquet(graft.search.VectorIndex.indexPath(store))
      .filter(col("chunk_id").startsWith(id)).count() == 1,
      "the index converges to exactly the surviving chunk")
    val (post, nViol) = Main.runFsck(spark, store)
    assert(nViol == 0L, post.mkString("\n"))
  }

  test("batch delete: a mid-batch crash at every commit step converges by re-running the SAME batch") {
    // four docs in, two deleted — survivors keep the search surface
    // (and the state() twin) meaningful after the batch takedown
    val in1 = mkInputs(batch1 ++ batch2: _*)
    def targets(store: String): Seq[String] =
      spark.read.parquet(s"$store/documents.parquet")
        .filter(col("filename").isin("a.md", "c.md"))
        .select("doc_id").as[String].collect().toSeq.sorted
    val delAt = java.sql.Timestamp.valueOf("2025-06-03 12:00:00")
    val control = Files.createTempDirectory("graft_sweep_bdctl").toString
    Main.runIngest(spark, in1, control, "nomic", now)
    Main.runBuildPostings(spark, control, 8)
    Main.runDelete(spark, control, targets(control), delAt,
                   purgeSnapshots = false)
    val want = state(control)
    for (pt <- Seq("writeTable.after-tmp", "writeTable.after-aside",
                   "writeTable.after-commit", "profileState.before-commit",
                   "commitArtifact.after-aside")) {
      val store = Files.createTempDirectory("graft_sweep_bdel").toString
      Main.runIngest(spark, in1, store, "nomic", now)
      Main.runBuildPostings(spark, store, 8)
      val ids = targets(store)
      assert(ids.size == 2, s"fixture must resolve both targets: $ids")
      Faults.arm(pt)
      val e = intercept[Faults.InjectedCrash] {
        Main.runDelete(spark, store, ids, delAt, purgeSnapshots = false)
      }
      assert(e.point == pt)
      Faults.reset()
      // everything before the single documents flip is idempotent
      // set-valued maintenance: the SAME batch re-runs and converges —
      // no id is half-deleted, no id needs a different command
      Main.runDelete(spark, store, ids, delAt, purgeSnapshots = false)
      val (post, nViol) = Main.runFsck(spark, store)
      assert(nViol == 0L, s"$pt: ${post.mkString("\n")}")
      assert(state(store) == want,
        s"$pt diverged from the never-crashed batch twin")
      ids.foreach(id =>
        assert(spark.read.parquet(s"$store/postings.idx")
          .filter(col("chunk_id").startsWith(id)).count() == 0L,
          s"$pt: $id postings must leave"))
    }
  }

  test("scrub snapshots: a crash at every commit step inside the snapshot converges by re-running the SAME command; the live store is never re-touched") {
    // the live half runs FIRST as its own command, so every armed
    // point fires inside the SNAPSHOT's transaction — the window under
    // test is the scrub's, not the (already-swept) live delete's
    val in1 = mkInputs(batch1 ++ batch2: _*)
    def target(store: String): String =
      spark.read.parquet(s"$store/documents.parquet")
        .filter(col("filename") === "a.md")
        .select("doc_id").as[String].head()
    val delAt = java.sql.Timestamp.valueOf("2025-06-03 12:00:00")
    def setup(): String = {
      val store = Files.createTempDirectory("graft_sweep_scr").toString
      Main.runIngest(spark, in1, store, "nomic", now)
      Main.runBuildPostings(spark, store, 8)
      graft.io.Snapshots.create(store, "s1")
      Main.runDelete(spark, store, target(store), delAt)
      store
    }
    def scrub(store: String): Seq[String] =
      Main.runDelete(spark, store, Seq(target(store)), delAt,
                     purgeSnapshots = false, scrubSnapshots = true)
    val control = setup()
    scrub(control)
    val wantSnap = state(s"$control/.snapshots/s1")
    val wantLive = state(control)
    val wantSnapProfile = Main.runProfile(spark, s"$control/.snapshots/s1",
      rebuild = true, readOnly = true)
    for (pt <- Seq("writeTable.after-tmp", "writeTable.after-aside",
                   "writeTable.after-commit", "profileState.before-commit",
                   "commitArtifact.after-aside")) {
      val store = setup()
      val snapRoot = s"$store/.snapshots/s1"
      Faults.arm(pt)
      // the scrub loop catches per-snapshot failures to maximize
      // completed erasure, then raises the loud COMMITTED-but message
      // (the purge path's convention) — the injected crash travels as
      // its cause, and the snapshot is left mid-protocol exactly as a
      // kill -9 at that line would leave it
      val e = intercept[IllegalStateException] { scrub(store) }
      assert(e.getMessage.contains("scrubbing snapshots failed"), s"$pt: $e")
      assert(e.getCause.isInstanceOf[Faults.InjectedCrash] &&
        e.getCause.asInstanceOf[Faults.InjectedCrash].point == pt, s"$pt: $e")
      Faults.reset()
      // convergence = the SAME command again: the live half tolerates
      // the already-removed id (and does not re-mutate), the snapshot
      // re-runs its idempotent stages to the tombstone commit point
      val report = scrub(store)
      assert(report.last.contains(""""snapshots_scrubbed":["s1"]"""),
        s"$pt: $report")
      assert(state(snapRoot) == wantSnap,
        s"$pt: snapshot diverged from the never-crashed twin")
      assert(Main.runProfile(spark, snapRoot, rebuild = true, readOnly = true)
               == wantSnapProfile, s"$pt: snapshot profile (rebuilt)")
      assert(state(store) == wantLive, s"$pt: live store must be untouched")
      // exactly ONE live delete commit — the crashed scrub and its
      // retry never re-ran the live transaction
      assert(spark.read.parquet(s"$store/runlog.parquet")
        .filter(col("metric") === "n_docs_deleted").count() == 1L, pt)
      val (post, nViol) = Main.runFsck(spark, store)
      assert(nViol == 0L, s"$pt: ${post.mkString("\n")}")
    }
  }

  test("scrub: a crash inside the snapshot's DOCUMENTS swap — either window — still converges and still erases the bytes") {
    val in = mkInputs("t.txt" -> "confidential gharial scrub subject engine text",
                      "k.txt" -> "watermark lateness checkpoint recovery streaming")
    val delAt = java.sql.Timestamp.valueOf("2025-06-03 12:00:00")
    val store = Files.createTempDirectory("graft_sweep_sdw").toString
    Main.runIngest(spark, in, store, "nomic", now)
    graft.io.Snapshots.create(store, "s1")
    val snapRoot = s"$store/.snapshots/s1"
    val id = spark.read.parquet(s"$store/documents.parquet")
      .filter(col("filename") === "t.md").select("doc_id").as[String].head()
    // keep a BYTE COPY of the pre-delete snapshot documents dir to
    // plant window B later (a hardlink copy would share the inodes)
    val saved = Files.createTempDirectory("graft_sweep_sdw_save").toFile
    val snapDocs = new java.io.File(s"$snapRoot/documents.parquet")
    copyTree(snapDocs, new java.io.File(saved, "docs"))
    Main.runDelete(spark, store, id, delAt) // live half committed
    def bytesHold(root: String, needle: String): Boolean = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root)).exists(f =>
        new String(Files.readAllBytes(f.toPath), "ISO-8859-1").contains(needle))
    }
    // WINDOW A — the aside-crash state: the scrub died between the
    // documents aside-rename and its commit, the snapshot's only copy
    // parked at .trash, the live name GONE. Without the audit preamble
    // the snapshot audits as neither holding nor unreadable and the
    // re-run skips it while the content survives.
    val trash = new java.io.File(s"$snapRoot/documents.parquet.trash")
    require(snapDocs.renameTo(trash), "window-A setup rename failed")
    val rA = Main.runDelete(spark, store, Seq(id), delAt,
                            purgeSnapshots = false, scrubSnapshots = true)
    assert(rA.last.contains(""""snapshots_scrubbed":["s1"]"""), rA.mkString("\n"))
    assert(snapDocs.isDirectory && !trash.exists(),
      "the parked copy must be healed and the swap completed")
    assert(spark.read.parquet(snapDocs.toString)
      .filter(col("doc_id") === id).select("status").as[String].head()
      == "removed")
    assert(!bytesHold(snapRoot, "gharial"), "window A: bytes must be erased")
    // WINDOW B — the stale-aside state: a scrub crashed between the
    // documents commit rename and its trash cleanup, leaving the
    // PRE-DELETE rows at .trash behind a committed tombstone flip. The
    // snapshot no longer audits as holding, so only the audit's stale-
    // trash sweep can retire those bytes.
    copyTree(new java.io.File(saved, "docs"), trash)
    // the documents table stores content BASE64-encoded — grep for the
    // encoded form (short content, so Spark's MIME-chunked base64 has
    // no \r\n line breaks to split the needle)
    val b64 = java.util.Base64.getEncoder.encodeToString(
      "confidential gharial scrub subject engine text".getBytes("UTF-8"))
    assert(bytesHold(snapRoot, b64), "window-B planting must hold the bytes")
    val rB = Main.runDelete(spark, store, Seq(id), delAt,
                            purgeSnapshots = false, scrubSnapshots = true)
    assert(rB.last.contains(""""snapshots_scrubbed":[]"""), rB.mkString("\n"))
    assert(!trash.exists(), "window B: the stale aside must be swept")
    assert(!bytesHold(snapRoot, b64), "window B: bytes must be erased")
    assert(!bytesHold(snapRoot, "gharial"))
    graft.io.Tables.rmTree(saved)
  }

  test("rollback to a half-scrubbed snapshot carries the parked table; the reader preamble heals the live store") {
    val in = mkInputs(batch1: _*)
    val store = Files.createTempDirectory("graft_sweep_hsr").toString
    Main.runIngest(spark, in, store, "nomic", now)
    graft.io.Snapshots.create(store, "s1")
    val want = state(store)
    // simulate a scrub that died inside s1's documents swap (aside
    // window): the snapshot's only documents copy sits at .trash
    val snapDocs = new java.io.File(s"$store/.snapshots/s1/documents.parquet")
    require(snapDocs.renameTo(
      new java.io.File(s"$store/.snapshots/s1/documents.parquet.trash")))
    graft.io.Snapshots.restore(store, "s1")
    // the parked aside MUST have been carried into the live tree —
    // filtering it with the ephemeral lease files would roll back to a
    // store with no documents table at all, its only copy stranded
    val (lines, nViol) = Main.runFsck(spark, store)
    assert(new java.io.File(s"$store/documents.parquet").isDirectory,
      s"the reader preamble must heal the carried aside:\n${lines.mkString("\n")}")
    assert(nViol == 0L, lines.mkString("\n"))
    assert(state(store) == want, "the healed rollback serves the snapshot state")
  }

  test("snapshot create heals a parked table first: captured history is complete") {
    val in = mkInputs(batch1: _*)
    val store = Files.createTempDirectory("graft_sweep_chp").toString
    Main.runIngest(spark, in, store, "nomic", now)
    val want = state(store)
    // a writer crashed between aside-rename and commit: the live
    // documents name is gone, the only copy parked at .trash
    val docs = new java.io.File(s"$store/documents.parquet")
    require(docs.renameTo(new java.io.File(s"$store/documents.parquet.trash")))
    graft.io.Snapshots.create(store, "s1")
    assert(new java.io.File(s"$store/.snapshots/s1/documents.parquet").isDirectory,
      "create must heal the parked table before walking, or history is missing it")
    // and the healed capture round-trips
    graft.io.Snapshots.restore(store, "s1")
    assert(state(store) == want)
  }

  test("snapshot restore: a crash at every step converges to the snapshot via fsck") {
    val in1 = mkInputs(batch1: _*); val in2 = mkInputs(batch2: _*)
    val store = Files.createTempDirectory("graft_sweep_snap").toString
    Main.runIngest(spark, in1, store, "nomic", now)
    graft.io.Snapshots.create(store, "s1")
    val wantA = state(store)
    Main.runIngest(spark, in2, store, "nomic", later)
    graft.io.Snapshots.create(store, "s2")
    val wantB = state(store)
    for (pt <- Seq("snapshot.restore.after-intent", "snapshot.restore.after-park",
                   "snapshot.restore.mid-relink", "snapshot.restore.after-relink")) {
      Faults.arm(pt)
      intercept[Faults.InjectedCrash] { graft.io.Snapshots.restore(store, "s1") }
      Faults.reset()
      val (lines, nViol) = Main.runFsck(spark, store)
      assert(nViol == 0L, s"$pt: ${lines.mkString("\n")}")
      assert(state(store) == wantA, s"$pt must converge to snapshot s1")
      assert(!new java.io.File(store, ".rollback_trash").exists(), pt)
      // flip back to the post-batch2 state for the next injection
      graft.io.Snapshots.restore(store, "s2")
      assert(state(store) == wantB, s"$pt: s2 flip-back")
    }
  }

  test("snapshot recovery hardening: post-snapshot entries drop on roll-forward; corrupt markers park back; drop converges first") {
    val store = Files.createTempDirectory("graft_sweep_hard").toString
    Main.runIngest(spark, mkInputs(batch1: _*), store, "nomic", now)
    graft.io.Snapshots.create(store, "s1")
    val wantA = state(store)
    // an artifact created AFTER s1: a completed restore deletes it, so
    // roll-forward must too — not leave a stale model over the
    // rolled-back corpus
    Main.runTrainModel(spark, store, rounds = 2)
    assert(new java.io.File(store, "model_boost.parquet").isDirectory)
    Faults.arm("snapshot.restore.after-intent")
    intercept[Faults.InjectedCrash] { graft.io.Snapshots.restore(store, "s1") }
    Faults.reset()
    val (lines, nViol) = Main.runFsck(spark, store)
    assert(nViol == 0L && state(store) == wantA, lines.mkString("\n"))
    assert(!new java.io.File(store, "model_boost.parquet").exists(),
      "roll-forward must drop entries a completed restore would have deleted")

    // a corrupt/crafted marker must NEVER roll "forward" from an
    // arbitrary path — ".." resolves .snapshots/.. to the store root
    // itself; recovery takes the conservative park-back instead
    val trash = new java.io.File(store, ".rollback_trash")
    Files.createDirectories(trash.toPath)
    Files.write(new java.io.File(trash, "_restore_from").toPath,
                "..".getBytes("UTF-8"))
    val docsLive = new java.io.File(store, "documents.parquet")
    assert(docsLive.renameTo(new java.io.File(trash, "documents.parquet")))
    val (lines2, nViol2) = Main.runFsck(spark, store)
    assert(lines2.head.contains("parked interrupted rollback state back"),
      lines2.mkString("\n"))
    assert(nViol2 == 0L && state(store) == wantA, lines2.mkString("\n"))

    // a marker naming a CRASHED create (no manifest) is not a restore
    // source either — park back, never relink a partial snapshot
    Files.createDirectories(
      new java.io.File(store, ".snapshots/partial").toPath)
    Files.createDirectories(trash.toPath)
    Files.write(new java.io.File(trash, "_restore_from").toPath,
                "partial".getBytes("UTF-8"))
    assert(docsLive.renameTo(new java.io.File(trash, "documents.parquet")))
    val (lines3, nViol3) = Main.runFsck(spark, store)
    assert(lines3.head.contains("parked interrupted rollback state back") &&
           nViol3 == 0L && state(store) == wantA, lines3.mkString("\n"))
    graft.io.Tables.rmTree(new java.io.File(store, ".snapshots/partial"))

    // drop converges a pending restore BEFORE deleting — the marker may
    // name exactly the snapshot being dropped
    graft.io.Snapshots.create(store, "s2")
    Faults.arm("snapshot.restore.after-park")
    intercept[Faults.InjectedCrash] { graft.io.Snapshots.restore(store, "s1") }
    Faults.reset()
    graft.io.Snapshots.drop(store, "s1")
    assert(state(store) == wantA,
      "drop must converge the pending restore before deleting its source")
    assert(graft.io.Snapshots.list(store) == Seq("s2"))
  }

  test("snapshot create: a crashed create is not history — it never lists, never restores, retries clean") {
    val store = Files.createTempDirectory("graft_sweep_csnap").toString
    Main.runIngest(spark, mkInputs(batch1: _*), store, "nomic", now)
    val want = state(store)
    Faults.arm("snapshot.create.after-links")
    intercept[Faults.InjectedCrash] { graft.io.Snapshots.create(store, "sx") }
    Faults.reset()
    // the partial dir exists but has no manifest: invisible + unrestorable
    assert(new java.io.File(store, ".snapshots/sx").isDirectory)
    assert(!graft.io.Snapshots.list(store).contains("sx"))
    intercept[IllegalArgumentException] { graft.io.Snapshots.restore(store, "sx") }
    // the retry does not hit the immutability guard — the manifest is
    // the commit marker, and a marker-less dir is a crashed create
    graft.io.Snapshots.create(store, "sx")
    assert(graft.io.Snapshots.list(store).contains("sx"))
    graft.io.Snapshots.restore(store, "sx")
    assert(state(store) == want)
  }

  test("postings maintenance: partition-swap crashes converge on the next maintenance pass") {
    val docs = (1L to 40L).map(i => (i, s"alpha table scan beta w$i extra words here"))
    val df = docs.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_sweep_post").toString
    val idx = s"$dir/idx"
    def probe() = Search.phraseOccurrencesStored(spark, idx, "doc_id", "table scan")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq

    // control: build, append, remove, compact — never crashed
    val control = s"$dir/ctl"
    Search.writePostings(df, "doc_id", "text", control, nBuckets = 8)
    Search.removeFromPostings(spark,
      Seq((3L, "alpha table scan beta w3 extra words here")).toDF("doc_id", "text"),
      "doc_id", "text", control)
    val want = Search.phraseOccurrencesStored(spark, control, "doc_id", "table scan")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq

    for (pt <- Seq("replacePartitions.after-aside", "replacePartitions.after-commit")) {
      graft.io.Tables.rmTree(new java.io.File(idx))
      Search.writePostings(df, "doc_id", "text", idx, nBuckets = 8)
      Faults.arm(pt)
      intercept[Faults.InjectedCrash] {
        Search.removeFromPostings(spark,
          Seq((3L, "alpha table scan beta w3 extra words here")).toDF("doc_id", "text"),
          "doc_id", "text", idx)
      }
      Faults.reset()
      // documented recovery: re-run the maintenance op — its
      // partition-trash preamble converges the layout first
      Search.removeFromPostings(spark,
        Seq((3L, "alpha table scan beta w3 extra words here")).toDF("doc_id", "text"),
        "doc_id", "text", idx)
      assert(probe() == want, s"$pt diverged from the never-crashed twin")
    }

    // the review-found killer: an APPEND between the crash and the next
    // maintenance pass must not recreate the parked bucket's live dir —
    // recovery would then drop the .trash aside holding the only copy
    // of every pre-crash posting in that bucket
    graft.io.Tables.rmTree(new java.io.File(idx))
    Search.writePostings(df, "doc_id", "text", idx, nBuckets = 8)
    Faults.arm("replacePartitions.after-aside")
    intercept[Faults.InjectedCrash] {
      Search.removeFromPostings(spark,
        Seq((3L, "alpha table scan beta w3 extra words here")).toDF("doc_id", "text"),
        "doc_id", "text", idx)
    }
    Faults.reset()
    Search.appendPostings(spark,
      Seq((99L, "alpha table scan beta w99 extra words here")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    Search.removeFromPostings(spark,
      Seq((3L, "alpha table scan beta w3 extra words here")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val healed = probe()
    assert(healed.map(_._1).toSet == (1L to 40L).toSet - 3L + 99L,
      s"append after a crashed swap must lose no pre-crash postings: ${healed.map(_._1)}")

    // compaction crash: the aside-parked bucket returns on the next pass
    graft.io.Tables.rmTree(new java.io.File(idx))
    Search.writePostings(df.filter(col("doc_id") <= 20L), "doc_id", "text", idx, nBuckets = 8)
    Search.appendPostings(spark, df.filter(col("doc_id") > 20L), "doc_id", "text", idx)
    val beforeCompact = probe()
    Faults.arm("compactPartitions.after-aside")
    intercept[Faults.InjectedCrash] { Search.compactPostings(spark, idx) }
    Faults.reset()
    Search.compactPostings(spark, idx)
    assert(probe() == beforeCompact, "compaction crash must not lose a bucket")

    // norms-swap crash: the aside holds the only norms copy. The next
    // append must recover it (not skip norms as "missing"), and the
    // re-run removal must converge to the never-crashed twin
    val rm3 = Seq((3L, "alpha table scan beta w3 extra words here")).toDF("doc_id", "text")
    val add99 = Seq((99L, "alpha table scan beta w99 extra words here")).toDF("doc_id", "text")
    def normsRanking(p: String) = (
      spark.read.parquet(s"$p.norms").as[(Long, Long)].collect().toSeq.sorted,
      Search.bm25LogTopKStored(spark, p, "doc_id", "table w7 w99", k = 50)
        .as[(Long, Long, Long)].collect().toSeq.sortBy(r => (-r._3, r._1)))
    for (p <- Seq(control, idx)) {
      graft.io.Tables.rmTree(new java.io.File(p))
      graft.io.Tables.rmTree(new java.io.File(s"$p.norms"))
      Search.writePostings(df, "doc_id", "text", p, nBuckets = 8)
    }
    Search.removeFromPostings(spark, rm3, "doc_id", "text", control)
    Search.appendPostings(spark, add99, "doc_id", "text", control)
    Search.removeFromPostings(spark, rm3, "doc_id", "text", control)
    Faults.arm("postingsNorms.after-aside")
    intercept[Faults.InjectedCrash] {
      Search.removeFromPostings(spark, rm3, "doc_id", "text", idx)
    }
    Faults.reset()
    Search.appendPostings(spark, add99, "doc_id", "text", idx)
    Search.removeFromPostings(spark, rm3, "doc_id", "text", idx)
    val (wantNorms, wantRank) = normsRanking(control)
    assert(wantNorms.map(_._1).toSet == (1L to 40L).toSet - 3L + 99L)
    assert(normsRanking(idx) == (wantNorms, wantRank),
      "a norms-swap crash must converge to the never-crashed twin")
  }

  test("vector-index maintenance: a cell-swap crash converges on the re-run without losing rows") {
    import graft.search.Ann
    val dims = 8
    def vec(i: Long): Seq[Float] =
      (0 until dims).map(d => ((i % 5).toFloat - 2f) * (d + 1) / 10f)
    val centroids: Seq[(Long, Seq[Long])] = (0L until 5L).map { c =>
      (c, (0 until dims).map(d => (c - 2L) * (d + 1) * 100L))
    }
    val qv: Seq[Long] = (0 until dims).map(d => 150L * (d + 1))
    val emb = (0L until 50L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def probe(path: String) =
      Ann.ivfTopKStoredInt(spark, path, "vec_id", "embedding",
                           centroids, qv, k = 50, nprobe = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val removals = (0L until 50L).filter(_ % 7 == 0)
      .map(i => (i, i % 5)).toDF("vec_id", "cell")

    val control = Files.createTempDirectory("graft_sweep_ivf").toString + "/ctl"
    Ann.ivfWriteIndex(Ann.ivfAssignInt(emb, "embedding", centroids), control)
    Ann.ivfRemoveFromIndex(spark, control, removals, "vec_id")
    val want = probe(control)

    for (pt <- Seq("replacePartitions.after-aside", "replacePartitions.after-commit")) {
      val path = Files.createTempDirectory("graft_sweep_ivf").toString + "/idx"
      Ann.ivfWriteIndex(Ann.ivfAssignInt(emb, "embedding", centroids), path)
      Faults.arm(pt)
      intercept[Faults.InjectedCrash] {
        Ann.ivfRemoveFromIndex(spark, path, removals, "vec_id")
      }
      Faults.reset()
      // the re-run's recoverPartitionTrash preamble restores the parked
      // cell BEFORE the layout is listed — without it the cell's
      // surviving rows would be missing from `kept` and dropped
      Ann.ivfRemoveFromIndex(spark, path, removals, "vec_id")
      assert(probe(path) == want, s"$pt diverged from the never-crashed twin")
      val asides = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".trash"))
      assert(asides.isEmpty, s"$pt: trash residue ${asides.mkString(",")}")
    }
  }

  test("vector-index build: a crash before the sidecar leaves 'no index'; the rebuild converges") {
    val (in, store) = (mkInputs(batch1: _*),
                       Files.createTempDirectory("graft_sweep_vb").toString)
    Main.runIngest(spark, in, store, "nomic", now)
    Faults.arm("vectorindex.build.after-index-write")
    intercept[Faults.InjectedCrash] {
      Main.runBuildVectorIndex(spark, store, "nomic", nlist = 2)
    }
    Faults.reset()
    // cells exist but the sidecar (the commit marker) does not: every
    // reader sees "no index" — never a half-trusted probe
    val idxPath = graft.search.VectorIndex.indexPath(store)
    assert(new java.io.File(idxPath).exists())
    assert(!graft.search.VectorIndex.exists(store),
      "an index without its sidecar must read as absent")
    val (lines, nViol) = Main.runFsck(spark, store)
    assert(nViol == 0L, lines.mkString("\n"))
    // the rebuild overwrites the orphan cells and commits the sidecar
    Main.runBuildVectorIndex(spark, store, "nomic", nlist = 2)
    assert(graft.search.VectorIndex.exists(store))
    val ann = Main.runSearchAnn(spark, store, "spark shuffle",
                                k = 3, nprobe = 2)
    assert(ann.nonEmpty, "the rebuilt index must serve")
  }

  test("fsck: a stale aside (live + trash both present) is counted as drift; --repair sweeps exactly it and nothing else") {
    val in = mkInputs(batch1: _*)
    val store = Files.createTempDirectory("graft_sweep_sta").toString
    Main.runIngest(spark, in, store, "nomic", now)
    val want = state(store)
    // a NON-delete writer crashed between its commit rename and the
    // trailing cleanup: the committed table and its superseded aside
    // are BOTH present. No delete/scrub path ever visits this store,
    // so before r17 only the next writer of this exact table would
    // ever retire the aside's bytes.
    val docs = new java.io.File(s"$store/documents.parquet")
    val trash = new java.io.File(s"$store/documents.parquet.trash")
    copyTree(docs, trash)
    // the audit COUNTS it as drift (violation=false — the live copy is
    // the committed one) and touches nothing
    val (pre, preViol) = Main.runFsck(spark, store)
    assert(preViol == 0L, pre.mkString("\n"))
    assert(pre.exists(l => l.contains(""""check":"stale_aside"""") &&
      l.contains("documents.parquet")), pre.mkString("\n"))
    assert(trash.isDirectory, "the audit itself must not sweep")
    // --repair sweeps exactly the aside: trash gone, committed tables
    // byte-identical, restore-from-trash behavior (live missing)
    // untouched by construction — it is a different branch
    val rep = Main.runFsckRepair(spark, store)
    assert(rep.exists(l => l.contains("stale_aside_swept") &&
      l.contains("documents.parquet")), rep.mkString("\n"))
    assert(!trash.exists() && docs.isDirectory)
    assert(state(store) == want, "repair must not touch committed tables")
    val (post, postViol) = Main.runFsck(spark, store)
    assert(postViol == 0L, post.mkString("\n"))
    assert(!post.exists(_.contains("stale_aside")), post.mkString("\n"))
  }

  test("fsck stale-aside audit: a pair under a LIVE table lease is an in-flight swap, not drift; a stale lease does not suppress the count") {
    val in = mkInputs(batch1: _*)
    val store = Files.createTempDirectory("graft_sweep_stl").toString
    Main.runIngest(spark, in, store, "nomic", now)
    val docs = new java.io.File(s"$store/documents.parquet")
    val trash = new java.io.File(s"$store/documents.parquet.trash")
    copyTree(docs, trash)
    // a healthy writer sits in its commit window: its table lease is
    // FRESH. The lock-free audit must not report its aside as drift —
    // before this gate a fsck racing a big ingest produced phantom
    // stale_aside lines that round-over-round diff tooling chased.
    val lock = new java.io.File(s"$store/documents.parquet.lock")
    Files.write(lock.toPath, "in-flight-writer-token".getBytes("UTF-8"))
    val (live, liveViol) = Main.runFsck(spark, store)
    assert(liveViol == 0L, live.mkString("\n"))
    assert(!live.exists(_.contains("stale_aside")),
      "a live lease means an in-flight swap, not crash residue: " +
        live.mkString("\n"))
    // the same pair under a STALE lease (crashed holder — mtime past
    // the takeover horizon) is genuinely residue and must be counted;
    // liveness is judged by the same clock the lock takeover uses
    assert(lock.setLastModified(
      System.currentTimeMillis() - graft.io.Tables.DefaultStaleMs - 60000L))
    val (stale, staleViol) = Main.runFsck(spark, store)
    assert(staleViol == 0L, stale.mkString("\n"))
    assert(stale.exists(l => l.contains(""""check":"stale_aside"""") &&
      l.contains("documents.parquet")), stale.mkString("\n"))
    lock.delete()
  }

  test("table compaction: an after-aside crash restores from trash on the re-run") {
    val dir = Files.createTempDirectory("graft_sweep_cmp").toString
    val path = s"$dir/t.parquet"
    (1L to 100L).toDF("v").repartition(8).write.parquet(path)
    val want = spark.read.parquet(path).as[Long].collect().toSeq.sorted
    Faults.arm("compact.after-aside")
    intercept[Faults.InjectedCrash] { graft.io.Tables.compact(spark, path) }
    Faults.reset()
    assert(!new java.io.File(path).exists(), "crash window: live dir is aside")
    val (_, after) = graft.io.Tables.compact(spark, path)
    assert(after == 1)
    assert(spark.read.parquet(path).as[Long].collect().toSeq.sorted == want)
  }
}
