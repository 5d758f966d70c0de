package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Pins.pin
import graft.io.Tables

/** THE STORE'S INCREMENTAL PROFILE ARTIFACT — the product wiring of
  * the mergeable-sketch tier (q185/q186/q187): `Main profile` used to
  * rescan the whole chunks table AND re-tokenize the corpus for the
  * zipf slope on every call, while the engine already shipped the
  * mergeable state that makes the refresh batch-sized
  * ([[Profile.mergeSketchStates]] / [[Profile.mergeHistograms]] /
  * [[Profile.mergeCmsSketches]]). This module is that state as a
  * store artifact: every `Main.ingestBatch` folds its batch's DELTA
  * in (read stored → merge → commit, never a rescan of history) and
  * `Main profile` serves the report from it — at 100 TB a cron'd
  * profile reads a register/histogram/sketch-sized artifact instead
  * of paying a daily corpus scan.
  *
  * Four parts, one per report family, each under its own merge law:
  *
  *  - `hist`  (strategy, bin, cnt): the log2 length histogram behind
  *    the per-strategy quantiles — counts ADD, so batch deltas fold
  *    and demotions SUBTRACT exactly (the q186 contract).
  *  - `vocab` (term, freq): the zipf-slope term table
  *    ([[TextStats.termFrequencies]], whitespace tokens) — additive,
  *    subtractable, vocabulary-sized: the only UNBOUNDED part, but
  *    Heaps-law sublinear in corpus tokens and garbage-token-inclusive
  *    by necessity (measured: PROBE_INCREMENTAL_PROFILE.md artifact-
  *    footprint section; pinned sublinear in ScaleCurveSpec). A
  *    df-floor tail tier is DELIBERATELY absent: `Main profile` and
  *    q190 serve the zipf slope from this part against the
  *    full-recompute oracle VERBATIM, and dropping tail terms changes
  *    the slope — the exactness contract forbids lossy compaction.
  *  - `cms`   (j, bucket, cnt): the Count-Min sketch over the `\W+`
  *    lowercase token model — additive, subtractable, d·w rows
  *    forever; serves `--token=` point estimates (the q187 contract).
  *  - `regs`  (shard, strategy, bucket, m_reg, occ): the HLL register
  *    state ([[Profile.sketchStateBy]]) behind the distinct-token
  *    estimate, SHARDED by the doc-id hash bucket ([[RegShards]] ways)
  *    so deletion has a bounded exact path. Registers merge by MAX —
  *    idempotent under re-ingest but NOT subtractable (HLL deletion is
  *    impossible in general). The shard dimension is the workaround:
  *    a takedown ([[commitAfterDelete]]) REBUILDS only the deleted
  *    docs' shards from those shards' surviving chunks — post-delete
  *    the served registers are bit-identical to a full rescan at
  *    1/[[RegShards]] of the tokenize cost per touched shard. Ingest
  *    subtractions (demotions, re-ingested replacements) reuse the
  *    SAME shard rebuild behind a COST GATE ([[MaxExactShards]]): a
  *    small-overlap batch — the common case — serves an EXACT register
  *    line too, while a WIDE demotion batch stays HISTORY-MONOTONE by
  *    decision (rebuilding most shards would turn routine ingest into
  *    a near-rescan; demotion is a dedup side effect, not an erasure
  *    obligation) and says so in the runlog
  *    (`regs_monotone_after_demotion`): the estimate is then an upper
  *    bound until a `--rebuild` — both paths spec-pinned in
  *    E2eMainSpec. Serving
  *    collapses the shard dimension by register-wise max
  *    ([[registersAcrossShards]]), which equals the unsharded state
  *    exactly (max is associative over any partition of the docs).
  *
  * Consistency across crash windows is by FINGERPRINT, the vector
  * index's reconcile philosophy applied to a sketch that cannot diff
  * ids: the artifact records the chunks-table DIRECTORY LISTING it
  * summarizes (names + sizes — every commit writes fresh part files,
  * so any table swap changes it; no data scan). A fold is only
  * applied when the stored fingerprint matches the pre-commit
  * listing; any divergence — a crash between the chunks commit and
  * the artifact commit, a compact/repair that rewrote files, a
  * foreign writer — is DETECTED on the next touch and healed by a
  * rebuild from the live table. Readers fall back to a rescan on
  * mismatch, so a stale artifact can never serve a wrong report.
  */
object ProfileState {

  val ArtifactName = "profile_state.parquet"

  def artifactPath(storeDir: String): String = s"$storeDir/$ArtifactName"

  /** Shard count for the register part's doc-id dimension: a delete
    * rebuilds its touched shards' registers from 1/32 of the corpus
    * per shard. 32 keeps the part tiny (≤ 32·strategies·256 rows)
    * while making a single-doc takedown a ~3% tokenize, not a rescan.
    */
  val RegShards = 32

  /** Driver-side twin of `Dedup.hashBucket(doc_id, RegShards)` — the
    * first 8 md5 hex digits of the id as an integer, mod the shard
    * count. A delete computes its touched shards from the id list
    * without a scan.
    */
  def shardOf(docId: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(docId.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % RegShards
  }

  /** The four stored parts as frames (see the object doc for schemas
    * and merge laws).
    */
  case class Parts(hist: DataFrame, regs: DataFrame, cms: DataFrame,
                   vocab: DataFrame)

  /** The `\W+` lowercase token model the regs/cms parts share —
    * [[Profile.distinctTokenProfile]]'s convention, and the one
    * `--token=` probes are normalized into. Carries the doc shard for
    * the register part; inputs must expose `doc_id`.
    */
  private def sketchTokens(chunks: DataFrame): DataFrame =
    chunks.select(
      col("strategy"),
      graft.dedup.Dedup.hashBucket(col("doc_id"), RegShards).as("shard"),
      explode(filter(split(lower(coalesce(col("content"), lit(""))), "\\W+"),
                     t => t =!= "")).as("__tok"))

  /** Build all four parts from a chunks frame — the one-shot form
    * (a full-table rebuild) AND the per-batch delta (the same code on
    * the batch's kept chunks): one definition, so the fold and the
    * rescan cannot drift. `chunks` must carry (doc_id, strategy,
    * content).
    */
  def fromChunks(chunks: DataFrame): Parts = {
    val toks = sketchTokens(chunks)
    Parts(
      hist = Profile.lengthHistogram(
        chunks.withColumn("len", length(col("content"))), "strategy", "len"),
      regs = Profile.sketchStateBy(toks, Seq("shard", "strategy"), "__tok"),
      cms = Profile.cmsSketch(toks.select(col("__tok").as("token")), "token"),
      vocab = TextStats.termFrequencies(chunks, "content"))
  }

  /** Collapse the register part's shard dimension for serving:
    * register-wise max across shards equals the unsharded state
    * bit-for-bit (max is associative over any partition of the docs).
    */
  def registersAcrossShards(regs: DataFrame): DataFrame =
    Profile.mergeSketchStates("strategy", regs.drop("shard"))

  /** The additive parts with their counts NEGATED — the exact-
    * subtraction side of a fold (demoted / re-ingested docs' stored
    * chunks leave the profile the way they left the table). The
    * register part is emptied, never negated: registers do not
    * subtract (see the object doc).
    */
  private def negate(p: Parts): Parts = Parts(
    hist = p.hist.withColumn("cnt", -col("cnt")),
    regs = p.regs.limit(0),
    cms = p.cms.withColumn("cnt", -col("cnt")),
    vocab = p.vocab.withColumn("freq", -col("freq")))

  /** Fold any number of parts under each family's merge law.
    * Subtract-to-zero rows are dropped, so a fold that removes a
    * doc's last occurrence of a bin/bucket/term converges to exactly
    * the rows a rescan would produce.
    */
  def merge(parts: Parts*): Parts = Parts(
    hist = Profile.mergeHistograms("strategy", parts.map(_.hist): _*)
      .filter(col("cnt") =!= 0L),
    regs = Profile.mergeSketchStatesBy(Seq("shard", "strategy"),
                                       parts.map(_.regs): _*),
    cms = Profile.mergeCmsSketches(parts.map(_.cms): _*)
      .filter(col("cnt") =!= 0L),
    vocab = parts.map(_.vocab).reduce(_.unionByName(_))
      .groupBy(col("term")).agg(sum(col("freq")).as("freq"))
      .filter(col("freq") =!= 0L))

  /** One ingest batch's fold: stored state (absent for a fresh store)
    * + the batch's kept chunks − the stale stored chunks the commit
    * replaced or pruned (demotions and re-ingested docs — the same
    * stale set the postings maintenance swaps out).
    */
  def fold(old: Option[Parts], addChunks: DataFrame,
           subChunks: Option[DataFrame]): Parts =
    merge((old.toSeq :+ fromChunks(addChunks)) ++
      subChunks.map(s => negate(fromChunks(s))): _*)

  /** PRE-commit half of the maintenance both chunk-table writers
    * (ingest, delete) share: is the stored state in sync with the
    * table about to be rewritten — i.e. is a fold valid — and if so,
    * what is the base. A fresh store (no table yet) folds from empty;
    * an absent or out-of-sync artifact means "rebuild after commit".
    */
  def preCommitGate(spark: SparkSession, storeDir: String,
                    chunksDir: java.io.File): (Boolean, Option[Parts]) =
    if (!chunksDir.exists()) (true, None)
    else read(spark, storeDir) match {
      case Some((p, fp)) if fp == dirFingerprint(chunksDir) => (true, Some(p))
      case _ => (false, None)
    }

  /** POST-commit half: fold the writer's add/subtract deltas onto the
    * gated base (or rebuild from the freshly-committed table when the
    * gate said out-of-sync) and commit with the post-commit
    * fingerprint — one definition, so ingest's and delete's fold
    * semantics cannot drift.
    */
  /** Cost gate for the ingest-side EXACT register rebuild: when the
    * subtracted docs (demotions + re-ingested replacements) touch at
    * most this many of the [[RegShards]] shards, their shards'
    * registers rebuild from the committed table's survivors — the
    * post-ingest register line then serves ≡ rescan at shard-bounded
    * tokenize cost, ending the history-monotone carve-out for the
    * common small-overlap batch. A wide-demotion batch (more touched
    * shards than this) keeps the documented monotone behavior: the
    * rebuild there approaches a full rescan, and demotion is a dedup
    * side effect, not an erasure obligation (`Main delete` rebuilds
    * its shards UNCONDITIONALLY — erasure pays whatever it costs).
    */
  val MaxExactShards = 8

  def commitAfterChunks(spark: SparkSession, storeDir: String,
                        chunksDir: java.io.File, foldable: Boolean,
                        oldParts: Option[Parts], addChunks: DataFrame,
                        subChunks: Option[DataFrame],
                        rebuildFrom: => DataFrame,
                        subDocIds: Seq[String] = Nil): Option[Long] = {
    val newFp = dirFingerprint(chunksDir)
    // pin the (doc_id, strategy, content) input ONCE: the four part
    // writes are four actions, and an unpinned input would re-chunk/
    // re-tokenize per part (4 batch passes on the fold path, 4 table
    // scans on the rebuild path); the pin is freed with the commit
    graft.io.Pins.scope {
      val base = pin((if (foldable) addChunks else rebuildFrom)
        .select(col("doc_id"), col("strategy"), col("content")))
      val folded =
        if (foldable) fold(oldParts, base, subChunks)
        else fromChunks(base)
      val touched = subDocIds.map(shardOf).distinct
      if (foldable && touched.nonEmpty && touched.size <= MaxExactShards) {
        // demotion-exact registers behind the cost gate: the touched
        // shards' registers rebuild from the COMMITTED table (the
        // delete path's mechanism), every other shard keeps its fold
        val touchedLive = pin(rebuildFrom
          .filter(graft.dedup.Dedup.hashBucket(col("doc_id"), RegShards)
                    .isin(touched: _*))
          .select(col("doc_id"), col("strategy"), col("content")))
        val nRescanned = touchedLive.count()
        val regs = folded.regs.filter(!col("shard").isin(touched: _*))
          .unionByName(fromChunks(touchedLive).regs)
        graft.io.Faults.point("profileState.before-commit")
        write(spark, storeDir, folded.copy(regs = regs), newFp)
        Some(nRescanned)
      } else {
        graft.io.Faults.point("profileState.before-commit")
        write(spark, storeDir, folded, newFp)
        None
      }
    }
  }

  /** The DELETE-side commit: the additive parts fold the exact
    * subtraction (as [[commitAfterChunks]] would), and the register
    * part — which cannot subtract — is made EXACT anyway by rebuilding
    * only the deleted docs' shards from those shards' surviving rows
    * in the freshly-pruned table: post-delete the served registers
    * equal a full rescan's, at touched-shards tokenize cost instead of
    * the corpus (the IO is one column-pruned pass over the table; the
    * tokenize — the dominant cost — is shard-bounded). An out-of-sync
    * artifact rebuilds wholesale, exactly like the ingest path.
    *
    * Returns the number of live chunk rows re-tokenized for the
    * register rebuild (None on the wholesale-rebuild path) so the
    * caller can runlog the bound a spec asserts.
    */
  def commitAfterDelete(spark: SparkSession, storeDir: String,
                        chunksDir: java.io.File, foldable: Boolean,
                        oldParts: Option[Parts], subChunks: DataFrame,
                        deletedIds: Seq[String],
                        liveChunks: => DataFrame): Option[Long] = {
    val newFp = dirFingerprint(chunksDir)
    graft.io.Pins.scope {
      if (!foldable || oldParts.isEmpty) {
        val base = pin(liveChunks
          .select(col("doc_id"), col("strategy"), col("content")))
        graft.io.Faults.point("profileState.before-commit")
        write(spark, storeDir, fromChunks(base), newFp)
        None
      } else {
        val touched = deletedIds.map(shardOf).distinct
        // pinned: the shard-bounded survivor slice is counted (the
        // runlog's scan-bound evidence) AND tokenized for the register
        // rebuild — one scan of the touched shards, not two
        val touchedLive = pin(liveChunks
          .filter(graft.dedup.Dedup.hashBucket(col("doc_id"), RegShards)
                    .isin(touched: _*))
          .select(col("doc_id"), col("strategy"), col("content")))
        val nRescanned = touchedLive.count()
        val rebuilt = fromChunks(touchedLive).regs
        val regs = oldParts.get.regs
          .filter(!col("shard").isin(touched: _*))
          .unionByName(rebuilt)
        val parts = merge(oldParts.get, negate(fromChunks(subChunks)))
          .copy(regs = regs)
        graft.io.Faults.point("profileState.before-commit")
        write(spark, storeDir, parts, newFp)
        Some(nRescanned)
      }
    }
  }

  /** Deterministic identity of a table directory: md5 over the sorted
    * (relative-path, length) listing. Every swap commit in this
    * engine writes fresh part-file names, so any committed change —
    * and any compact/repair rewrite — changes the fingerprint; no
    * data is read.
    */
  def dirFingerprint(dir: java.io.File): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val lines = walk(dir)
      .map(f => s"${dir.toPath.relativize(f.toPath)}:${f.length()}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private val SyncFile = "_sync"

  /** Commit the artifact (all four parts + the fingerprint of the
    * chunks table they summarize) through the shared tmp +
    * aside-rename protocol — one atomic swap for the whole artifact,
    * fault-pointed like every other commit.
    */
  def write(spark: SparkSession, storeDir: String, parts: Parts,
            fingerprint: String): Unit =
    Tables.commitArtifact(artifactPath(storeDir)) { tmp =>
      parts.hist.coalesce(1).write.mode("overwrite").parquet(s"$tmp/hist")
      parts.regs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/regs")
      parts.cms.coalesce(1).write.mode("overwrite").parquet(s"$tmp/cms")
      // vocabulary-sized (not register-bounded) — keep the writer's
      // parallelism; every other part is ≤ a few hundred rows
      parts.vocab.write.mode("overwrite").parquet(s"$tmp/vocab")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, SyncFile),
        fingerprint.getBytes("UTF-8"))
    }

  /** Read the stored artifact with the writer-crash preamble (a
    * commit that died between aside-rename and commit parked the only
    * copy in `.trash`). Returns the parts and the recorded
    * fingerprint; None when absent or structurally incomplete (a
    * crashed pre-protocol writer) — callers treat both as "rebuild".
    */
  def read(spark: SparkSession, storeDir: String)
      : Option[(Parts, String)] = {
    val f = new java.io.File(artifactPath(storeDir))
    Tables.restoreFromTrash(f.toString)
    val sync = new java.io.File(f, SyncFile)
    val complete = f.isDirectory && sync.isFile &&
      Seq("hist", "regs", "cms", "vocab")
        .forall(p => new java.io.File(f, p).isDirectory)
    if (!complete) None
    else {
      val regs = spark.read.parquet(s"$f/regs")
      // a pre-shard artifact (regs without the doc-shard column) cannot
      // fold or serve under the current laws — read as "absent", so the
      // next touch rebuilds it in the sharded layout
      if (!regs.columns.contains("shard")) None
      else Some((
        Parts(
          hist = spark.read.parquet(s"$f/hist"),
          regs = regs,
          cms = spark.read.parquet(s"$f/cms"),
          vocab = spark.read.parquet(s"$f/vocab")),
        new String(java.nio.file.Files.readAllBytes(sync.toPath), "UTF-8").trim))
    }
  }

  /** The stored parts ONLY IF their recorded fingerprint matches the
    * live chunks table — the gate that makes every crash window,
    * foreign rewrite, or missed fold self-announcing: mismatch reads
    * as "absent", and the caller rescans/rebuilds.
    */
  def readSynced(spark: SparkSession, storeDir: String,
                 chunksDir: java.io.File): Option[Parts] =
    read(spark, storeDir).collect {
      case (parts, fp)
          if chunksDir.exists() && fp == dirFingerprint(chunksDir) => parts
    }
}
