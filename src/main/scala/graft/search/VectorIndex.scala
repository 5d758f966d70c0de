package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle of the STORE's served vector index — the tier `Main
  * search --ann` reads instead of brute-scanning every embedding, the
  * Spark-native answer to the reference's served vector search
  * (solaius/data_pipeline2 `services/vector_storage.py:69-100` behind
  * `cli/main.py:36-51`, which script-scores the full corpus per
  * query). The index itself is the stored IVF-PQ layout from
  * [[Ann]] (cell-partitioned parquet, PQ codes + full vector per
  * row); this object adds what SERVING it needs:
  *
  *  - a metadata SIDECAR (`_graft_vector_meta.json`, underscore =
  *    invisible to parquet partition discovery) carrying the frozen
  *    coarse centroids and PQ codebooks — probes and appends MUST use
  *    the exact quantizers the index was written with, so they travel
  *    with the index rather than being a caller promise;
  *  - the sample-train BUILD recipe (the q140 posture): train the
  *    quantizers on a deterministic md5-bucket sample of the store's
  *    embeddings, then assign + encode the WHOLE slice under them —
  *    training cost scales with the sample, the build pass with the
  *    corpus;
  *  - RECONCILE maintenance: after every store commit, diff the
  *    index against the committed provider slice and apply the
  *    difference (removals for demoted docs, appends for new rows)
  *    through the per-cell incremental ops. Reconciling rather than
  *    bookkeeping makes maintenance SELF-HEALING: demotions,
  *    re-ingests, provider backfills, and a crash between commit and
  *    maintenance all converge to index ≡ store slice on the next
  *    ingest, with no event log to replay. The diff is ID-level, and
  *    for THIS store id-identity implies value-identity: chunk ids
  *    are content-derived and the providers are pure functions of
  *    content, so a "stale" re-embed recomputes the identical vector
  *    (TTL refreshes change created_at, never the value). A store
  *    with mutable vectors under fixed ids would need a version
  *    column in the diff.
  *
  * WRITER mutations (build / reconcile / balance) serialize through
  * the store's table lease ([[graft.io.Tables.withTableLock]] on the
  * index path — the same lease discipline as the store tables), so
  * concurrent writers cannot interleave their swaps; PROBES remain
  * quiesced-by-assumption during a mutation's per-cell swap windows,
  * as with the underlying [[Ann]] ops. At 100 TB the sidecar swap and
  * the per-cell renames are a table format's atomic commit.
  */
object VectorIndex {

  val MetaFile = "_graft_vector_meta.json"

  /** The frozen quantizer state a probe or append needs, as written
    * at build time. `provider` scopes the index to ONE embedding
    * provider's vectors (mixing providers in one metric space is
    * meaningless); maintenance uses it to pick the store slice to
    * mirror.
    */
  case class Meta(provider: String, m: Int, dims: Int,
                  nlist: Int, codebookK: Int, samplePct: Int, rounds: Int,
                  centroids: Seq[(Long, Seq[Long])],
                  codebooks: Seq[(Long, Seq[Long])])

  def indexPath(storeDir: String): String = s"$storeDir/vector.idx"

  def exists(storeDir: String): Boolean =
    new java.io.File(indexPath(storeDir), MetaFile).exists()

  /** True when the index has at least one `cell=` partition —
    * `spark.read.parquet` cannot infer a schema from an index whose
    * rows were all removed (only the sidecar remains), so every read
    * path guards on this first (same contract as the emptied postings
    * index).
    */
  def hasCells(path: String): Boolean = Ann.indexHasCells(path)

  /** The ONE serving gate: sidecar committed (the build's commit
    * marker — a crashed build's orphan cells must read as "no index",
    * never reach readMeta) AND at least one cell to probe. Every
    * reader that would otherwise probe/readMeta goes through this.
    */
  def servable(storeDir: String): Boolean =
    exists(storeDir) && hasCells(indexPath(storeDir))

  // ------------------------------------------------------------- sidecar

  private def fmtEntries(es: Seq[(Long, Seq[Long])]): String =
    es.map { case (id, v) => (id +: v).mkString("[", ",", "]") }
      .mkString("[", ",", "]")

  private def parseEntries(s: String): Seq[(Long, Seq[Long])] = {
    val inner = s.trim.stripPrefix("[").stripSuffix("]")
    if (inner.isEmpty) Seq.empty
    else inner.split("\\],\\[").toSeq.map { e =>
      val xs = e.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.toLong).toSeq
      (xs.head, xs.tail)
    }
  }

  /** Write the sidecar. The format is numbers plus ONE string field;
    * the provider name is restricted to a quote-free charset at write
    * time so the reader needs no JSON escaping (the postings sidecar's
    * write-time-guard contract).
    */
  def writeMeta(path: String, meta: Meta): Unit = {
    require(meta.provider.matches("[A-Za-z0-9_.-]+"),
      s"provider name must be [A-Za-z0-9_.-]+ to travel in the index " +
        s"sidecar unescaped, got: '${meta.provider}'")
    require(meta.dims % meta.m == 0,
      s"dims=${meta.dims} must split into m=${meta.m} subspaces")
    new java.io.File(path).mkdirs()
    // REPLACE, never truncate: maintenance (balance/reindex/reconcile)
    // rewrites the sidecar of a LIVE index, and an in-place truncation
    // mutates the same inode a store snapshot hardlinked — rewriting
    // history and pairing a rolled-back cell tree with post-split
    // centroids. The tmp+atomic-move swaps the directory entry to a
    // NEW inode; the snapshot's link keeps the old bytes.
    val target = new java.io.File(path, MetaFile).toPath
    val tmp = new java.io.File(path, s"$MetaFile.tmp").toPath
    java.nio.file.Files.write(
      tmp,
      (s"""{"provider":"${meta.provider}","m":${meta.m},""" +
       s""""dims":${meta.dims},"nlist":${meta.nlist},""" +
       s""""codebookK":${meta.codebookK},"samplePct":${meta.samplePct},""" +
       s""""rounds":${meta.rounds},""" +
       s""""centroids":${fmtEntries(meta.centroids)},""" +
       s""""codebooks":${fmtEntries(meta.codebooks)}}""").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def readMeta(path: String): Meta = {
    val f = new java.io.File(path, MetaFile)
    require(f.exists(),
      s"no vector-index metadata at $f — index not written by VectorIndex.build?")
    val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    def fail(what: String): Nothing =
      throw new IllegalStateException(s"malformed vector-index sidecar ($what) in $f")
    val provider = """"provider":"([A-Za-z0-9_.-]+)"""".r
      .findFirstMatchIn(s).map(_.group(1)).getOrElse(fail("provider"))
    val m = """"m":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
      .getOrElse(fail("m"))
    val dims = """"dims":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
      .getOrElse(fail("dims"))
    val nlist = """"nlist":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
      .getOrElse(fail("nlist"))
    val codebookK = """"codebookK":(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(fail("codebookK"))
    val samplePct = """"samplePct":(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(fail("samplePct"))
    val rounds = """"rounds":(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(fail("rounds"))
    val ci = s.indexOf("\"centroids\":")
    val ki = s.indexOf("\"codebooks\":")
    if (ci < 0 || ki < 0 || ki < ci) fail("centroids/codebooks")
    val cents = parseEntries(
      s.substring(ci + "\"centroids\":".length, ki).trim.stripSuffix(","))
    val books = parseEntries(
      s.substring(ki + "\"codebooks\":".length).trim.stripSuffix("}"))
    Meta(provider, m, dims, nlist, codebookK, samplePct, rounds, cents, books)
  }

  // --------------------------------------------------------------- build

  /** Build the stored index over `emb` (the store's provider slice)
    * with SAMPLE-TRAINED quantizers — the q140 recipe, which is the
    * actual 100 TB posture: the deterministic md5-bucket sample
    * ([[graft.dedup.Dedup.hashBucket]] `< samplePct`) feeds both
    * trainers ([[Ann.kmeansFitInt]] coarse cells,
    * [[Ann.pqTrainInt]] per-subspace codebooks), then the WHOLE slice
    * is assigned + encoded under the trained books in one pass
    * ([[Ann.ivfPqWriteIndex]]). A slice too small for the sample to
    * cover the requested k trains on the full slice instead, and
    * nlist/codebookK clamp to the vector count (a 5-chunk store gets
    * a 5-cell index, not a crash) — the 100 TB defaults stay the
    * defaults without making small stores unbuildable.
    */
  def build(spark: SparkSession, emb: DataFrame, idCol: String,
            vecCol: String, path: String, provider: String,
            nlist: Int = 8, codebookK: Int = 8, m: Int = 8,
            dims: Int = graft.embed.Embedding.Dims,
            samplePct: Int = 50, rounds: Int = 2): Meta =
    graft.io.Tables.withTableLock(path) {
    val (train, nTrain) = trainingSlice(emb, idCol, nlist, codebookK, samplePct)
    require(nTrain > 0, s"no '$provider' embeddings to index at $path")
    val kC = math.min(nlist.toLong, nTrain).toInt
    val kB = math.min(codebookK.toLong, nTrain).toInt
    // both trainers read ONE pinned quantization of the slice
    val (cents, books) = Ann.withIntVec(train, idCol, vecCol) { iv =>
      (Ann.kmeansFitInt(iv, k = kC, rounds = rounds, dims = dims),
       Ann.pqTrainInt(iv, k = kB, rounds = rounds, m = m, dims = dims))
    }
    val meta = Meta(provider, m, dims, nlist, codebookK, samplePct, rounds, cents, books)
    Ann.ivfPqWriteIndex(emb, idCol, vecCol, cents, books, path, m, dims)
    // sidecar LAST — it is the index's commit marker (`exists` keys on
    // it): a crash here leaves cells without a sidecar, which every
    // reader treats as "no index" and the next build overwrites clean
    graft.io.Faults.point("vectorindex.build.after-index-write")
    writeMeta(path, meta)
    meta
    }

  /** The build's TRAINING SLICE under a recipe: the deterministic
    * md5-bucket sample, falling back to the full slice when the sample
    * cannot cover the requested k — the ONE copy of the rule, shared
    * by [[build]] and the drift check (which must replay the build
    * recipe bit-for-bit or report phantom drift on stationary data).
    * Returns (train, nTrain).
    */
  private[graft] def trainingSlice(slice: DataFrame, idCol: String,
                                   nlist: Int, codebookK: Int,
                                   samplePct: Int): (DataFrame, Long) = {
    val sample = slice.filter(
      graft.dedup.Dedup.hashBucket(col(idCol), 100) < samplePct)
    val n = sample.count()
    if (n >= math.max(nlist, codebookK).toLong) (sample, n)
    else { val a = slice.count(); (slice, a) }
  }

  /** Fresh coarse centroids under `meta`'s EXACT build recipe
    * (sample predicate, fallback rule, k clamp, round budget — all
    * from the sidecar) — the drift check's training side. On a
    * stationary slice the deterministic trainer reproduces the build
    * centroids bit-for-bit.
    */
  def trainCoarse(slice: DataFrame, idCol: String, vecCol: String,
                  meta: Meta): Seq[(Long, Seq[Long])] = {
    val (train, nTrain) = trainingSlice(slice, idCol, meta.nlist,
                                        meta.codebookK, meta.samplePct)
    require(nTrain > 0, "no embeddings to train on")
    Ann.withIntVec(train, idCol, vecCol)(
      Ann.kmeansFitInt(_, k = math.min(meta.nlist.toLong, nTrain).toInt,
                       rounds = meta.rounds, dims = meta.dims))
  }

  // ----------------------------------------------------------- reconcile

  /** Reconcile the stored index with `storeSlice` (the committed
    * embeddings of the index's provider): rows the store no longer has
    * leave via the per-cell remove (their cells read straight from the
    * index's own partition column — no re-assignment), rows the index
    * lacks arrive via the frozen-quantizer append. Both diffs are
    * computed EAGERLY (pinned) before either mutation: the remove
    * swaps cell directories out from under the lazy index read, so a
    * plan still referencing the pre-swap file listing must never
    * execute after it.
    *
    * Per-ingest cost: two anti-joins over the id columns (the index
    * side is a codes-free, vector-free ids+cell projection; the store
    * side one slice scan), then per-cell writes sized by the diff —
    * never a rebuild. Returns (appended, removed) row counts.
    */
  /** NOTE on in-place vector replacements: the id-set diff below
    * cannot see a vector swapped under a LIVE id (present on both
    * sides), so the writer that replaces vectors —
    * [[graft.Main.ingestBatch]]'s changed-content path — ERASES those
    * ids from the index BEFORE its store commit; they then arrive
    * here as ordinary appends and re-encode the new vector. Keeping
    * the erasure writer-side (rather than a refresh parameter here)
    * is what makes the window crash-safe: the changed-id set is
    * derived by comparing pre-commit content and is unrecoverable
    * after the commit, so it must act before it.
    */
  def reconcile(spark: SparkSession, path: String, storeSlice: DataFrame,
                idCol: String, vecCol: String): (Long, Long) =
    graft.io.Tables.withTableLock(path) { graft.io.Pins.scope {
    val meta = readMeta(path)
    val slice = storeSlice.select(col(idCol), col(vecCol))
    val idx =
      if (hasCells(path))
        Some(spark.read.parquet(path)
          .select(col(idCol), col("cell").cast("long").as("cell")))
      else None
    val removals = idx.map(i => graft.io.Pins.pin(
      i.join(slice.select(col(idCol)), Seq(idCol), "left_anti")))
    val appends = graft.io.Pins.pin(idx match {
      case Some(i) => slice.join(i.select(col(idCol)), Seq(idCol), "left_anti")
      case None    => slice
    })
    val nRemoved = removals.map(_.count()).getOrElse(0L)
    val nAppended = appends.count()
    if (nRemoved > 0)
      removals.foreach(Ann.ivfRemoveFromIndex(spark, path, _, idCol))
    if (nAppended > 0)
      Ann.ivfPqAppendIndex(appends, idCol, vecCol, meta.centroids,
                           meta.codebooks, path, meta.m, meta.dims)
    (nAppended, nRemoved)
    }}

  // ------------------------------------------------------------- balance

  /** Run the automatic hot-cell balance pass ([[Ann.ivfBalanceIndex]])
    * over the stored index and COMMIT the updated centroid list back
    * into the sidecar — the step that makes balancing safe to run
    * against a served index: every later probe, append, and reconcile
    * reads its quantizers from the sidecar, so the new routing cells
    * become visible exactly where the old ones were. Codebooks are
    * untouched (a split changes routing, never encoding). Returns the
    * action report.
    */
  def balance(spark: SparkSession, path: String, maxRows: Long,
              idCol: String, vecCol: String,
              maxSplits: Int = 16): Seq[Ann.BalanceAction] =
    graft.io.Tables.withTableLock(path) {
      val meta = readMeta(path)
      // the sidecar commits after EVERY split (the onCentroidsUpdated
      // hook), not once at the end: a crash mid-pass then loses at
      // most the in-flight split's routing, not the whole pass's. The
      // remaining window — between a split's directory swap and its
      // sidecar write — leaves the children unrouted (their rows
      // invisible to probes until `Main index` rebuilds); that resid-
      // ual is the table-format-commit gap every maintenance op here
      // documents.
      val (_, report) = Ann.ivfBalanceIndex(spark, path, meta.centroids,
        maxRows, idCol, vecCol, dims = meta.dims, maxSplits = maxSplits,
        onCentroidsUpdated = cs => writeMeta(path, meta.copy(centroids = cs)))
      report
    }

  // --------------------------------------------------------------- probe

  /** Serve a top-k probe from the stored index under the quantizers of
    * its sidecar `meta` (the caller's [[readMeta]] of `path`, parsed
    * once per request) — the [[Ann.ivfPqTopKStored]] scan/fetch split
    * (partition-pruned cells, codes-only ADC scan, constant-size
    * exact re-rank). An index with no cells fails loudly. The caller
    * quantizes the query onto the integer grid ([[Ann.quantizeL]]).
    */
  def topK(spark: SparkSession, path: String, meta: Meta, idCol: String,
           vecCol: String, queryVec: Seq[Long], k: Int = 10, nprobe: Int = 2,
           rerankFactor: Int = 3): DataFrame =
    Ann.ivfPqTopKStored(spark, path, idCol, vecCol, meta.centroids,
                        meta.codebooks, queryVec, k, nprobe, rerankFactor,
                        meta.m, meta.dims)
}
