package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Pins.pin

/** Approximate nearest-neighbor search over an embedding column —
  * the scale path beyond the reference's exact brute-force kNN
  * (solaius/data_pipeline2 `services/vector_storage.py:69-100`, which
  * script-scores every vector).
  *
  * Two tiers:
  *  - [[intDotTopK]] exact MIPS baseline in integer arithmetic
  *    (oracle-verifiable bit-for-bit; TakeOrderedAndProject plan);
  *  - [[lshBuckets]]/[[lshTopK]] sign-random-projection LSH: vectors
  *    hash to a small bucket id; a query probes only its own bucket
  *    (plus optional multi-probe neighbors). At 100 TB the bucketed
  *    table is written partitioned by `bucket`, so a probe reads ~1/2^b
  *    of the data — partition pruning does the work, no index server.
  *
  * Hyperplanes are deterministic (seeded md5 over (plane, dim)), so
  * bucket assignment is reproducible across runs and engines.
  */
object Ann {

  /** Quantize a float vector column to an exact integer grid (1e-3).
    * The multiply happens in DOUBLE (float×int would stay float in
    * Spark and round differently than the oracle's double math).
    */
  def intVec(vec: Column): Column =
    // native kernel — bit-identical to
    // transform(vec, x => round(x.cast("double") * 1000).cast("long"))
    // (QuantizeSpec pins it) without the interpreted per-element lambda
    graft.functions.VectorExpressions.quantizeMilli(vec)

  /** Exact integer dot product of two int-vector columns — native
    * codegen'd kernel (integer sums are order-independent, so this is
    * bit-identical to any fold of the same products).
    */
  def intDot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.longDot(a, b)

  /** Exact top-k by integer-quantized inner product (MIPS baseline).
    * Ties break on ascending id for determinism.
    */
  def intDotTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                 queryVec: Seq[Float], k: Int = 10): DataFrame = {
    val q = typedLit(queryVec.map(quantizeL))
    embeddings
      .withColumn("dot", intDot(intVec(col(vecCol)), q))
      .orderBy(col("dot").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dot"))
  }

  /** Driver-side analogue of [[intVec]]'s per-element quantization:
    * HALF_UP away from zero, matching Spark's and DuckDB's `round` on
    * doubles (`Math.round` would round -0.5 toward +∞ and diverge).
    */
  def quantizeL(x: Float): Long =
    BigDecimal(x.toDouble * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Exact top-k per query for a BATCH of query vectors — the serving
    * shape: broadcast the (small) query set against one scan of the
    * embeddings, score with the codegen integer dot, rank per query
    * with a window. ONE pass over the corpus regardless of query
    * count; the only shuffle is the per-query rank partition.
    */
  def intDotTopKBatch(embeddings: DataFrame, idCol: String, vecCol: String,
                      queries: DataFrame, queryIdCol: String, queryVecCol: String,
                      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = embeddings
      .select(col(idCol), intVec(col(vecCol)).as("__iv"))
      .crossJoin(broadcast(queries.select(col(queryIdCol).as("query_id"),
                                          col(queryVecCol).as("__qv"))))
      .withColumn("dot", intDot(col("__iv"), col("__qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col(idCol), col("dot"))
  }

  /** MMR diversified top-k — Maximal Marginal Relevance (Carbonell &
    * Goldstein '98) over the exact integer grid: from a relevance
    * pool (the [[intDotTopK]] top-`poolSize` scan), greedily select k
    * results trading relevance against redundancy to what's already
    * selected. λ is fixed at 1/2, so the marginal score is the pure
    * integer `rel − red` (red = the candidate's max dot to any
    * selected result; the first pick is pure relevance, red ≡ 0) —
    * no float appears anywhere, and ties break (score desc, id asc)
    * like every ranking here. The retrieval-side answer to a near-dup
    * corpus: plain top-k returns the same passage k times, MMR
    * returns it once and spends the rest of the budget on coverage.
    *
    * Scale shape: the corpus pays ONE distributed scored scan
    * (TakeOrdered top-`poolSize` — no global sort); the greedy loop
    * is driver-side over the constant-size pool (≤ poolSize² dots on
    * ≤ poolSize rows — the standard serving-side rerank posture, same
    * constant-size-collect contract as the recall monitor).
    */
  def mmrRerank(embeddings: DataFrame, idCol: String, vecCol: String,
                queryVec: Seq[Float], k: Int = 5,
                poolSize: Int = 20): DataFrame = {
    require(k <= poolSize, s"k=$k must fit in the pool ($poolSize)")
    val spark = embeddings.sparkSession
    val q = typedLit(queryVec.map(quantizeL))
    val idType = embeddings.schema(idCol).dataType
    val pool = embeddings
      .select(col(idCol), intVec(col(vecCol)).as("__iv"))
      .withColumn("rel", intDot(col("__iv"), q))
      .orderBy(col("rel").desc, col(idCol))
      .limit(poolSize)
      .collect().toSeq
      .map(r => (r.get(0), r.getAs[Long]("rel"),
                 r.getSeq[Long](1).toIndexedSeq))
    // ids order under their NATIVE type (the tie order every ranking
    // here uses) — a string compare on numeric ids would rank 10 < 2
    def idLt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Number, y: java.lang.Number) =>
        x.longValue < y.longValue
      case _ => a.toString < b.toString
    }
    def dot(a: IndexedSeq[Long], b: IndexedSeq[Long]): Long =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Any, Long, Long)]
    val selVecs = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Long]]
    var remaining = pool
    while (selected.size < math.min(k, pool.size)) {
      val best = remaining.map { case (id, rel, v) =>
        val red = if (selVecs.isEmpty) 0L else selVecs.iterator.map(dot(v, _)).max
        (id, rel, red, v)
      }.reduceLeft { (a, b) =>
        val (sa, sb) = (a._2 - a._3, b._2 - b._3)
        if (sb > sa || (sb == sa && idLt(b._1, a._1))) b else a
      }
      selected += ((best._1, best._2, best._3))
      selVecs += best._4
      remaining = remaining.filterNot(_._1 == best._1)
    }
    val rows = selected.zipWithIndex.map { case ((id, rel, red), i) =>
      org.apache.spark.sql.Row((i + 1).toLong, id, rel, red)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rnk",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(idCol, idType),
        org.apache.spark.sql.types.StructField("rel",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("red",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** kNN LABEL VOTE — majority-label classification over the exact
    * integer dot-product ranking: each query's k nearest OTHER
    * vectors (the [[intDotTopKBatch]] total order (dot desc, id),
    * self excluded) vote with their labels; vote ties break to the
    * smallest label, so the prediction is deterministic everywhere.
    * The label-propagation / embedding-space-quality probe of a
    * curation pipeline (does a held-out vector's neighborhood agree
    * with its label?).
    *
    * Scale shape: the query side broadcasts (as in batch kNN), the
    * corpus is scanned once; k+1 covers the self hit, the re-rank
    * and vote windows run on (|queries|·k)-sized state only.
    */
  def knnLabelVote(corpus: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, queries: DataFrame, queryIdCol: String,
                   queryVecCol: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nn = intDotTopKBatch(corpus, idCol, vecCol,
                             queries, queryIdCol, queryVecCol, k + 1)
      .filter(col(idCol) =!= col("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col(idCol))
    val top = nn.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
    val votes = top.select(col("query_id"), col(idCol))
      .join(corpus.select(col(idCol), col(labelCol).cast("long").as("__nl")),
            Seq(idCol))
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("__nl"))
    votes.withColumn("__rv", row_number().over(wv))
      .filter(col("__rv") === 1)
      .select(col("query_id"), col("__nl").as("pred_label"), col("votes"))
  }

  /** HARD NEGATIVE MINING — the contrastive-training data op: for
    * each anchor, the k nearest corpus vectors carrying a DIFFERENT
    * label (exact integer dot ranking, ties to ascending id). The
    * nearest wrong-label neighbors are exactly the negatives a
    * contrastive/triplet objective learns the most from (easy random
    * negatives saturate the loss); self never appears (same label).
    * Output: query_id, rnk, id, dot, the negative's label.
    *
    * Scale shape = batch kNN's: the anchor set broadcasts, the corpus
    * is scanned ONCE regardless of anchor count, and the rank window
    * runs per anchor on the label-filtered scores.
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queries: DataFrame, queryIdCol: String,
                    queryVecCol: String, queryLabelCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = corpus
      .select(col(idCol), intVec(col(vecCol)).as("__iv"),
              col(labelCol).cast("long").as("label"))
      .crossJoin(broadcast(queries.select(
        col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"),
        col(queryLabelCol).cast("long").as("__ql"))))
      .filter(col("label") =!= col("__ql"))
      .withColumn("dot", intDot(col("__iv"), col("__qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col(idCol), col("dot"), col("label"))
  }

  /** MAXSIM LATE-INTERACTION SCORING — multi-vector retrieval (the
    * ColBERT family: Khattab & Zaharia 2020, arXiv:2004.12832): a
    * document is a BAG of token/chunk vectors, the query is a bag of
    * query vectors, and the document's score is Σ_q max_d ⟨q, d⟩ —
    * every query vector finds its best-matching document vector and
    * the per-query maxima sum. Catches term-level matches a single
    * pooled vector blurs away. Exact integer dots; ties score-desc
    * then ascending doc.
    *
    * Scale shape: the query bag broadcasts, the corpus's vector table
    * is scanned ONCE; both the per-(doc, query-vector) max and the
    * per-doc sum are map-combined aggregations keyed by doc, and the
    * final cut is TakeOrderedAndProject (never a global sort).
    */
  def maxSimTopK(corpus: DataFrame, docCol: String, vecCol: String,
                 queries: DataFrame, queryIdxCol: String,
                 queryVecCol: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = corpus
      .select(col(docCol).as("doc"), intVec(col(vecCol)).as("__iv"))
      .crossJoin(broadcast(queries.select(
        col(queryIdxCol).as("__qi"), col(queryVecCol).as("__qv"))))
      .withColumn("dot", intDot(col("__iv"), col("__qv")))
    val sums = scored.groupBy(col("doc"), col("__qi"))
      .agg(max(col("dot")).as("m"))
      .groupBy(col("doc")).agg(sum(col("m")).as("score"))
      .orderBy(col("score").desc, col("doc")).limit(k)
    // rank assigned AFTER the top-k cut: the window runs over k rows,
    // not the corpus
    sums.withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col("doc")))
          .cast("long"))
      .select(col("rnk"), col("doc"), col("score"))
  }

  /** TRUNCATED-DIMENSION RETRIEVAL EVAL — the matryoshka-embedding
    * question (Kusupati et al. 2022, arXiv:2205.13147): if the index
    * kept only the first `dims` dimensions, how much of the full-dim
    * exact top-k would it still retrieve? Reports per query the
    * overlap between the full-dim top-k and the truncated-dim top-k
    * (both exact integer dots, ties dot-desc then ascending id) — the
    * measurement that decides whether a cheaper truncated tier can
    * front the index. One scored pass over the broadcast query set,
    * two windows; starved queries report 0 through the left join.
    */
  def truncatedOverlapAtK(corpus: DataFrame, idCol: String, vecCol: String,
                          queries: Seq[(Long, Seq[Long])],
                          k: Int = 10, dims: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = corpus.sparkSession
    import sp.implicits._
    val qdf = queries.toDF("query_id", "__qv")
    val scored = corpus
      .select(col(idCol), intVec(col(vecCol)).as("__iv"))
      .crossJoin(broadcast(qdf))
      .withColumn("dot_full", intDot(col("__iv"), col("__qv")))
      .withColumn("dot_trunc", intDot(slice(col("__iv"), 1, dims),
                                      slice(col("__qv"), 1, dims)))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_full").desc, col(idCol))
    val wt = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_trunc").desc, col(idCol))
    val hits = scored
      .withColumn("rn_f", row_number().over(wf))
      .withColumn("rn_t", row_number().over(wt))
      .filter(col("rn_f") <= k && col("rn_t") <= k)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    qdf.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
              coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
  }

  /** SIGN RANDOM-PROJECTION retrieval eval — [[truncatedOverlapAtK]]'s
    * question for embeddings NOT trained matryoshka-style (Achlioptas
    * 2003's ±1 projections, the database-friendly JL transform):
    * prefix truncation only works when the training packed information
    * into the leading dimensions, while a ±1 random projection
    * y_j = Σ_i s(j,i)·x_i mixes EVERY input dimension into each of the
    * r output dimensions, preserving dots in expectation for any
    * coordinate layout. Signs come from the engine's md5 plane table
    * ([[planeSigns]] — the same table sign-LSH bakes), so an oracle
    * splices identical literals. Per query: overlap between the
    * full-dim exact top-k and the r-dim projected top-k, exact
    * integers end-to-end, both rankings tie-broken (dot desc, id).
    *
    * Scale shape: one corpus scan computes the projection inside the
    * row (r native dots against literal sign vectors — no shuffle),
    * queries broadcast, two rank windows per query partition.
    */
  def signProjectionOverlapAtK(corpus: DataFrame, idCol: String,
                               vecCol: String,
                               queries: Seq[(Long, Seq[Long])],
                               k: Int = 10, rDims: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = corpus.sparkSession
    import sp.implicits._
    val dims = queries.head._2.size
    val signs = planeSigns(rDims, dims)
    def projCol(v: Column): Column =
      array(signs.map(row => intDot(v, typedLit(row))): _*)
    val qdf = queries.map { case (id, qv) =>
      (id, qv,
       signs.map(row => row.zip(qv).map { case (s, x) => s * x }.sum))
    }.toDF("query_id", "__qv", "__qp")
    val scored = corpus
      .select(col(idCol), intVec(col(vecCol)).as("__iv"))
      .withColumn("__ip", projCol(col("__iv")))
      .crossJoin(broadcast(qdf))
      .withColumn("dot_full", intDot(col("__iv"), col("__qv")))
      .withColumn("dot_proj", intDot(col("__ip"), col("__qp")))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_full").desc, col(idCol))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_proj").desc, col(idCol))
    val hits = scored
      .withColumn("rn_f", row_number().over(wf))
      .withColumn("rn_p", row_number().over(wp))
      .filter(col("rn_f") <= k && col("rn_p") <= k)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    qdf.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
              coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * ±1 from the md5 top bit of "p|d" — the hashing-trick analogue of a
    * Gaussian plane, good enough for sign-LSH and exactly reproducible.
    */
  private[graft] def planeSign(plane: Int, dim: Int): Long = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane|$dim".getBytes("UTF-8"))
    if ((dig(0) & 0x80) != 0) 1L else -1L
  }

  /** The full ±1 hyperplane table — exposed so an external oracle (SQL
    * generated at plan time) can bake the same literals and reproduce
    * bucket ids bit-for-bit.
    */
  def planeSigns(nPlanes: Int, dims: Int): Seq[Seq[Long]] =
    (0 until nPlanes).map(p => (0 until dims).map(d => planeSign(p, d)))

  /** Sign-random-projection bucket id over `nPlanes` hyperplanes:
    * bit j = 1 iff Σ_d sign(j,d)·v_d > 0. The plane matrix is computed
    * ONCE on the driver (plan-time constant); each projection is one
    * codegen'd dot against a literal ±1 vector — rows never pay a hash.
    */
  def lshBucket(vec: Column, nPlanes: Int = 8, dims: Int = 64): Column = {
    val iv = intVec(vec)
    (0 until nPlanes).map { p =>
      val plane = typedLit((0 until dims).map(d => planeSign(p, d)))
      when(intDot(iv, plane) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Assign every vector its LSH bucket — the build side of the index.
    * At scale: `.write.partitionBy("bucket")`.
    */
  def lshBuckets(embeddings: DataFrame, vecCol: String, nPlanes: Int = 8,
                 dims: Int = 64): DataFrame =
    embeddings.withColumn("bucket", lshBucket(col(vecCol), nPlanes, dims))

  /** ANN top-k: score only vectors in the query's bucket (optionally ±
    * Hamming-1 probes). Recall < 1 by construction; the candidate scan
    * is ~n/2^planes rows instead of n.
    */
  def lshTopK(bucketed: DataFrame, idCol: String, vecCol: String,
              queryVec: Seq[Float], k: Int = 10, nPlanes: Int = 8,
              multiProbe: Boolean = true): DataFrame = {
    val qIv = queryVec.map(quantizeL)
    val qBucket = (0 until nPlanes).map { p =>
      val proj = qIv.zipWithIndex.map { case (x, d) => x * planeSign(p, d) }.sum
      if (proj > 0) 1L << p else 0L
    }.sum
    val probes: Seq[Long] =
      if (multiProbe) qBucket +: (0 until nPlanes).map(p => qBucket ^ (1L << p))
      else Seq(qBucket)
    val q = typedLit(qIv)
    bucketed
      .filter(col("bucket").isInCollection(probes))
      .withColumn("dot", intDot(intVec(col(vecCol)), q))
      .orderBy(col("dot").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("bucket"), col("dot"))
  }

  /** Multi-table LSH (OR-construction): `nTables` independent sign-LSH
    * tables of `nPlanes` bits each — a pair collides if ANY table
    * buckets them together, so recall compounds: 1-(1-p^b)^L instead of
    * p^b. The standard recall/scan trade for weak-similarity corpora.
    * Build side: one bucket column per table (write partitioned by
    * them, or union L bucketed tables).
    */
  def lshBucketsMulti(embeddings: DataFrame, vecCol: String,
                      nTables: Int = 4, nPlanes: Int = 8, dims: Int = 64): DataFrame =
    (0 until nTables).foldLeft(embeddings) { (df, t) =>
      // plane ids offset per table → independent hyperplane sets
      val iv = intVec(col(vecCol))
      val bucket = (0 until nPlanes).map { p =>
        val plane = typedLit((0 until dims).map(d => planeSign(t * nPlanes + p, d)))
        when(intDot(iv, plane) > 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
      df.withColumn(s"bucket_$t", bucket)
    }

  /** Probe all tables for the query's buckets, dedupe candidates, exact
    * top-k. Candidate set = union over tables of one bucket each.
    */
  def lshTopKMulti(bucketed: DataFrame, idCol: String, vecCol: String,
                   queryVec: Seq[Float], k: Int = 10,
                   nTables: Int = 4, nPlanes: Int = 8): DataFrame = {
    val qIv = queryVec.map(quantizeL)
    def qBucket(t: Int): Long = (0 until nPlanes).map { p =>
      val proj = qIv.zipWithIndex.map { case (x, d) => x * planeSign(t * nPlanes + p, d) }.sum
      if (proj > 0) 1L << p else 0L
    }.sum
    val probe = (0 until nTables)
      .map(t => col(s"bucket_$t") === qBucket(t))
      .reduce(_ || _)
    val q = typedLit(qIv)
    bucketed
      .filter(probe)
      .withColumn("dot", intDot(intVec(col(vecCol)), q))
      .orderBy(col("dot").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dot"))
  }

  /** The argmin-L2² cell column over integer codewords: ¦c¦² − 2·v·c
    * scored per codeword (the constant ¦v¦² dropped — argmin- and
    * tie-invariant), struct array_min picking (min score, min cell).
    * The ONE place the trainer family's tie/constant-dropping
    * convention lives — [[assignMinL2Int]] and [[pqTrainInt]] both
    * build on it, so they cannot drift apart from each other or from
    * the oracle's `ORDER BY d2 ASC, cell ASC` replay.
    */
  private def minL2Cell(iv: Column,
                        codewords: Seq[(Long, Seq[Long])]): Column =
    array_min(array(codewords.map { case (id, c) =>
      struct((lit(c.map(x => x * x).sum) -
              lit(2L) * intDot(iv, typedLit(c))).as("score"),
             lit(id).as("cell"))
    }: _*)).getField("cell")

  /** L2 assignment over an ALREADY-INTEGER vector column — k-means'
    * E-step ([[ivfAssignInt]] is the max-dot MIPS form): appends
    * `cell` = the centroid with the smallest exact-integer L2², ties
    * to the SMALLEST cell id (struct array_min is lexicographic). The
    * per-row score is ¦c¦² − 2·v·c — the constant ¦v¦² term is
    * dropped, which cannot change the argmin or its ties. One
    * broadcast-literal pass, no shuffle.
    */
  def assignMinL2Int(df: DataFrame, ivCol: String,
                     centroids: Seq[(Long, Seq[Long])]): DataFrame =
    df.withColumn("cell", minL2Cell(col(ivCol), centroids))

  /** Loan the `(__id, __iv)` integer-grid projection the trainers (and
    * any E-step consumer) read: pin it and run `body` in one
    * [[graft.io.Pins.scope]]. A query that trains a coarse quantizer
    * AND PQ codebooks, or trains then assigns, runs every consumer
    * inside ONE loan, so the corpus is quantized a single time.
    * Whatever `body` returns must not read the pin, or any pin `body`
    * makes, lazily — they are gone once the loan ends.
    */
  def withIntVec[A](embeddings: DataFrame, idCol: String, vecCol: String)
                   (body: DataFrame => A): A =
    graft.io.Pins.scope {
      // read by the seed scan + every round
      body(pin(embeddings
        .select(col(idCol).as("__id"), intVec(col(vecCol)).as("__iv"))))
    }

  /** EXACT-INTEGER LLOYD'S K-MEANS over a [[withIntVec]] frame — the
    * deterministic, oracle-exact IVF trainer: every step re-derives
    * bit-for-bit in another engine, which puts the TRAINER itself on
    * the verified surface:
    *
    *  - vectors on the 1e-3 integer grid ([[intVec]]);
    *  - seeds via `seedFn` — [[idOrderSeeds]] (default: the `k`
    *    smallest ids' vectors) or [[farthestPointSeeds]] (greedy
    *    k-center for geometry-correlated id orders); both
    *    deterministic, no RNG;
    *  - E-step = [[assignMinL2Int]] (exact-integer L2², ties to the
    *    smallest cell);
    *  - M-step = per-dimension floorDiv mean of the members (the q48
    *    floor-mean convention); an emptied cell keeps its previous
    *    centroid;
    *  - a FIXED `rounds` budget — production trains a fixed budget on
    *    a sample; convergence behavior belongs to specs.
    *
    * Scale shape per round: ONE corpus pass (the argmin is k·dims of
    * broadcast literals; the update a map-side-combined vecSum groupBy
    * shuffling ≤ k rows) plus a k-row collect — the same posture as
    * the IVF build the centroids feed.
    */
  def kmeansFitInt(iv: DataFrame, k: Int, rounds: Int = 2, dims: Int = 64,
                   seedFn: (DataFrame, Int) => Seq[(Long, Seq[Long])] =
                     idOrderSeeds): Seq[(Long, Seq[Long])] = {
    val seeds = seedFn(iv, k)
    require(seeds.size == k, s"need at least k=$k vectors, got ${seeds.size}")
    (0 until rounds).foldLeft(seeds) { (cents, _) =>
      val upd = assignMinL2Int(iv, "__iv", cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
             graft.functions.VectorAggregates.vecSum(dims)(col("__iv")).as("cs"))
        .collect()
        .map { r =>
          val n = r.getLong(1)
          r.getLong(0) -> r.getSeq[Long](2).map(Math.floorDiv(_, n))
        }.toMap
      cents.map { case (cid, c) => (cid, upd.getOrElse(cid, c)) }
    }
  }

  /** Default seeding: the `k` smallest ids' vectors, cells 0..k−1 in
    * id order. One TakeOrderedAndProject scan — cheap, deterministic,
    * and fine when ids are uncorrelated with geometry.
    */
  def idOrderSeeds(iv: DataFrame, k: Int): Seq[(Long, Seq[Long])] =
    iv.orderBy(col("__id")).limit(k)
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1).toSeq) }

  /** FARTHEST-POINT seeding (greedy k-center, the deterministic spread
    * guarantee id-order seeding lacks): seed 0 = the smallest id's
    * vector; each next seed = the vector maximizing its min exact
    * integer L2² to the seeds chosen so far, ties to the smallest id.
    * When the first k ids happen to sit in ONE cluster (ingest order
    * is rarely geometry-free: same crawl, same shard), id-order
    * seeding starts Lloyd's with every centroid in that cluster and a
    * fixed round budget may never split the rest; farthest-point
    * provably touches every well-separated cluster before revisiting
    * any. Cost: k−1 extra corpus passes (each an argmax over a
    * broadcast-literal min-distance column — no shuffle beyond the
    * 1-row TakeOrdered), paid once at build time.
    */
  def farthestPointSeeds(iv: DataFrame, k: Int): Seq[(Long, Seq[Long])] = {
    // same contract as idOrderSeeds: fewer than k VECTORS fails loudly
    // (without this, the argmax loop would silently return repeats of
    // existing seeds once every min-distance is 0)
    val n = iv.count()
    require(n >= k, s"need at least k=$k vectors, got $n")
    val first = iv.orderBy(col("__id")).limit(1).collect().toSeq
      .map(r => r.getSeq[Long](1).toSeq)
    val chosen = scala.collection.mutable.ArrayBuffer[Seq[Long]](first.head)
    while (chosen.size < k) {
      // min-distance to chosen seeds needs the FULL L2² (¦v¦² varies
      // across candidates here, unlike the per-row argmin)
      val minD = chosen.map { c =>
        intDot(col("__iv"), col("__iv")) -
          lit(2L) * intDot(col("__iv"), typedLit(c)) +
          lit(c.map(x => x * x).sum)
      }.reduce((a, b) => least(a, b))
      val next = iv.select(col("__id"), col("__iv"), minD.as("__d"))
        .orderBy(col("__d").desc, col("__id").asc)
        .limit(1).collect().head.getSeq[Long](1).toSeq
      chosen += next
    }
    chosen.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }
  }

  /** One-sided chamfer between two centroid lists: for each `from`
    * cell, the exact-integer L2² to its nearest `to` centroid (ties to
    * the smallest `to` cell). The matching-free distance both drift
    * surfaces use — [[centroidDrift]] (two trainings) and the served
    * index's sidecar-vs-fresh check (`Main drift`). k² driver
    * arithmetic.
    */
  def centroidChamfer(from: Seq[(Long, Seq[Long])],
                      to: Seq[(Long, Seq[Long])]): Seq[(Long, Long, Long)] =
    from.map { case (oc, ov) =>
      val (nc, d2) = to.map { case (ncell, nv) =>
        (ncell, ov.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.minBy { case (ncell, d) => (d, ncell) }
      (oc, nc, d2)
    }

  /** CODEBOOK DRIFT DETECTION — the measured retrain trigger the
    * maintenance tier's contract points at ([[ivfPqAppendIndex]]:
    * "codebook drift is a retrain-and-rebuild event", but nothing yet
    * DETECTED it): train the same deterministic k-means on two corpus
    * slices (yesterday's sample vs today's) and report, for each old
    * centroid, the exact-integer L2² to its NEAREST new centroid.
    * Matching-free by construction — cell ids are seed-order
    * artifacts with no identity across trainings, so the one-sided
    * chamfer (min over new centroids, ties to the smallest new cell)
    * is the right distance: stationary data gives every old centroid
    * a near twin (small shifts everywhere); drifted data leaves some
    * old centroid's region unrepresented and its shift explodes.
    * Thresholding is the caller's policy knob.
    *
    * Cost: two sample-sized trainings (each the [[kmeansFitInt]]
    * one-pass-per-round shape) plus k² driver arithmetic over the two
    * k-row outputs — at 100 TB both slices are hash samples (the q140
    * recipe), so the trigger costs sample-scale, never corpus-scale.
    */
  def centroidDrift(oldEmb: DataFrame, newEmb: DataFrame, idCol: String,
                    vecCol: String, k: Int = 8, rounds: Int = 2,
                    dims: Int = 64): DataFrame = {
    def fit(e: DataFrame) =
      withIntVec(e, idCol, vecCol)(kmeansFitInt(_, k, rounds, dims))
    val o = fit(oldEmb)
    val n = fit(newEmb)
    val sp = oldEmb.sparkSession
    import sp.implicits._
    centroidChamfer(o, n).toDF("cell", "nearest_cell", "shift_d2")
  }

  /** PQ CODEBOOK TRAINING over a [[withIntVec]] frame — per-subspace
    * exact-integer Lloyd's, the companion of [[kmeansFitInt]] for the
    * compressed tier: each of the `m` subspaces gets its own k-entry
    * codebook trained on that subspace's `dims/m`-dim slices. Same deterministic contract as
    * the coarse trainer (seeds = the k smallest ids' slices, argmin
    * integer L2² with min-cell ties, floorDiv means, emptied codewords
    * keep their previous value, fixed round budget).
    *
    * Scale shape: the slices explode to m rows per vector ONCE
    * (pinned), then each round is ONE pass over that table scoring all
    * m subspaces together — a `when(sub == s)` chain over m argmin
    * columns of k·subDim literals — and one groupBy (sub, cell)
    * shuffling ≤ m·k rows; never m separate corpus passes.
    *
    * Returns k FULL-dims codebook entries (entry c = the concatenation
    * of each subspace's codeword c) — exactly the shape
    * [[pqEncodeInt]]/[[ivfPqTopK]]/[[ivfPqWriteIndex]] slice per
    * subspace, so the trained codebooks drop into the whole PQ stack
    * unchanged.
    */
  def pqTrainInt(iv: DataFrame, k: Int, rounds: Int = 2, m: Int = 8,
                 dims: Int = 64): Seq[(Long, Seq[Long])] = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val subDim = dims / m
    val seedVecs = iv.orderBy(col("__id")).limit(k)
      .collect().toSeq.map(_.getSeq[Long](1).toSeq)
    require(seedVecs.size == k, s"need at least k=$k vectors, got ${seedVecs.size}")
    graft.io.Pins.scope {
      val sliced = pin(iv
        .select(col("__id"), explode(expr(s"sequence(0, ${m - 1})")).as("sub"),
                col("__iv"))
        .select(col("__id"), col("sub"),
                slice(col("__iv"), col("sub") * subDim + 1, lit(subDim)).as("__s")))
      var books: Seq[Seq[Seq[Long]]] = (0 until m).map { sub =>
        seedVecs.map(_.slice(sub * subDim, sub * subDim + subDim))
      }
      (0 until rounds).foreach { _ =>
        // one argmin column per subspace, dispatched on `sub` — the
        // plan carries m·k literal codewords, the corpus one pass
        val cellCol = (0 until m).map { s =>
          s -> minL2Cell(col("__s"), books(s).zipWithIndex.map {
            case (c, cid) => (cid.toLong, c)
          })
        }.foldRight(lit(-1L): Column) { case ((s, c), acc) =>
          when(col("sub") === s, c).otherwise(acc)
        }
        val upd = sliced.withColumn("cell", cellCol)
          .groupBy(col("sub"), col("cell"))
          .agg(count(lit(1)).as("n"),
               graft.functions.VectorAggregates.vecSum(subDim)(col("__s")).as("cs"))
          .collect()
          .map { r =>
            (r.getInt(0), r.getLong(1)) ->
              r.getSeq[Long](3).map(Math.floorDiv(_, r.getLong(2)))
          }.toMap
        books = (0 until m).map { s =>
          books(s).zipWithIndex.map { case (c, cid) =>
            upd.getOrElse((s, cid.toLong), c)
          }
        }
      }
      (0 until k).map { cid =>
        (cid.toLong, (0 until m).flatMap(s => books(s)(cid)).toSeq)
      }
    }
  }

  /** IVF coarse quantization: assign each vector to the max-dot of
    * `centroids` (small, integer, with explicit cell ids, carried as
    * plan literals — argmax in one pass, no shuffle). Oracle-exact:
    * both engines compute the same integer dots against the same
    * literal vectors, so assignment (and the winning dot) is
    * bit-identical. Ties on the dot pick the
    * HIGHEST cell id (struct array_max compares (sim, cell)
    * lexicographically); an oracle must fold with `>=` ascending.
    */
  def ivfAssignInt(embeddings: DataFrame, vecCol: String,
                   centroids: Seq[(Long, Seq[Long])]): DataFrame = {
    val cells = centroids.map { case (id, c) =>
      struct(intDot(intVec(col(vecCol)), typedLit(c)).as("sim"),
             lit(id).as("cell"))
    }
    embeddings
      .withColumn("__best", array_max(array(cells: _*)))
      .withColumn("cell", col("__best.cell"))
      .withColumn("cdot", col("__best.sim"))
      .drop("__best")
  }

  /** Driver-side probe-cell ranking — descending query·centroid dot,
    * ties to the HIGHER cell id, mirroring [[ivfAssignInt]]. Every
    * probe path ([[ivfTopKInt]], [[ivfPqTopK]]) and the oracle SQL
    * follow this one convention; keep it in one place.
    */
  private[graft] def rankCells(centroids: Seq[(Long, Seq[Long])],
                               queryVec: Seq[Long], nprobe: Int): Seq[Long] =
    centroids.map { case (id, c) =>
      (id, queryVec.zip(c).map { case (a, b) => a * b }.sum)
    }.sortBy { case (id, sim) => (-sim, -id) }.take(nprobe).map(_._1)

  /** IVF probe over integer centroids with explicit cell ids — the
    * oracle-exact probe: cells ranked by integer dot ([[rankCells]]),
    * the `nprobe` best scanned, candidates exact-scored. With the
    * table partitioned by `cell`, partition pruning turns the probe
    * into an nprobe/k-cells read.
    */
  def ivfTopKInt(assigned: DataFrame, idCol: String, vecCol: String,
                 centroids: Seq[(Long, Seq[Long])], queryVec: Seq[Long],
                 k: Int = 10, nprobe: Int = 2): DataFrame = {
    val probeCells = rankCells(centroids, queryVec, nprobe)
    val q = typedLit(queryVec)
    assigned
      .filter(col("cell").isInCollection(probeCells))
      .withColumn("dot", intDot(intVec(col(vecCol)), q))
      .orderBy(col("dot").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cell"), col("dot"))
  }

  /** Persist an IVF-assigned table PARTITIONED BY CELL — the on-disk
    * index layout that makes [[ivfTopKStoredInt]]'s nprobe claim real:
    * each cell is a directory, so a probe is a partition-pruned read
    * of nprobe/k of the data. Parquet files never contain the `cell`
    * column (it lives in the directory name), and within a cell the
    * rows are exactly the assignment's.
    */
  def ivfWriteIndex(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Probe a STORED index written by [[ivfWriteIndex]]: rank cells on
    * the driver (centroid list is tiny), then read ONLY the nprobe
    * winning partitions — the scan's PartitionFilters prune every other
    * cell directory before a single row is read. Same ranking and
    * scoring conventions as [[ivfTopKInt]], so results are identical.
    */
  def ivfTopKStoredInt(spark: org.apache.spark.sql.SparkSession, path: String,
                       idCol: String, vecCol: String,
                       centroids: Seq[(Long, Seq[Long])], queryVec: Seq[Long],
                       k: Int = 10, nprobe: Int = 2): DataFrame =
    // delegate — one copy of the ranking/scoring conventions, so the
    // stored probe cannot drift from the in-memory one (the partition
    // column reads back as int: restore the assignment's long)
    ivfTopKInt(
      spark.read.parquet(path).withColumn("cell", col("cell").cast("long")),
      idCol, vecCol, centroids, queryVec, k, nprobe)

  /** INCREMENTAL index maintenance, append side: assign a NEW batch
    * against the SAME centroids the index was built with and append
    * per-cell files. At 100 TB a rebuild is a full-corpus shuffle; the
    * append writes only the batch. Existing cell files are never
    * rewritten (spec-asserted), and because assignment is per-row
    * deterministic under fixed centroids, the appended index answers
    * probes identically to a full rebuild over the union.
    */
  def ivfAppendIndex(newBatch: DataFrame, vecCol: String,
                     centroids: Seq[(Long, Seq[Long])], path: String): Unit = {
    // converge a crashed earlier swap FIRST: an append that recreates a
    // parked cell's live dir would make the next recovery pass see
    // "live exists" and drop the .trash aside — the parked only-copy of
    // every pre-crash row in that cell, destroyed by an append
    graft.io.Tables.recoverPartitionTrash(path, "cell")
    ivfAssignInt(newBatch, vecCol, centroids)
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** INCREMENTAL index maintenance, remove side (dedup demotion, PII
    * takedown): the caller supplies `(idCol, cell)` pairs — the cells
    * are recomputable from the removed vectors because assignment is
    * deterministic — so only the AFFECTED cell directories are read
    * (partition-pruned scan) and swapped; untouched cells keep their
    * exact files. A cell whose rows are all removed is deleted
    * outright (a dynamic-partition overwrite would silently leave its
    * old directory behind). Swap is per-cell aside-rename: a CRASH
    * leaves each cell complete — old, new, or parked in its `.trash`
    * aside (recovery = rename back). Maintenance is single-writer and
    * assumes quiesced probes: between a cell's aside-rename and its
    * commit rename the live `cell=N` directory is briefly absent, so a
    * probe listing partitions inside that window would silently miss
    * that cell's rows (same contract as cell compaction,
    * [[graft.io.Tables.compactPartitions]] on `cell`). Only
    * `(idCol, cell)` is interpreted, so the same call maintains the
    * IVF-PQ layout, whose codes and re-rank vectors ride as passenger
    * columns.
    */
  def ivfRemoveFromIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, removals: DataFrame,
                         idCol: String): Unit = {
    import spark.implicits._
    val cells = removals.select(col("cell").cast("long")).distinct()
      .as[Long].collect().sorted
    if (cells.isEmpty) return
    // converge any crashed earlier swap before listing the layout
    // (Tables.recoverPartitionTrash doc: a parked cell would be
    // missing from `kept` and deleted as "emptied" at the swap)
    graft.io.Tables.recoverPartitionTrash(path, "cell")
    val affected = spark.read.parquet(path)
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isInCollection(cells))
    val kept = affected.join(removals.select(col(idCol)), Seq(idCol), "left_anti")
    // the replacement write reads `path` lazily, but only the tmp
    // sibling is written — the live directory is untouched until the
    // per-cell renames inside replacePartitions
    graft.io.Tables.replacePartitions(spark, path, "cell", cells, kept)
  }

  /** Thrown by [[ivfSplitCell]] for cells that CANNOT split — unknown
    * id, fewer than 2 rows, or members the trained children do not
    * separate. Every such failure happens BEFORE the index is touched,
    * so a balance pass may safely record-and-skip it; any OTHER
    * exception out of a split (a failed rename mid-swap, a Spark
    * failure) can mean a half-applied mutation and must PROPAGATE.
    */
  final class UnsplittableCellException(msg: String)
    extends IllegalArgumentException(msg)

  /** HOT-CELL SPLIT — the load-balance maintenance a growing index
    * eventually needs: a cell that accumulated a disproportionate
    * share of rows (skewed inserts, drifting data) makes every probe
    * that ranks it scan too much, and nlist is frozen into the layout.
    * Split the one cell IN PLACE: train k=2 sub-centroids on the
    * cell's own members ([[kmeansFitInt]] — deterministic, no RNG),
    * give the children FRESH cell ids (max existing + 1/+2 — an id is
    * never reused, or rows appended later under the old meaning would
    * silently alias), re-assign only this cell's rows between the two
    * children under the index's own convention ([[ivfAssignInt]]),
    * and swap just that one directory through the shared per-partition
    * aside-rename. Every other cell keeps its exact files; all
    * non-assignment columns (the PQ codes of an IVF-PQ index
    * included) ride along untouched, so the same maintenance serves
    * both index forms. Cost scales with the ONE cell, not the index.
    *
    * Returns the updated centroid list probes must use from now on
    * (split id removed, children appended) — centroids are
    * caller-owned state, the same contract as every stored probe. A
    * cell with fewer than 2 rows cannot split and fails loudly
    * (kmeansFitInt's k-vectors guard). Single-writer, quiesced-probe
    * assumptions as [[ivfRemoveFromIndex]].
    */
  def ivfSplitCell(spark: org.apache.spark.sql.SparkSession, path: String,
                   centroids: Seq[(Long, Seq[Long])], cell: Long,
                   idCol: String, vecCol: String,
                   rounds: Int = 2, dims: Int = 64): Seq[(Long, Seq[Long])] = {
    if (!centroids.exists(_._1 == cell))
      throw new UnsplittableCellException(s"unknown cell $cell")
    // pin: training + re-assignment read the members repeatedly, and
    // the swap must never re-read the live directory it is replacing
    graft.io.Tables.recoverPartitionTrash(path, "cell")
    graft.io.Pins.scope {
      val members = pin(spark.read.parquet(path)
        .withColumn("cell", col("cell").cast("long"))
        .filter(col("cell") === cell))
      // pre-mutation guard, TYPED: a 1-row (or empty) cell cannot
      // 2-way split — without this the generic trainer require would
      // be indistinguishable from a real failure to a balance pass
      val nMembers = members.count()
      if (nMembers < 2)
        throw new UnsplittableCellException(
          s"cell $cell cannot split: need at least 2 rows, got $nMembers")
      val sub = withIntVec(members, idCol, vecCol)(
        kmeansFitInt(_, k = 2, rounds = rounds, dims = dims))
      val base = centroids.map(_._1).max
      val children = sub.zipWithIndex.map { case ((_, cv), i) =>
        (base + 1 + i, cv)
      }
      val reassigned = pin(ivfAssignInt(members.drop("cell", "cdot"),
                                        vecCol, children))
      // BEFORE touching the index: a cell whose members the trained
      // children cannot separate (all-identical duplicate vectors;
      // magnitude-only spread, which max-dot routes one way) would
      // "split" into one full child and one phantom empty id — the
      // hot cell stays hot and a split-until-balanced loop never
      // terminates. Fail loudly instead; the index is untouched.
      val counts = reassigned.groupBy(col("cell")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (!children.forall(c => counts.getOrElse(c._1, 0L) > 0L))
        throw new UnsplittableCellException(
          s"cell $cell cannot split: the trained children do not separate " +
          s"its members (per-child counts $counts)")
      // the swap list names BOTH CHILDREN FIRST, the split cell
      // LAST: replacePartitions moves exactly the listed partitions
      // in order and a crash mid-swap must leave rows DUPLICATED
      // (children committed, split dir still live — visible, and
      // recovery = delete the child dirs or re-delete the cell),
      // never silently lost (cell-first would trash the only copy
      // before any child lands)
      graft.io.Tables.replacePartitions(spark, path, "cell",
        children.map(_._1) :+ cell, reassigned)
      centroids.filterNot(_._1 == cell) ++ children
    }
  }

  /** One balance action: which cell, how many rows it held when
    * inspected, and what happened — `"split"`, or `"skipped: <why>"`
    * for a loudly-unsplittable cell (all-identical vectors, an index
    * cell absent from the centroid list, ...).
    */
  case class BalanceAction(cell: Long, nRows: Long, outcome: String)

  /** AUTOMATIC hot-cell maintenance — the pass a 100 TB index actually
    * runs on a schedule: scan per-cell row counts (a partition-column
    * aggregate: the scan materializes no data columns), and while any
    * cell exceeds `maxRows`, split the CURRENTLY LARGEST one via
    * [[ivfSplitCell]]. Skewed ingest concentrates rows in few cells
    * (drifting data, a hot shard), and every probe that ranks a hot
    * cell scans its whole directory — balancing restores the
    * nprobe/nlist cost model without retraining or rebuilding.
    *
    * Control loop properties:
    *  - the hottest cell is split first, so a bounded `maxSplits`
    *    budget buys the largest probe-cost reduction available;
    *  - each split's children are guaranteed nonempty (the split's own
    *    degenerate guard), so cell sizes strictly decrease and the
    *    loop terminates even without the budget;
    *  - a cell the trained children CANNOT separate (duplicate
    *    vectors, collinear spread) fails its split loudly with the
    *    TYPED [[UnsplittableCellException]] — every such guard fires
    *    before the index is touched, so the pass records it as
    *    skipped and never retries; any OTHER exception (a failed
    *    rename mid-swap, a Spark failure) can mean a half-applied
    *    mutation and PROPAGATES instead of being mislabeled benign;
    *  - counts are re-read after every split (children may still
    *    exceed `maxRows` and re-enter the queue);
    *  - a pass that exhausts `maxSplits` with hot cells remaining
    *    says so: each still-hot cell gets an `over-budget` action, so
    *    the report is never mistakable for convergence;
    *  - `onCentroidsUpdated` fires after EVERY committed split with
    *    the then-current list — a sidecar-backed caller persists the
    *    routing update per split, shrinking the crash window to the
    *    inside of one split instead of the whole pass.
    *
    * Returns the updated centroid list probes must use from now on
    * plus the action report. Layout-generic like the split itself:
    * PQ code columns ride along, so this serves both the plain IVF
    * and the IVF-PQ index. Single-writer / quiesced-probe assumptions
    * as every maintenance op here.
    */
  def ivfBalanceIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      centroids: Seq[(Long, Seq[Long])], maxRows: Long,
                      idCol: String, vecCol: String,
                      rounds: Int = 2, dims: Int = 64,
                      maxSplits: Int = 16,
                      onCentroidsUpdated: Seq[(Long, Seq[Long])] => Unit =
                        _ => ())
      : (Seq[(Long, Seq[Long])], Seq[BalanceAction]) = {
    require(maxRows >= 2,
      s"maxRows=$maxRows: a 1-row bound makes every nonempty cell hot " +
        "and no 2-way split can satisfy it")
    // an emptied index (all rows removed; no cell= dir to infer a
    // schema from) is trivially balanced
    if (!indexHasCells(path)) return (centroids, Seq.empty)
    def cellCounts(): Array[(Long, Long)] = spark.read.parquet(path)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    var cents = centroids
    val report = scala.collection.mutable.ArrayBuffer[BalanceAction]()
    val skip = scala.collection.mutable.Set[Long]()
    var splits = 0
    var converged = false
    while (!converged && splits < maxSplits) {
      val hot = cellCounts()
        .filter { case (c, n) => n > maxRows && !skip.contains(c) }
        .sortBy { case (c, n) => (-n, c) }
      hot.headOption match {
        case None => converged = true
        case Some((cell, n)) =>
          try {
            cents = ivfSplitCell(spark, path, cents, cell, idCol, vecCol,
                                 rounds, dims)
            splits += 1
            report += BalanceAction(cell, n, "split")
            onCentroidsUpdated(cents)
          } catch {
            case e: UnsplittableCellException =>
              skip += cell
              report += BalanceAction(cell, n,
                s"skipped: ${Option(e.getMessage).getOrElse("unsplittable")}")
          }
      }
    }
    if (!converged)
      cellCounts()
        .filter { case (c, n) => n > maxRows && !skip.contains(c) }
        .sortBy { case (c, n) => (-n, c) }
        .foreach { case (c, n) =>
          report += BalanceAction(c, n,
            s"over-budget: maxSplits=$maxSplits exhausted, still above $maxRows rows")
        }
    (cents, report.toSeq)
  }

  /** Any `cell=` partition directory present? The shared emptied-index
    * detection — [[graft.search.VectorIndex.hasCells]] delegates here,
    * so the layout convention lives once.
    */
  private[search] def indexHasCells(path: String): Boolean =
    Option(new java.io.File(path).listFiles()).exists(_.exists(f =>
      f.isDirectory && f.getName.startsWith("cell=")))

  // ---------------------------------------------------- product quantization

  /** PRODUCT QUANTIZATION (PQ) — the compressed-vector tier of the
    * 100 TB ANN stack (IVF-PQ): each vector is encoded as `m` small
    * codes (the argmin-L2 codeword per subspace), stored at m codes
    * instead of `dims` floats, and queries scan the CODES with an
    * additive distance-table lookup (ADC) — the scan never touches a
    * full vector. Codebooks here are integer centroids restricted per
    * subspace (the same deterministic floor-mean derivation as the IVF
    * cells, so codes and ADC scores reproduce bit-for-bit in the
    * oracle); a production build trains per-subspace k-means — the
    * encode/scan path is identical.
    */

  /** Exact integer squared L2 distance from a vector's `sub`-th
    * subspace slice to a codeword's matching slice, expanded as
    * |x|² − 2·x·c + |c|² — three codegen'd integer kernels and a
    * literal, no interpreted HOF in the hot path.
    */
  private def pqSubDist(iv: Column, cent: Seq[Long], sub: Int, subDim: Int): Column = {
    val sl = slice(iv, sub * subDim + 1, subDim)
    val cs = cent.slice(sub * subDim, sub * subDim + subDim)
    intDot(sl, sl) - lit(2L) * intDot(sl, typedLit(cs)) +
      lit(cs.map(x => x * x).sum)
  }

  /** Encode every vector as `m` codeword ids (appended columns
    * `c0..c{m-1}`; all input columns are kept, so the encode composes
    * with the IVF cell assignment): per subspace, the codebook entry
    * minimizing exact integer L2, ties to the smallest codeword id.
    * `codebooks` are full-dims integer centroids (e.g.
    * [[graft.queries.Pipeline.labelCentroids]]' shape); each subspace
    * uses its slice of them.
    */
  def pqEncodeInt(df: DataFrame, idCol: String, vecCol: String,
                  codebooks: Seq[(Long, Seq[Long])],
                  m: Int = 8, dims: Int = 64): DataFrame = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val subDim = dims / m
    val withIv = df.withColumn("__iv", intVec(col(vecCol)))
    (0 until m).foldLeft(withIv) { (d, sub) =>
      d.withColumn(s"c$sub",
        array_min(array(codebooks.map { case (cid, c) =>
          struct(pqSubDist(col("__iv"), c, sub, subDim).as("d2"),
                 lit(cid).as("cell"))
        }: _*)).getField("cell"))
    }.drop("__iv")
  }

  /** ADC (asymmetric distance computation) top-k over a PQ-encoded
    * table: the query's per-subspace distance to every codeword is a
    * tiny driver-computed table (m × |codebook| longs, broadcast as
    * map literals), and each row's approximate distance is m map
    * lookups summed — no vector arithmetic in the scan. Ascending
    * distance, ties to the smallest id.
    */
  /** The query's per-subspace distance table over `c0..c{m-1}` codes —
    * m × |codebook| longs computed on the driver and broadcast as map
    * literals; a row's ADC score is m map lookups summed. Shared by
    * [[pqAdcTopK]] and [[ivfPqTopK]] (and mirrored by their oracles),
    * so the table construction exists ONCE.
    */
  private def adcColumn(codebooks: Seq[(Long, Seq[Long])],
                        queryVec: Seq[Long], m: Int, subDim: Int): Column =
    (0 until m).map { sub =>
      val table: Map[Long, Long] = codebooks.map { case (cid, c) =>
        val qs = queryVec.slice(sub * subDim, sub * subDim + subDim)
        val cs = c.slice(sub * subDim, sub * subDim + subDim)
        cid -> qs.zip(cs).map { case (a, b) => (a - b) * (a - b) }.sum
      }.toMap
      element_at(typedLit(table), col(s"c$sub"))
    }.reduce(_ + _)

  def pqAdcTopK(encoded: DataFrame, idCol: String,
                codebooks: Seq[(Long, Seq[Long])], queryVec: Seq[Long],
                k: Int = 10, m: Int = 8, dims: Int = 64): DataFrame = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    encoded.withColumn("adc", adcColumn(codebooks, queryVec, m, dims / m))
      .orderBy(col("adc").asc, col(idCol))
      .limit(k)
      .select(col(idCol), col("adc"))
  }

  /** The full IVF-PQ search — the canonical large-corpus ANN plan:
    * (1) rank cells on the driver and scan only the `nprobe` winners
    * (partition pruning when the table is written by cell); (2) score
    * the survivors by ADC over their PQ codes (m map lookups per row —
    * no vector math); (3) exact-re-rank only the `k·rerankFactor` best
    * ADC candidates with full integer L2. At 100 TB step 2 reads codes,
    * not vectors, and step 3 touches a constant number of rows.
    * `df` carries `cell` ([[ivfAssignInt]]) and `c0..c{m-1}`
    * ([[pqEncodeInt]]) plus the vector column for the re-rank. Exact
    * integers end-to-end: ADC cut ties on ascending id, final order
    * (d2, id).
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                centroids: Seq[(Long, Seq[Long])],
                codebooks: Seq[(Long, Seq[Long])], queryVec: Seq[Long],
                k: Int = 10, nprobe: Int = 2, rerankFactor: Int = 3,
                m: Int = 8, dims: Int = 64): DataFrame = {
    val iv = intVec(col(vecCol))
    val q = typedLit(queryVec)
    val qNorm = queryVec.map(x => x * x).sum
    df.filter(col("cell").isInCollection(rankCells(centroids, queryVec, nprobe)))
      .withColumn("adc", adcColumn(codebooks, queryVec, m, dims / m))
      .orderBy(col("adc").asc, col(idCol))
      .limit(k * rerankFactor)
      .withColumn("d2", intDot(iv, iv) - lit(2L) * intDot(iv, q) + lit(qNorm))
      .orderBy(col("d2").asc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cell"), col("adc"), col("d2"))
  }

  /** Persist an IVF-PQ index: rows carry the IVF cell (directory
    * partition — probes prune), the PQ codes `c0..c{m-1}` (what the
    * ADC scan reads), and the full vector (what the re-rank tier point
    * -fetches). Parquet's columnar layout is the point: the scan tier
    * and the fetch tier read DIFFERENT column families of one table.
    */
  def ivfPqWriteIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                      centroids: Seq[(Long, Seq[Long])],
                      codebooks: Seq[(Long, Seq[Long])], path: String,
                      m: Int = 8, dims: Int = 64): Unit =
    ivfWriteIndex(
      pqEncodeInt(ivfAssignInt(embeddings, vecCol, centroids),
                  idCol, vecCol, codebooks, m, dims), path)

  /** The session's read handle on a stored index
    * ([[graft.io.Tables.handle]]); an open checks for a cell first,
    * since an emptied index (sidecar only) has no schema to infer.
    */
  private def storedIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): DataFrame =
    graft.io.Tables.handle(spark, path) {
      require(indexHasCells(path),
        s"vector index at $path has no cells (empty store?) — nothing to probe")
      spark.read.parquet(path)
    }

  /** Rows per cell of a stored index, held in the session's read
    * handle per on-disk state of the index: one counting job per state,
    * none on a warm probe.
    */
  private def cellRows(spark: org.apache.spark.sql.SparkSession,
                       path: String): Map[Long, Long] =
    graft.io.Tables.handle(spark, path, "cellRows") {
      storedIndex(spark, path).groupBy(col("cell").cast("long")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

  /** The cells a stored probe reads: the `nprobe` best in [[rankCells]]
    * order, widened in that order until they hold at least `k` rows or
    * every cell is read — a probe whose best cells are sparse still
    * answers min(k, rows) rows. When the first `nprobe` cells already
    * hold `k` rows the set is exactly theirs.
    */
  private[graft] def probeCells(centroids: Seq[(Long, Seq[Long])],
                                queryVec: Seq[Long], nprobe: Int, k: Int,
                                rows: Map[Long, Long]): Seq[Long] = {
    val ranked = rankCells(centroids, queryVec, centroids.size)
    val held = ranked.scanLeft(0L)(_ + rows.getOrElse(_, 0L)).tail
    val enough = held.indexWhere(_ >= k) + 1
    ranked.take(math.max(nprobe, if (enough == 0) ranked.size else enough))
  }

  /** Probe a STORED IVF-PQ index with the scan/fetch split that makes
    * the plan right at 100 TB — unlike the in-memory [[ivfPqTopK]]
    * (where the vector column is already resident), the stored probe
    * must not DECODE vectors it will never re-rank:
    *  1. cell pruning — PartitionFilters keep all but the probed
    *     directories unread ([[probeCells]]: `nprobe`, widened to hold
    *     k rows);
    *  2. ADC scan — an explicit projection of (id, codes) only, so the
    *     parquet reader never materializes the vector column
    *     (ReadSchema-asserted in the spec); its top `k·rerankFactor` by
    *     the broadcast distance tables is COLLECTED here, one job;
    *  3. re-rank fetch — the returned frame re-reads the same pruned
    *     partitions filtered to that constant-sized id set (literals,
    *     no join, so no broadcast stage), reading the vector column
    *     for only those rows; exact integer L2.
    * Same conventions as [[ivfPqTopK]] end-to-end, so results are
    * identical whenever the first `nprobe` cells hold k rows.
    */
  def ivfPqTopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, vecCol: String,
                      centroids: Seq[(Long, Seq[Long])],
                      codebooks: Seq[(Long, Seq[Long])], queryVec: Seq[Long],
                      k: Int = 10, nprobe: Int = 2, rerankFactor: Int = 3,
                      m: Int = 8, dims: Int = 64): DataFrame = {
    val cells = probeCells(centroids, queryVec, nprobe, k, cellRows(spark, path))
    val pruned = storedIndex(spark, path)
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isInCollection(cells))
    val cut = pruned
      .select(col(idCol) +: (0 until m).map(i => col(s"c$i")): _*)
      .withColumn("adc", adcColumn(codebooks, queryVec, m, dims / m))
      .orderBy(col("adc").asc, col(idCol))
      .limit(k * rerankFactor)
      .select(col(idCol), col("adc"))
      .collect()
    // per-query values enter as referenced literals (a map, a decimal),
    // never inlined longs, so every probe reuses one compiled stage
    val adc =
      if (cut.isEmpty) lit(null).cast("long")
      else element_at(map(cut.toSeq.flatMap(r => Seq(lit(r.get(0)), lit(r.getLong(1)))): _*),
                      col(idCol))
    val iv = intVec(col(vecCol))
    val qNorm = lit(java.math.BigDecimal.valueOf(queryVec.map(x => x * x).sum))
      .cast("decimal(38,0)")
    pruned.select(col(idCol), col("cell"), col(vecCol))
      .filter(col(idCol).isInCollection(cut.map(_.get(0))))
      .withColumn("adc", adc)
      .withColumn("d2", ((intDot(iv, iv) - lit(2L) * intDot(iv, typedLit(queryVec)))
                           .cast("decimal(38,0)") + qNorm).cast("long"))
      .orderBy(col("d2").asc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cell"), col("adc"), col("d2"))
  }

  /** BATCHED stored IVF-PQ probe — the serving shape under real
    * traffic: a batch of queries probes the UNION of their per-query
    * cell sets in ONE partition-pruned read (cells shared between
    * queries are read once, not |Q| times), each row is ADC-scored
    * only against the queries whose probe set its cell belongs to
    * (the per-query dispatch is a literal when-chain over the
    * broadcast query ids — no shuffle for routing), the per-query
    * k·rerankFactor ADC cut runs as one window, and the constant-size
    * candidate union point-fetches vectors from the same pruned
    * partitions for the exact re-rank. Same conventions per query as
    * [[ivfPqTopKStored]] end-to-end, so each query's rows are
    * identical to its single probe — spec-asserted.
    */
  def ivfPqTopKBatchStored(spark: org.apache.spark.sql.SparkSession,
                           path: String, idCol: String, vecCol: String,
                           centroids: Seq[(Long, Seq[Long])],
                           codebooks: Seq[(Long, Seq[Long])],
                           queries: Seq[(Long, Seq[Long])],
                           k: Int = 10, nprobe: Int = 2,
                           rerankFactor: Int = 3,
                           m: Int = 8, dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = spark
    import sp.implicits._
    val probeSets = queries.map { case (qid, qv) =>
      (qid, rankCells(centroids, qv, nprobe))
    }
    val allCells = probeSets.flatMap(_._2).distinct.sorted
    val pruned = storedIndex(spark, path)
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isInCollection(allCells))
    val qdf = queries.toDF("query_id", "__qv")
    val inProbe = probeSets.map { case (qid, cells) =>
      col("query_id") === qid && col("cell").isInCollection(cells)
    }.reduce(_ || _)
    val adcCol = queries.map { case (qid, qv) =>
      (qid, adcColumn(codebooks, qv, m, dims / m))
    }.foldRight(lit(null).cast("long")) { case ((qid, c), acc) =>
      when(col("query_id") === qid, c).otherwise(acc)
    }
    val qNormCol = queries
      .map { case (qid, qv) => (qid, qv.map(x => x * x).sum) }
      .foldRight(lit(null).cast("long")) { case ((qid, n), acc) =>
        when(col("query_id") === qid, lit(n)).otherwise(acc)
      }
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col(idCol))
    val cands = pruned
      .select(col(idCol) +: col("cell") +: (0 until m).map(i => col(s"c$i")): _*)
      .crossJoin(broadcast(qdf.select(col("query_id"))))
      .filter(inProbe)
      .withColumn("adc", adcCol)
      .withColumn("__rn", row_number().over(wAdc))
      .filter(col("__rn") <= k * rerankFactor)
      .select(col("query_id"), col(idCol), col("cell"), col("adc"))
    val iv = intVec(col(vecCol))
    val wD2 = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col(idCol))
    pruned.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .join(broadcast(qdf), Seq("query_id"))
      .withColumn("d2",
        intDot(iv, iv) - lit(2L) * intDot(iv, col("__qv")) + qNormCol)
      .withColumn("__rd", row_number().over(wD2))
      .filter(col("__rd") <= k)
      .select(col("query_id"), col(idCol), col("cell"), col("adc"), col("d2"))
  }

  /** INCREMENTAL IVF-PQ maintenance, append side — the operation a
    * served 100 TB index needs most: a NEW batch is assigned and
    * PQ-encoded under the SAME frozen coarse centroids and codebooks
    * the index was built with, then lands as per-cell parquet appends.
    * Existing cell files are never rewritten (spec-asserted), and
    * because both the cell assignment and the per-subspace argmin
    * encode are per-row deterministic under fixed centroids/codebooks,
    * the appended index answers [[ivfPqTopKStored]] probes identically
    * to a full re-encode+rewrite over the union — without paying one.
    * (Codebook DRIFT — a batch distribution the frozen codebooks no
    * longer represent — is a retrain-and-rebuild event by design, the
    * same contract as FAISS's `IndexIVFPQ.add` after `train`.)
    */
  def ivfPqAppendIndex(newBatch: DataFrame, idCol: String, vecCol: String,
                       centroids: Seq[(Long, Seq[Long])],
                       codebooks: Seq[(Long, Seq[Long])], path: String,
                       m: Int = 8, dims: Int = 64): Unit = {
    // same crash-convergence preamble as ivfAppendIndex — an append
    // must never recreate a parked cell's live dir
    graft.io.Tables.recoverPartitionTrash(path, "cell")
    pqEncodeInt(ivfAssignInt(newBatch, vecCol, centroids),
                idCol, vecCol, codebooks, m, dims)
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** ANN RECALL EVALUATION — recall@k of the IVF probe against the
    * exact ranking, per query, as a verifiable operator: the
    * continuous quality gate a served deployment runs on traffic
    * samples (recall is a property of the DATA under the trained
    * quantizer, not of the code — it must be re-measured as the
    * corpus drifts, and `AnnRecallSpec`-style fixed fixtures cannot
    * do that).
    *
    * One corpus scan scores every (row, query) pair against the
    * broadcast query set (the batch-kNN shape); the exact top-k ranks
    * over all rows, the probe top-k over the query's `nprobe` cells
    * ([[rankCells]] — the probe's own ranking, so the eval cannot
    * drift from what [[ivfTopKInt]] actually scans), both via windows
    * over the (|Q|·n) scored pairs; a query's `n_hits` = |exact ∩
    * probe| top-k ids. Queries the probe completely starves still
    * appear (n_hits = 0) via the left join back to the query set.
    * All ties break on ascending id / the shared cell conventions, so
    * the count is exact-integer reproducible in any engine.
    */
  def ivfRecallAtK(corpus: DataFrame, idCol: String, vecCol: String,
                   centroids: Seq[(Long, Seq[Long])],
                   queries: Seq[(Long, Seq[Long])],
                   k: Int = 10, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = corpus.sparkSession
    import sp.implicits._
    val probeSets: Map[Long, Seq[Long]] =
      queries.map { case (qid, qv) => qid -> rankCells(centroids, qv, nprobe) }.toMap
    val qdf = queries.toDF("query_id", "__qv")
    val scored = ivfAssignInt(corpus, vecCol, centroids)
      .select(col(idCol), col("cell"), intVec(col(vecCol)).as("__iv"))
      .crossJoin(broadcast(qdf))
      .withColumn("dot", intDot(col("__iv"), col("__qv")))
    val probed = queries.map { case (qid, _) =>
      col("query_id") === qid && col("cell").isInCollection(probeSets(qid))
    }.reduce(_ || _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col(idCol))
    val wp = Window.partitionBy(col("query_id"), col("__p"))
      .orderBy(col("dot").desc, col(idCol))
    val hits = scored.withColumn("__p", probed)
      .withColumn("rn_e", row_number().over(w))
      .withColumn("rn_a", row_number().over(wp))
      .filter(col("rn_e") <= k && col("__p") && col("rn_a") <= k)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    qdf.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** NDCG@k of the exact ranking under label relevance — the GRADED
    * search-quality gate beside [[ivfRecallAtK]]'s set-overlap one:
    * recall says whether the right ids surface, NDCG says whether they
    * surface in the right ORDER, discounted by position. rel = 1 iff
    * the corpus row's label equals the query's; position gains are
    * `Scale² div log2fp(rank+1)` computed through the SAME fixed-point
    * recurrence as BM25's log-IDF ([[graft.functions.FixedPoint]]), so
    * a DuckDB oracle replays every bit; IDCG places all
    * `min(n_relevant, k)` relevant docs at the top; `ndcg_ppm =
    * 10⁶·DCG div IDCG` (0 when the query's label has no corpus rows).
    * One scored pass over the broadcast query set (the batch-kNN
    * shape), one window, ties dot-desc/ascending-id — exact integers
    * end to end.
    */
  def ndcgAtK(corpus: DataFrame, idCol: String, vecCol: String,
              labelCol: String, queries: Seq[(Long, Seq[Long], Long)],
              k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = corpus.sparkSession
    import sp.implicits._
    val FP = graft.functions.FixedPoint
    // per-rank gains via the shared recurrence — k rows, driver-held
    val pos = sp.range(1, k + 1)
      .select(col("id").as("rnk"), (col("id") + 1).cast("long").as("x"))
    val gains: Map[Long, Long] = FP.withLog2(pos, Seq(("x", "l2")))
      .select(col("rnk"),
              expr(s"(${FP.Scale} * ${FP.Scale}) div l2").as("g"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gainsArr = typedLit((1 to k).map(i => gains(i.toLong)))
    // cum(j) = Σ gains(1..j); element_at is 1-based, entry 1 = cum(0)
    val cumLit = typedLit(
      (1 to k).scanLeft(0L)((a, i) => a + gains(i.toLong)).toSeq)
    val qdf = queries.toDF("query_id", "__qv", "__qlbl")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("cid"))
    corpus
      .select(col(idCol).as("cid"), col(labelCol).cast("long").as("lbl"),
              intVec(col(vecCol)).as("__iv"))
      .crossJoin(broadcast(qdf))
      .withColumn("dot", intDot(col("__iv"), col("__qv")))
      .withColumn("rel", (col("lbl") === col("__qlbl")).cast("long"))
      .withColumn("rnk", row_number().over(w))
      .groupBy(col("query_id"))
      .agg(
        coalesce(sum(when(col("rnk") <= k,
          col("rel") * element_at(gainsArr, col("rnk").cast("int")))), lit(0L))
          .as("dcg"),
        sum(col("rel")).as("n_rel"))
      .withColumn("idcg",
        element_at(cumLit, (least(col("n_rel"), lit(k.toLong)) + 1).cast("int")))
      .withColumn("ndcg_ppm",
        when(col("idcg") > 0, expr("(1000000 * dcg) div idcg"))
          .otherwise(lit(0L)))
      .select(col("query_id"), col("n_rel"), col("dcg"), col("idcg"),
              col("ndcg_ppm"))
  }

  // ---- SQ8: per-dimension scalar quantization (the FAISS-SQ tier) ----

  /** Train the SQ8 quantizer: per-dimension (min, max) of the
    * integer-grid vectors — the only state scalar quantization needs
    * (dims rows, collected like [[kmeansFitInt]]'s centroids and carried
    * as plan-time literals). One (row × dim) posexplode reduced
    * map-side to dims rows; at scale you train on a sample.
    */
  def sqTrain(embeddings: DataFrame, vecCol: String): Seq[(Long, Long)] = {
    embeddings
      .select(posexplode(intVec(col(vecCol))).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy(col("d"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
  }

  /** SQ8 encode: code_d = clamp(⌊(x_d − min_d)·255 / (max_d −
    * min_d)⌋, 0..255) — 1 byte per dimension against PQ's 1 byte per
    * SUBSPACE: 8× less compression, no codebook training, and
    * per-dimension reconstruction PQ cannot do. A flat dimension
    * (max = min) encodes 0. Exact integer algebra on [[intVec]]'s
    * grid; the clamp keeps out-of-domain vectors (a new batch wider
    * than the training sample) encodable.
    */
  def sqEncode(df: DataFrame, idCol: String, vecCol: String,
               minMax: Seq[(Long, Long)]): DataFrame = {
    val lows = typedLit(minMax.map(_._1))
    val rng = typedLit(minMax.map { case (lo, hi) => hi - lo })
    // iv materialized in its own projection (an inlined intVec inside
    // the lambda would re-quantize the vector per element — the HOF
    // quadratic trap); floor division via the pmod identity
    // (n − pmod(n,r))/r — n−pmod is exactly divisible, so the double
    // division is exact; for in-domain values n ≥ 0, where floor,
    // truncation, and DuckDB's `//` all agree (out-of-domain negatives
    // floor, then the 0-clamp takes over before the difference shows)
    df.select(col(idCol), intVec(col(vecCol)).as("__iv"))
      .select(col(idCol),
        zip_with(zip_with(col("__iv"), lows, (x, lo) => x - lo), rng,
          (nd, r) => {
            val n = nd * lit(255L)
            when(r === 0L, lit(0L))
              .otherwise(greatest(lit(0L), least(lit(255L),
                ((n - pmod(n, r)) / r).cast("long"))))
          }).as("codes"))
  }

  /** SQ8 approximate top-k by midpoint reconstruction, folded to ONE
    * native integer dot: recon_d = min_d + (2·code_d+1)·r_d/510, so
    *
    *   510 · approx_dot = Σ_d q_d·(510·min_d + r_d)  (a constant)
    *                    + Σ_d (2·q_d·r_d) · code_d
    *
    * — the per-row work is exactly `longDot(codes, w)` with literal
    * weights w_d = 2·q_d·r_d: the codegen'd kernel the exact path
    * uses, over the COMPRESSED column (the vector column is never
    * read at scan time — same contract as the PQ ADC scan). Returned
    * `approx_num` is the 510-scaled numerator: ranking is invariant
    * to the constant positive denominator, and the value stays exact
    * integer for the oracle. Ties break on ascending id.
    */
  def sqTopK(encoded: DataFrame, idCol: String, minMax: Seq[(Long, Long)],
             queryVec: Seq[Float], k: Int = 10): DataFrame = {
    val q = queryVec.map(quantizeL)
    require(q.size == minMax.size, "query/quantizer dimensionality mismatch")
    val w = q.zip(minMax).map { case (qd, (lo, hi)) => 2L * qd * (hi - lo) }
    val c0 = q.zip(minMax).map { case (qd, (lo, hi)) =>
      qd * (510L * lo + (hi - lo)) }.sum
    encoded
      .withColumn("approx_num", intDot(col("codes"), typedLit(w)) + lit(c0))
      .orderBy(col("approx_num").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("approx_num"))
  }

  // ---- Embedding-space QA ----

  /** Per-label COHESION report — the embedding-space quality check run
    * before trusting labels for ANN blocking, kNN voting, or stratified
    * eval: each label's floor-mean centroid, its average intra-cluster
    * squared L2 (spread), and the squared L2 to its NEAREST other
    * centroid (separation). A healthy space has separation ≫ spread; a
    * collapsed or mislabeled one shows the inverse. All exact integer
    * algebra on [[intVec]]'s grid: centroids are per-dimension Σv/n in
    * TRUNCATING division — DuckDB's `//` truncates toward zero on
    * negatives (−7//2 = −3), so the engine-portable contract is
    * truncation, not floor — and distances run through the native
    * [[intDot]] kernel via ¦v−c¦² = v·v − 2·v·c + c·c.
    *
    * Plan shape for 100 TB: pass 1 is one (label, dim) posexplode
    * aggregate (map-side combined, labels × dims rows collected like
    * [[kmeansFitInt]]'s centroids); pass 2 scores each row against its own
    * label's centroid as literal arrays in ONE scan — no joins, no
    * per-row branching beyond the label dispatch; the k² inter-centroid
    * table is driver arithmetic.
    */
  def labelCohesion(embeddings: DataFrame, idCol: String, vecCol: String,
                    labelCol: String): DataFrame = {
    val sums = embeddings
      .select(col(labelCol).cast("long").as("__lab"),
              posexplode(intVec(col(vecCol))).as(Seq("__d", "__v")))
      .groupBy(col("__lab"), col("__d"))
      .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
      .orderBy(col("__lab"), col("__d"))
      .collect()
    val centroids: Map[Long, Seq[Long]] = sums
      .groupBy(_.getLong(0))
      .map { case (lab, rows) =>
        lab -> rows.sortBy(_.getInt(1)).map(r =>
          r.getLong(2) / r.getLong(3)).toSeq } // truncating, = DuckDB //
    val labels = centroids.keys.toSeq.sorted
    require(labels.size >= 2,
      s"labelCohesion needs >= 2 distinct labels (got ${labels.size}): " +
        "inter-centroid separation is undefined for a single-label corpus")
    val centCol = labels.tail.foldLeft(
        when(col("__lab") === labels.head, typedLit(centroids(labels.head)))) {
      (acc, l) => acc.when(col("__lab") === l, typedLit(centroids(l)))
    }
    val ccCol = labels.tail.foldLeft(
        when(col("__lab") === labels.head,
             lit(centroids(labels.head).map(x => x * x).sum))) {
      (acc, l) => acc.when(col("__lab") === l,
                           lit(centroids(l).map(x => x * x).sum))
    }
    val minInter: Map[Long, Long] = labels.map { l =>
      l -> labels.filter(_ != l).map { o =>
        centroids(l).zip(centroids(o))
          .map { case (a, b) => val d = a - b; d * d }.sum }.min
    }.toMap
    val interCol = labels.tail.foldLeft(
        when(col("__lab") === labels.head, lit(minInter(labels.head)))) {
      (acc, l) => acc.when(col("__lab") === l, lit(minInter(l)))
    }
    embeddings
      .select(col(labelCol).cast("long").as("__lab"),
              intVec(col(vecCol)).as("__iv"))
      .withColumn("__d2",
        intDot(col("__iv"), col("__iv"))
          - lit(2L) * intDot(col("__iv"), centCol) + ccCol)
      .groupBy(col("__lab").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
           sum(col("__d2")).as("__sd2"),
           max(interCol).as("min_inter_d2"))
      .withColumn("avg_intra_d2", expr("__sd2 div n_vectors"))
      .select(col("label"), col("n_vectors"), col("avg_intra_d2"),
              col("min_inter_d2"))
  }

  // ---- Filtered vector search (the vector-store filter problem) ----

  /** Exact FILTERED kNN — the PRE-FILTER strategy: apply the metadata
    * predicate first, brute-score the survivors. Recall is 1.0 by
    * construction at any selectivity, and this is the right plan when
    * the filter is SELECTIVE: the predicate pushes down to the scan
    * (PushedFilters for plain columns), so the dot kernel only runs on
    * the matching sliver. With a weak filter it degenerates to the
    * full brute scan — that is [[ivfFilteredTopKInt]]'s territory.
    */
  def filteredTopKInt(embeddings: DataFrame, idCol: String, vecCol: String,
                      pred: org.apache.spark.sql.Column,
                      queryVec: Seq[Float], k: Int = 10): DataFrame = {
    val q = typedLit(queryVec.map(quantizeL))
    embeddings.filter(pred)
      .withColumn("dot", intDot(intVec(col(vecCol)), q))
      .orderBy(col("dot").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dot"))
  }

  /** IVF FILTERED probe — the POST-FILTER strategy for weak filters at
    * scale: probe the `nprobe` query-nearest cells, apply the
    * predicate to the candidates, top-k the survivors. A starved
    * candidate set (filter killed the probed cells' matches, fewer
    * than k survivors) escalates by DOUBLING nprobe — at most
    * `maxEscalations` driver-side rounds, each a cheap partition-
    * pruned read — rather than silently returning a short result the
    * way a fixed-nprobe post-filter does. Recall stays approximate
    * (a matching vector in an unprobed cell is still missed — the
    * inherent IVF trade); the escalation bounds the MISSING-ROWS
    * failure mode, which is the one that breaks downstream joins.
    */
  def ivfFilteredTopKInt(assigned: DataFrame, idCol: String, vecCol: String,
                         pred: org.apache.spark.sql.Column,
                         centroids: Seq[(Long, Seq[Long])],
                         queryVec: Seq[Float], k: Int = 10, nprobe: Int = 2,
                         maxEscalations: Int = 2): DataFrame = {
    val q = typedLit(queryVec.map(quantizeL))
    def probe(n: Int): DataFrame = {
      val cells = rankCells(centroids, queryVec.map(quantizeL), n)
      assigned
        .filter(col("cell").isInCollection(cells))
        .filter(pred)
        .withColumn("dot", intDot(intVec(col(vecCol)), q))
        .orderBy(col("dot").desc, col(idCol))
        .limit(k)
        .select(col(idCol), col("cell"), col("dot"))
    }
    var n = nprobe
    var out = probe(n)
    var rounds = 0
    while (rounds < maxEscalations && n < centroids.size &&
           out.count() < k) {
      n = math.min(centroids.size, n * 2)
      out = probe(n)
      rounds += 1
    }
    out
  }
}
