package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Search operators (reference Q1–Q5 + F14, SURVEY.md §2.11).
  *
  * The reference's kNN is an ES `script_score` brute-force scan —
  * `cosineSimilarity(query, 'embedding') + 1.0` over every vector
  * passing the provider term filter, size=k
  * (solaius/data_pipeline2 `services/vector_storage.py:69-100`). The
  * Spark expression of the same semantics: filter → cosine column →
  * `orderBy(desc).limit(k)`, which Catalyst plans as
  * TakeOrderedAndProject — per-partition top-k, driver merges k·P rows,
  * never a full sort. That is the correct 100 TB plan for exact kNN.
  *
  * The cosine kernel is composed from codegen-friendly higher-order
  * functions (`zip_with` + `aggregate`), not a Scala UDF — it stays
  * inside whole-stage codegen.
  */
object Search {

  /** F14 — cosine similarity between two array<float> columns, computed
    * in double precision by a native codegen'd expression
    * ([[graft.functions.VectorExpressions.CosineSimilarity]]). The
    * composed `aggregate(zip_with(...))` form is semantically identical
    * but CodegenFallback (interpreted per element) — it dominated query
    * time on 768-dim vectors.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineSim(a, b)

  /** ES-parity score: cosine + 1.0 (`vector_storage.py:88`). */
  def esScore(a: Column, b: Column): Column = cosine(a, b) + lit(1.0)

  /** Q1 — exact brute-force kNN of one query vector over an embeddings
    * DataFrame (column `embedding`), optional provider filter (P2).
    * Returns the top-k rows with a `score` column, score-descending
    * with `tieBreak` resolving equal scores deterministically.
    */
  def knn(embeddings: DataFrame, queryVec: Seq[Float], k: Int = 10,
          provider: Option[String] = None,
          tieBreak: Seq[Column] = Seq.empty): DataFrame = {
    val q = typedLit(queryVec)
    val base = provider.fold(embeddings)(p =>
      embeddings.filter(col("embedding_provider") === p))
    base
      .withColumn("score", esScore(col("embedding"), q))
      .orderBy(col("score").desc +: tieBreak: _*)
      .limit(k)
  }

  /** Q1 batch form — many query vectors at once: broadcast the queries
    * (small side) against the embeddings scan, score, per-query top-k
    * via window rank. One shuffle on query_id; the embeddings table is
    * read once regardless of query count.
    */
  def knnBatch(embeddings: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = embeddings
      .crossJoin(broadcast(queries.select(col("query_id"), col("query_vec"))))
      .withColumn("score", esScore(col("embedding"), col("query_vec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc)
    scored.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k).drop("__rk", "query_vec")
  }

  /** Q2 — metadata filtering: conjunctive equality filters over a JSON
    * metadata column (the README-declared surface the reference never
    * wired into its ES query builder — implemented as declared,
    * SURVEY §2.11 Q2).
    */
  def metadataFilter(df: DataFrame, metadataJsonCol: String,
                     filters: Map[String, String]): DataFrame =
    filters.foldLeft(df) { case (d, (k, v)) =>
      d.filter(get_json_object(col(metadataJsonCol), s"$$.$k") === v)
    }

  /** Q3 — tokenized full-text match: any lowercase word token of the
    * query appears in the content (ES `match` semantics without tf-idf
    * ranking; `test_full_pipeline.py:133-139`).
    */
  def textMatch(df: DataFrame, contentCol: String, query: String): DataFrame = {
    val qTokens = typedLit(
      queryTokens(query).distinct)
    df.filter(arrays_overlap(
      array_distinct(filter(split(lower(col(contentCol)), "\\W+"), t => t =!= "")),
      qTokens))
  }

  /** Q3 extension — BM25-RANKED full-text search over [[textMatch]]'s
    * token model (lowercase `\W+` split), k1=6/5, b=3/4, with a
    * rational IDF `(N-df+1/2)/(df+1/2)` (the log-free simplification —
    * monotone in df like Robertson's log form but never negative, and
    * exactly representable). RANKING CAVEAT: the rational IDF weights
    * rare terms far more heavily than the log IDF Lucene/ES use, so
    * multi-term rankings can diverge from standard BM25 when query
    * terms have very different df — per-term order is identical, the
    * cross-term mix is not (documented in README/SURVEY; a fixed-point
    * integer log would buy closer parity at the cost of the exact
    * rational algebra the oracle checks bit-for-bit). Every quantity
    * is exact integer
    * arithmetic: the per-term contribution
    *
    *   idf · tf·(k1+1) / (tf + k1·(1-b) + k1·b·dl/avgdl)
    *
    * clears denominators (avgdl = T/N where T = Σ dl) into
    *
    *   score_t = ⌊ 10^4 · (2(N-df)+1) · 22·tfc·T  /
    *               ((2df+1) · (10·T·tfc + 3·T + 9·dl·N)) ⌋
    *
    * summed over distinct query terms, with tfc = min(tf, 2^20) —
    * BM25 saturates in tf, and past 2^20 the tf-part is within 10^-6
    * of its limit, so the clamp changes nothing observable while
    * keeping the products inside decimal(38,0)/HUGEINT for corpora up
    * to ~10^11 docs and ~2.5·10^14 tokens (without it, a degenerate
    * repeated-token doc at that scale would overflow to null and
    * silently vanish from the results). Deterministic across engines:
    * no transcendental, no float, fixed-point scale 10^4.
    *
    * Plan shape for 100 TB: per-term tf and dl are per-row
    * higher-order-function columns (one codegen map pass — the corpus
    * is NEVER exploded to a (doc, term) table and never shuffles); the
    * corpus constants (N, T, per-term df) reduce to ONE row, broadcast
    * back onto the scan; ranking is `TakeOrderedAndProject`
    * (per-partition top-k, k·P driver merge). Only matching docs
    * (score > 0) are returned, like ES `match`.
    */
  def bm25TopK(df: DataFrame, idCol: String, contentCol: String,
               query: String, k: Int = 10): DataFrame = {
    val qts = queryTokens(query).distinct
    require(qts.nonEmpty, "query must contain at least one word token")
    val dec = "decimal(38,0)"
    // The token list is referenced by __dl and every __tf$i, so
    // CollapseProject keeps the non-cheap split in one projection
    // rather than inlining a copy per term. The coalesce makes the
    // chain non-nullable — otherwise InferFiltersFromConstraints turns
    // the score>0 predicate into pushed-down isnotnull filters that
    // each re-run the tokenizer per row (both plan-asserted in the
    // spec).
    val toks = df.select(
      col(idCol),
      filter(split(lower(coalesce(col(contentCol), lit(""))), "\\W+"),
             t => t =!= "").as("__toks"))
    val withTf = qts.zipWithIndex.foldLeft(
      toks.withColumn("__dl", size(col("__toks")).cast("long"))) {
        case (d, (qt, i)) =>
          d.withColumn(s"__tf$i",
            size(filter(col("__toks"), t => t === lit(qt))).cast("long"))
      }.drop("__toks")
    val aggs = sum(col("__dl")).as("__T") +: count(lit(1)).as("__N") +:
      qts.indices.map(i => sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
    val stats = withTf.agg(aggs.head, aggs.tail: _*)
    val joined = withTf.crossJoin(broadcast(stats))
    val contribs = qts.indices.map { i =>
      val tf = least(col(s"__tf$i"), lit(1048576L)).cast(dec)
      val dfq = col(s"__df$i").cast(dec)
      val n = col("__N").cast(dec)
      val t = col("__T").cast(dec)
      val dl = col("__dl").cast(dec)
      val num = lit(10000L).cast(dec) *
        (lit(2L).cast(dec) * (n - dfq) + lit(1L).cast(dec)) *
        lit(22L).cast(dec) * tf * t
      val den = (lit(2L).cast(dec) * dfq + lit(1L).cast(dec)) *
        (lit(10L).cast(dec) * t * tf + lit(3L).cast(dec) * t +
         lit(9L).cast(dec) * dl * n)
      (num, den)
    }
    contribs.zipWithIndex.foldLeft(joined) { case (d, ((num, den), i)) =>
      d.withColumn(s"__num$i", num).withColumn(s"__den$i", den)
        .withColumn(s"__c$i", expr(s"__num$i div __den$i"))
    }
      .withColumn("score", qts.indices.map(i => col(s"__c$i")).reduce(_ + _))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("__dl").as("dl"), col("score"))
  }

  /** [[bm25TopK]] with LUCENE-PARITY ranking: the rational IDF is
    * replaced by a real logarithmic IDF computed in EXACT fixed-point
    * integer algebra ([[graft.functions.FixedPoint]]), so the
    * cross-term mix matches standard BM25/Lucene ordering while every
    * bit stays reproducible by an independent engine (the oracle runs
    * the same log₂ recurrence as a recursive CTE).
    *
    * Lucene's IDF is ln(1 + (N−df+½)/(df+½)) = ln((2N+2)/(2df+1)).
    * Logarithm base is a positive constant factor on every term, so
    * ranking under log₂ is IDENTICAL to ranking under ln — we keep
    * base 2 and skip the ln 2 multiply:
    *
    *   idf_fp = log2fp(2N+2) − log2fp(2df+1)   (≥ 0 since df ≤ N)
    *   score  = Σ_t idf_fp(t) · ⌊10^4 · 22·tf·T / (10·T·tf + 3·T + 9·dl·N)⌋
    *
    * (the tf factor is [[bm25TopK]]'s k1=6/5, b=3/4 normalization with
    * denominators cleared; same 2^20 tf clamp, same decimal(38,0)
    * headroom). idf_fp ≤ 63·2^12 ≈ 2.6e5 and the tf factor ≤ 2.2e4,
    * so per-term contributions stay under 2^33 — BIGINT-safe summed
    * over any query.
    *
    * Plan shape is bm25TopK's (tf as HOF columns — no explode, no
    * corpus shuffle; 1-row stats broadcast; TakeOrderedAndProject)
    * plus the log₂ recurrence, which runs ONLY on the 1-row stats
    * aggregate — zero per-row cost at any corpus size.
    */
  def bm25LogTopK(df: DataFrame, idCol: String, contentCol: String,
                  query: String, k: Int = 10): DataFrame = {
    val qts = queryTokens(query).distinct
    require(qts.nonEmpty, "query must contain at least one word token")
    val toks = df.select(
      col(idCol),
      filter(split(lower(coalesce(col(contentCol), lit(""))), "\\W+"),
             t => t =!= "").as("__toks"))
    val withTf = qts.zipWithIndex.foldLeft(
      toks.withColumn("__dl", size(col("__toks")).cast("long"))) {
        case (d, (qt, i)) =>
          d.withColumn(s"__tf$i",
            size(filter(col("__toks"), t => t === lit(qt))).cast("long"))
      }.drop("__toks")
    val aggs = sum(col("__dl")).as("__T") +: count(lit(1)).as("__N") +:
      qts.indices.map(i => sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
    val statsX = qts.indices.foldLeft(withTf.agg(aggs.head, aggs.tail: _*)
        .withColumn("__xn", lit(2L) * col("__N") + lit(2L))) { (d, i) =>
      d.withColumn(s"__xd$i", lit(2L) * col(s"__df$i") + lit(1L))
    }
    val stats = graft.functions.FixedPoint.withLog2(
      statsX, ("__xn", "__l2n") +: qts.indices.map(i => (s"__xd$i", s"__l2d$i")))
    // every term scores through bm25LogTerm, the algebra the stored
    // server shares: the two forms must agree row for row
    qts.indices.foldLeft(withTf.crossJoin(broadcast(stats))) { (d, i) =>
        d.withColumn(s"__c$i", bm25LogTerm(col("__l2n") - col(s"__l2d$i"),
          col(s"__tf$i"), col("__dl"), col("__N"), col("__T")))
      }
      .withColumn("score", qts.indices.map(i => col(s"__c$i")).reduce(_ + _))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("__dl").as("dl"), col("score"))
  }

  /** One term's BM25 log-IDF contribution,
    *   idf · ⌊10^4 · 22·tf·T / (10·T·tf + 3·T + 9·dl·N)⌋
    * in decimal(38,0) with tf clamped at 2^20 ([[bm25LogTopK]]'s
    * algebra), as a BIGINT.
    */
  private def bm25LogTerm(idf: Column, tf: Column, dl: Column,
                          n: Column, t: Column): Column = {
    val dec = "decimal(38,0)"
    val tfd = least(tf, lit(1048576L)).cast(dec)
    val (nd, td, dld) = (n.cast(dec), t.cast(dec), dl.cast(dec))
    val num = lit(10000L).cast(dec) * lit(22L).cast(dec) * tfd * td
    val den = lit(10L).cast(dec) * td * tfd + lit(3L).cast(dec) * td +
      lit(9L).cast(dec) * dld * nd
    idf * call_function("div", num, den).cast("long")
  }

  /** True when a stored postings index can serve BM25 — it carries the
    * norms sidecar (indexes written since norms existed). Callers use
    * this to pick stored serving vs the inline corpus scan; both
    * produce the identical ranking (spec-pinned), so the choice is
    * pure cost.
    */
  def postingsServesBm25(path: String): Boolean =
    new java.io.File(path, "_graft_postings_meta.json").exists() &&
      new java.io.File(normsPath(path)).exists()

  /** BM25 (log IDF) served from the STORED postings index — lexical
    * ranking WITHOUT scanning the corpus, the posture a 100 TB
    * deployment actually serves from (what ES/Lucene do with the
    * inverted index + norms):
    *
    *  - candidates and term frequencies come from the ≤ ¦terms¦
    *    pruned `tb=` buckets (directory-level PartitionFilters — the
    *    rest of the index is never opened);
    *  - N and T come from the norms sidecar, held in the session's
    *    read handle per on-disk state of the sidecar; per-doc lengths
    *    come from the norms rows — the corpus text is never touched;
    *  - the per-term df is ONE collected action, and the IDF is
    *    computed on the driver with [[graft.functions.FixedPoint.log2fp]],
    *    the kernel the inline scan's `log2fp` column runs;
    *  - scoring is one plan in long form, a row per (doc, term) scored
    *    by [[bm25LogTerm]] and summed per doc: its shape does not depend
    *    on the term count, and the per-query values (terms, IDF) enter
    *    as referenced literals, so every request reuses one compiled
    *    plan. The ranking is IDENTICAL to the inline [[bm25LogTopK]]
    *    scan row for row (spec-pinned).
    *
    * Requires a norms sidecar; an index written before norms existed
    * must be rebuilt (loud require — a partial answer would silently
    * mis-rank).
    */
  def bm25LogTopKStored(spark: org.apache.spark.sql.SparkSession,
                        path: String, idCol: String, query: String,
                        k: Int = 10): DataFrame = {
    val qts = queryTokens(query).distinct
    require(qts.nonEmpty, "query must contain at least one word token")
    val norms = new java.io.File(normsPath(path))
    require(norms.exists(),
      s"no norms sidecar at $norms — rebuild the index with writePostings")
    val nBuckets = postingsNBuckets(path)
    if (postingsIsEmpty(path)) {
      // emptied index: nothing can score — same (id, dl, score) shape
      import org.apache.spark.sql.types._
      val idType = postingsIdType(path).getOrElse(StringType)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField(idCol, idType),
                       StructField("dl", LongType),
                       StructField("score", LongType))))
    }
    val normsDf = Tables.read(spark, norms.toString)
    val (n, t) = Tables.handle(spark, norms.toString, "corpusStats") {
      val r = normsDf.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val buckets = qts.map(termBucketOf(_, nBuckets)).distinct
    val hits = Tables.read(spark, path)
      .filter(col("tb").isInCollection(buckets) &&
              array_contains(typedLit(qts), col("tok")))
      .select(col(idCol), col("tok"))
    // rows arrive clustered by term, so the distinct count needs no
    // second exchange
    val df = hits.repartition(col("tok"))
      .groupBy(col("tok")).agg(countDistinct(col(idCol)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val l2n = graft.functions.FixedPoint.log2fp(2 * n + 2)
    val idf = qts.map(q =>
      q -> (l2n - graft.functions.FixedPoint.log2fp(2 * df.getOrElse(q, 0L) + 1))).toMap
    // clustered by doc: the (doc, term) count, the norms join and the
    // per-doc sum all run on one exchange
    hits.repartition(col(idCol))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("__tf"))
      .join(normsDf.withColumnRenamed("dl", "__dl"), Seq(idCol))
      .withColumn("__c", bm25LogTerm(element_at(typedLit(idf), col("tok")),
                                     col("__tf"), col("__dl"), lit(n), lit(t)))
      .groupBy(col(idCol), col("__dl")).agg(sum(col("__c")).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("__dl").as("dl"), col("score"))
  }

  /** RECIPROCAL-RANK FUSION — the hybrid-retrieval combiner: merge any
    * number of independently-produced rankings of the same id space
    * (BM25, phrase, vector, ...) by summing 1/(kRrf + rank) per list, a
    * score that rewards agreement without ever comparing the lists'
    * incomparable raw scores (the whole point of RRF over weighted
    * score sums). Computed in exact fixed-point: SCALE div (kRrf+rank)
    * with SCALE = 10^6 — truncating integer division both engines
    * share, bit-reproducible. `n_lists` reports how many rankings each
    * survivor appeared in (the agreement diagnostic).
    *
    * Each input must carry `idCol` and a 1-based LongType `rankCol`.
    * Scale posture: inputs are top-N rankings (N rows each), so the
    * union/group/top-k runs on lists-sized data — the corpus work
    * happened upstream in whatever produced the rankings.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contribs = rankings.map(r =>
      r.select(col(idCol),
               expr(s"1000000 div ($kRrf + $rankCol)").cast("long").as("__c")))
    contribs.reduce(_ union _)
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf_score"),
           count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[rrfFuse]]'s algebra over rankings already collected to the
    * driver — each a list of ids in rank order (rank = position + 1) —
    * for a caller that holds a few short lists and needs no job to
    * fuse them: `1000000 div (kRrf + rank)` summed per id, `n_lists`
    * the id's occurrences, ordered by score desc then id asc, top k.
    * Rows are (id, rrf_score, n_lists), exactly [[rrfFuse]]'s.
    */
  def rrfFuseRows[A: Ordering](rankings: Seq[Seq[A]], k: Int = 10,
                               kRrf: Int = 60): Seq[(A, Long, Long)] = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    rankings.flatMap(_.zipWithIndex.map { case (id, i) =>
        (id, 1000000L / (kRrf + i + 1L)) })
      .groupMapReduce(_._1)(c => (c._2, 1L)) { case ((s, n), (t, m)) => (s + t, n + m) }
      .toSeq.map { case (id, (score, n)) => (id, score, n) }
      .sortBy { case (id, score, _) => (-score, id) }
      .take(k)
  }

  /** Q3 extension — PHRASE search over the positional structure the
    * `\W+` token model induces: documents containing the exact
    * consecutive token sequence `phrase`, with the occurrence count and
    * the first match's 1-based token position. [[textMatch]]'s
    * bag-of-words test cannot tell "table scan" from "scan table";
    * this is the positional test a search engine answers from its
    * positional inverted index (ES `match_phrase`,
    * `api/routes/search.py:61-76`'s text mode is the bag form).
    *
    * Algebra: an occurrence of a phrase term at token position p,
    * filling phrase offset j, votes for anchor p−j; an anchor with all
    * |phrase| offsets satisfied is a match. (doc, pos) pairs are
    * unique, so the per-(doc, anchor) vote count equals the number of
    * DISTINCT satisfied offsets — a term repeated in the phrase is
    * handled by the per-occurrence offset explode, and OVERLAPPING
    * occurrences are counted ("a a" occurs twice in "a a a").
    *
    * Plan shape for 100 TB: a pushable `array_intersect` guard skips
    * docs missing any phrase term before they explode; the posexplode
    * output is filtered to the phrase's terms BEFORE any exchange, so
    * the only shuffled rows are the |phrase| query terms' occurrences —
    * exactly the postings a term-bucketed stored index would have
    * partition-pruned to; both aggregates run on that sliver.
    */
  def phraseOccurrences(df: DataFrame, idCol: String, textCol: String,
                        phrase: String): DataFrame = {
    val terms = phraseTerms(phrase)
    val distinctTerms = terms.distinct
    val postings = df
      .select(col(idCol),
              filter(split(lower(col(textCol)), "\\W+"), t => t =!= "")
                .as("__toks"))
      .filter(size(array_intersect(col("__toks"),
                                   typedlit(distinctTerms))) === distinctTerms.size)
      .select(col(idCol), posexplode(col("__toks")).as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("__tok").as("tok"))
    anchorVotes(postings, idCol, terms)
  }

  private def phraseTerms(phrase: String): Seq[String] = {
    val terms = queryTokens(phrase)
    require(terms.nonEmpty, "phrase must contain at least one word token")
    terms
  }

  /** Query-side tokenizer shared by every text-search entry point:
    * Unicode NFC first (stored text is NFC at the ingest boundary — a
    * decomposed query of composed stored text must not silently miss),
    * then the engine's `\W+` lowercase token model.
    */
  private[graft] def queryTokens(query: String): Seq[String] =
    graft.functions.NormalizeExpressions.nfcString(query)
      .toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq

  /** PSEUDO-RELEVANCE FEEDBACK — RM3/Rocchio-style query expansion
    * (Rocchio 1971; Abdul-Jaleel et al. 2004, the RM3 TREC report):
    * retrieve a small seed set for the literal query, mine the terms
    * that characterize those docs, and re-retrieve with the expanded
    * query — the classic fix for vocabulary mismatch (a query says
    * "stream", the best docs also say "watermark"). Three exact stages:
    *
    *   1. seed ranking — total occurrences of the query's terms,
    *      top `seedK` docs (score desc, id asc);
    *   2. expansion — the top `expand` non-query terms of the seed
    *      docs by integer TF-IDF (tf·10⁶ div corpus df — q65's
    *      convention), ties to the lexicographically first term;
    *   3. re-ranking — the same occurrence count under the expanded
    *      term set, top `k`.
    *
    * Scale shape: the corpus pays ONE tokenize+explode and ONE
    * (doc, term) aggregation, pinned; all three stages then read the
    * tf table (far smaller than the token stream — Spark shares no
    * subtrees across DataFrame branches, so without the pin each
    * stage would re-parse the corpus). Seed-doc and term sets are
    * constant-size and broadcast; both cuts are
    * TakeOrderedAndProject. Exact integers end to end. Caller owns
    * releasing the pin via the returned frame's lifecycle (it is
    * dropped with the JVM; per-query serving should route through a
    * longer-lived term index like the postings table instead).
    */
  def prfTopK(df: DataFrame, idCol: String, contentCol: String,
              query: String, seedK: Int = 3, expand: Int = 2,
              k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = df.sparkSession
    import sp.implicits._
    val qts = queryTokens(query).distinct
    require(qts.nonEmpty, "query must contain at least one word token")
    val tf = df.select(col(idCol),
        explode(filter(split(lower(coalesce(col(contentCol), lit(""))),
                             "\\W+"),
                       t => t =!= "")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val seed = qts.toDF("term")
    val top = tf.join(broadcast(seed), Seq("term"))
      .groupBy(col(idCol)).agg(sum(col("tf")).as("score0"))
      .orderBy(col("score0").desc, col(idCol).asc).limit(seedK)
      .select(col(idCol))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val expanded = tf.join(broadcast(top), Seq(idCol))
      .groupBy(col("term")).agg(sum(col("tf")).as("tf"))
      .join(broadcast(seed), Seq("term"), "left_anti")
      .join(dfreq, Seq("term"))
      .withColumn("tfidf", expr("tf * 1000000 div df"))
      .orderBy(col("tfidf").desc, col("term").asc).limit(expand)
      .select(col("term"))
    val allTerms = seed.unionByName(expanded).distinct()
    val res = tf.join(broadcast(allTerms), Seq("term"))
      .groupBy(col(idCol)).agg(sum(col("tf")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc).limit(k)
    // rank assigned AFTER the cut — the window runs over k rows
    res.withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col(idCol)))
          .cast("long"))
      .select(col("rnk"), col(idCol), col("score"))
  }

  /** The anchor-vote stage shared by the inline and the STORED phrase
    * paths: postings = (id, pos 1-based, tok); only the phrase's
    * terms survive the first filter, so every exchange below runs on
    * the query terms' occurrences.
    */
  private def anchorVotes(postings: DataFrame, idCol: String,
                          terms: Seq[String]): DataFrame = {
    val distinctTerms = terms.distinct
    val offsetsOf: Seq[(String, Seq[Int])] = distinctTerms.map(t =>
      t -> terms.zipWithIndex.collect { case (`t`, j) => j })
    val offArr = offsetsOf.tail
      .foldLeft(when(col("tok") === offsetsOf.head._1,
                     typedlit(offsetsOf.head._2))) {
        case (acc, (t, offs)) => acc.when(col("tok") === t, typedlit(offs))
      }
    postings
      .filter(col("tok").isin(distinctTerms: _*))
      .select(col(idCol), col("pos"), explode(offArr).as("__off"))
      .select(col(idCol), (col("pos") - col("__off")).as("__anchor"))
      .filter(col("__anchor") >= 1)
      .groupBy(col(idCol), col("__anchor"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === terms.length)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_occurrences"),
           min(col("__anchor")).cast("long").as("first_pos"))
  }

  /** All single-character DELETE VARIANTS of a string column, plus the
    * identity at pos 0 — the SymSpell key set (Garbe's symmetric
    * delete algorithm, the public spelling-correction standard): two
    * strings are Levenshtein-distance-1 iff their variant sets meet
    * under the position rules [[spellSuggest]] applies. Output
    * `(s, pos, v)`; the variant construction sits in its own
    * projection after the explode (the HOF-inlining rule).
    */
  private def deleteVariants(df: DataFrame, c: String): DataFrame =
    df.select(col(c).as("s"), lit(0L).as("pos"), col(c).as("v"))
      .union(
        df.select(col(c).as("s"),
                  explode(expr(s"sequence(1, length($c))")).as("pos"))
          .select(col("s"), col("pos").cast("long").as("pos"),
            expr("concat(substring(s, 1, CAST(pos AS INT) - 1), " +
                 "substring(s, CAST(pos AS INT) + 1, length(s)))").as("v")))

  /** SPELLING SUGGESTION — exact Levenshtein-1 candidates from the
    * corpus vocabulary, by delete-variant equi-joins (no edit-distance
    * DP anywhere): probe p and term t are distance 1 iff
    *
    *   - p equals a delete of t        (t has one extra character),
    *   - a delete of p equals t        (p has one extra character), or
    *   - delete_i(p) = delete_i(t) at the SAME position i
    *     (substitution at i; equal deletes at equal positions force
    *     equal lengths, so no length guard is needed).
    *
    * Exact distance-0 hits are excluded (an existing word still gets
    * its neighbors listed — the "did you mean" contract). Candidates
    * rank by corpus frequency (tf desc, term asc), top `k` per probe.
    *
    * Scale shape: the corpus is touched once (vocab tf aggregate,
    * map-side combined, then pinned); variants explode the VOCABULARY
    * (Σ len+1 rows per distinct token — bounded by vocab size × max
    * token length, never by corpus size), and the probe side is a
    * handful of query terms. One equi-join on the variant string.
    */
  def spellSuggest(docs: DataFrame, textCol: String,
                   probes: DataFrame, probeCol: String,
                   k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      explode(filter(split(lower(coalesce(col(textCol), lit(""))), "\\W+"),
                     t => t =!= "")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val tvar = deleteVariants(vocab.select(col("tok")), "tok")
      .select(col("s").as("term"), col("pos").as("tpos"), col("v"))
    val pvar = deleteVariants(probes.select(col(probeCol)).distinct(), probeCol)
      .select(col("s").as("probe"), col("pos").as("ppos"), col("v"))
    val cand = pvar.join(tvar, Seq("v"))
      .filter(col("probe") =!= col("term"))
      .filter((col("ppos") === 0 && col("tpos") > 0) ||
              (col("ppos") > 0 && col("tpos") === 0) ||
              (col("ppos") > 0 && col("tpos") === col("ppos")))
      .select(col("probe"), col("term")).distinct()
    cand.join(vocab.withColumnRenamed("tok", "term"), Seq("term"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe"))
          .orderBy(col("tf").desc, col("term"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe"), col("rnk"), col("term"), col("tf"))
  }

  /** Term bucket for the stored postings layout: first 32 md5 bits of
    * the token mod `nBuckets` — the same recipe on the write and probe
    * sides (the sketch-family convention), deterministic across
    * sessions and engines.
    */
  /** Driver-side twin of [[termBucket]] — the ONE bucket recipe every
    * probe must share with the writer (a drifted copy prunes to
    * partitions the terms were never written to and silently returns
    * partial matches), so both stored probes call this instead of
    * re-deriving it.
    */
  private def termBucketOf(t: String, nBuckets: Int): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString,
      16) % nBuckets

  private def termBucket(tok: Column, nBuckets: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % nBuckets

  /** Build the POSITIONAL POSTINGS table — (id, pos, tok, tb) with tb
    * the term bucket — the build-once side of the stored phrase index.
    */
  def buildPostings(df: DataFrame, idCol: String, textCol: String,
                    nBuckets: Int = 64): DataFrame =
    df.select(col(idCol),
              posexplode(filter(split(lower(col(textCol)), "\\W+"),
                                t => t =!= "")).as(Seq("__p0", "tok")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("tok"),
              termBucket(col("tok"), nBuckets).as("tb"))

  /** Persist [[buildPostings]] partitioned by term bucket — probes
    * read only the buckets their terms hash to (PartitionFilters), the
    * search-index analogue of the IVF cell layout. The bucket count is
    * written into a `_graft_postings_meta.json` sidecar (underscore
    * prefix = invisible to the parquet reader) so probes recover the
    * layout from the index itself — a probe bucketing with a different
    * `nBuckets` than the writer would prune to partitions the terms
    * were never written to and silently return partial matches.
    */
  /** The NORMS sidecar — (id, dl) with dl the doc's token count under
    * the index's own token model, one row per SOURCE doc (a zero-token
    * doc gets dl=0 — it has no postings rows, but BM25's corpus stats
    * N/T must still count it, exactly as the inline scan does). It
    * lives BESIDE the index root (the `.tmp`/`.trash` sibling
    * convention), not under it: a nested directory would either break
    * the root read's `tb=` partition discovery or need a hidden
    * underscore prefix that Spark's path filter then warns about on
    * every probe. This is Lucene's norms file re-expressed: the
    * per-doc lengths BM25 needs, persisted at build time so serving
    * never re-scans the corpus.
    */
  private def normsPath(path: String) = s"$path.norms"

  private def docNorms(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(filter(split(lower(col(textCol)), "\\W+"), t => t =!= ""))
        .cast("long").as("dl"))

  def writePostings(df: DataFrame, idCol: String, textCol: String,
                    path: String, nBuckets: Int = 64): Unit = {
    buildPostings(df, idCol, textCol, nBuckets)
      .write.mode("overwrite").partitionBy("tb").parquet(path)
    docNorms(df, idCol, textCol)
      .write.mode("overwrite").parquet(normsPath(path))
    // idTypeDdl: the id column's type travels with the index so a
    // probe over an EMPTIED index (all buckets removed — no parquet
    // footer left to infer from) still returns the schema every
    // non-empty probe had. The sidecar is written and parsed without a
    // JSON escaper, so the DDL must stay quote-free — atomic types
    // (string, bigint, ...) always are; a struct id with quoted field
    // names would write a sidecar the regex reader truncates. Fail at
    // WRITE time, not at the eventual unreadable probe.
    val idTypeDdl = df.schema(idCol).dataType.sql
    require(!idTypeDdl.exists(c => c == '"' || c == '\\'),
      s"postings id type must be a plain atomic type (no quotes/escapes " +
        s"in its DDL), got: $idTypeDdl")
    java.nio.file.Files.write(
      new java.io.File(path, "_graft_postings_meta.json").toPath,
      s"""{"nBuckets": $nBuckets, "idTypeDdl": "$idTypeDdl"}"""
        .getBytes("UTF-8"))
  }

  /** Read the bucket count a stored postings index was written with —
    * the one layout value every probe and append MUST share with the
    * original writer.
    */
  private def postingsNBuckets(path: String): Int = {
    val metaFile = new java.io.File(path, "_graft_postings_meta.json")
    require(metaFile.exists(),
      s"no postings metadata at $metaFile — index not written by writePostings?")
    val meta = new String(
      java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
    """"nBuckets"\s*:\s*(\d+)""".r
      .findFirstMatchIn(meta)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"malformed postings metadata in $metaFile: $meta"))
  }

  /** INCREMENTAL postings maintenance — append newly-ingested docs to
    * a stored index WITHOUT rebuilding it: the new batch's postings are
    * bucketed with the nBuckets read from the index's own sidecar (so
    * writer/appender layout agreement is structural, not a caller
    * promise) and written in append mode into the existing `tb=`
    * partition directories. The same build-once/probe-many posture as
    * the IVF index's append path: untouched buckets' files are never
    * rewritten. Doc-id upsert/dedup semantics belong to the store
    * upstream — this is a pure append; compaction of accumulated small
    * files is [[graft.io.Tables.compact]]'s job per bucket directory.
    */
  def appendPostings(spark: org.apache.spark.sql.SparkSession,
                     df: DataFrame, idCol: String, textCol: String,
                     path: String): Unit = {
    // converge a crashed earlier swap FIRST: an append that recreates a
    // parked bucket's live dir would make the next recovery pass drop
    // the .trash aside — the parked only-copy of every pre-crash
    // posting in that bucket, destroyed by an append
    graft.io.Tables.recoverPartitionTrash(path, "tb")
    buildPostings(df, idCol, textCol, postingsNBuckets(path))
      .write.mode("append").partitionBy("tb").parquet(path)
    // norms ride every append (indexes written before the sidecar
    // existed gain it on their next full rebuild, not piecemeal —
    // a partial norms table would silently mis-count N/T); a norms
    // swap that crashed parked them, so recover before the check
    if (Tables.recover(new java.io.File(normsPath(path))))
      docNorms(df, idCol, textCol)
        .write.mode("append").parquet(normsPath(path))
  }

  /** INCREMENTAL postings maintenance, remove side — the inverse
    * [[appendPostings]] was missing: a document takedown (dedup
    * demotion, GDPR delete) must stop its postings from serving phrase
    * matches WITHOUT rewriting the whole index. The caller supplies
    * the removed docs' (id, text) — the SAME text the index entries
    * were built from — so the affected term buckets are recomputed
    * exactly as the write side bucketed them: only those
    * ≤ ¦distinct terms¦ `tb=` directories are read (partition-pruned
    * scan) and swapped through the shared per-partition aside-rename
    * commit; every untouched bucket keeps its exact files. A bucket
    * whose postings are all removed disappears outright. At 100 TB
    * the cost scales with the REMOVED documents' vocabulary, not the
    * corpus.
    */
  /** The id type the index was written with, from the sidecar's
    * `idTypeDdl` field — None for indexes written before the field
    * existed.
    */
  private def postingsIdType(path: String)
      : Option[org.apache.spark.sql.types.DataType] = {
    val metaFile = new java.io.File(path, "_graft_postings_meta.json")
    if (!metaFile.exists()) return None
    val meta = new String(
      java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
    """"idTypeDdl"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(meta)
      .map(m => org.apache.spark.sql.types.DataType.fromDDL(m.group(1)))
  }

  /** True when the index directory holds no `tb=` partition at all —
    * the state a takedown-everything [[removeFromPostings]] leaves
    * behind (only the sidecar remains). `spark.read.parquet` cannot
    * infer a schema from it, so maintenance and probes must treat it
    * as "no postings", never crash.
    */
  private def postingsIsEmpty(path: String): Boolean =
    !Option(new java.io.File(path).listFiles()).exists(
      _.exists(f => f.isDirectory && f.getName.startsWith("tb=")))

  def removeFromPostings(spark: org.apache.spark.sql.SparkSession,
                         removals: DataFrame, idCol: String, textCol: String,
                         path: String): Unit = {
    import spark.implicits._
    val nBuckets = postingsNBuckets(path)
    // converge any crashed earlier swap BEFORE the reads below list
    // the layout — a bucket parked in its .trash aside would otherwise
    // be missing from `kept` and deleted as "emptied" at the swap
    graft.io.Tables.recoverPartitionTrash(path, "tb")
    // the norms sidecar drops the removed ids even when the removal
    // has no postings to prune (a zero-token doc still has a norms
    // row, and N/T must stop counting a taken-down doc)
    val norms = new java.io.File(normsPath(path))
    if (Tables.recover(norms)) {
      val kept = spark.read.parquet(norms.toString)
        .join(removals.select(col(idCol)), Seq(idCol), "left_anti")
        .localCheckpoint(true) // pinned BEFORE the dir it read is swapped
      Tables.swap(norms, "postingsNorms")(kept.write.mode("overwrite").parquet(_))
    }
    if (postingsIsEmpty(path)) return // already-empty index: no-op
    val buckets = buildPostings(removals, idCol, textCol, nBuckets)
      .select(col("tb")).distinct().as[Long].collect().sorted.toSeq
    if (buckets.isEmpty) return
    val kept = spark.read.parquet(path)
      .withColumn("tb", col("tb").cast("long"))
      .filter(col("tb").isInCollection(buckets))
      .join(removals.select(col(idCol)), Seq(idCol), "left_anti")
    graft.io.Tables.replacePartitions(spark, path, "tb", buckets, kept)
  }

  /** Per-bucket compaction of the stored postings index — merges the
    * small files [[appendPostings]] batches accumulate in each `tb=`
    * directory (the same small-files tax the IVF cells pay, solved by
    * the same shared per-partition swap). Probes and partition
    * pruning are unchanged; returns (filesBefore, filesAfter).
    */
  def compactPostings(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      targetBytes: Long = 128L << 20): (Int, Int) = {
    val (b, a) = graft.io.Tables.compactPartitions(spark, path, "tb", targetBytes)
    // the norms sidecar accumulates one file per append batch — same
    // small-files tax, same swap; single-file (or absent) norms are
    // left alone but still counted so callers see the whole index
    val normsDir = new java.io.File(normsPath(path))
    val normsFiles = Option(normsDir.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.startsWith("part-"))
    if (normsFiles > 1) {
      val (nb, na) = graft.io.Tables.compact(spark, normsDir.getPath, targetBytes)
      (b + nb, a + na)
    } else (b + normsFiles, a + normsFiles)
  }

  /** PHRASE search over the STORED postings index — the probe-many
    * side: the scan is pruned to the ≤ ¦distinct terms¦ buckets the
    * phrase's terms hash to (directory-level PartitionFilters — the
    * corpus-sized remainder of the index is never opened), then the
    * same anchor-vote algebra as [[phraseOccurrences]]. Results are
    * identical to the inline form by construction (the spec pins it).
    * The bucket count comes from the index's own sidecar, never the
    * caller — the one value that must match the write-side layout.
    */
  def phraseOccurrencesStored(spark: org.apache.spark.sql.SparkSession,
                              path: String, idCol: String,
                              phrase: String): DataFrame = {
    val nBuckets = postingsNBuckets(path)
    if (postingsIsEmpty(path)) {
      // an index emptied by removals matches nothing — same shape as a
      // live probe with zero hits, INCLUDING the id type, which the
      // sidecar records (no parquet footer is left to infer it from);
      // indexes written before the field default to string
      import org.apache.spark.sql.types._
      val idType = postingsIdType(path).getOrElse(StringType)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField(idCol, idType),
                       StructField("n_occurrences", LongType, nullable = false),
                       StructField("first_pos", LongType))))
    }
    val terms = phraseTerms(phrase)
    val buckets = terms.distinct.map(termBucketOf(_, nBuckets)).distinct
    val postings = Tables.read(spark, path)
      .filter(col("tb").isInCollection(buckets))
    anchorVotes(postings, idCol, terms)
  }

  /** Q3 served from the STORED postings index — [[textMatch]]'s ES
    * `match` semantics (any query token present) as an index probe:
    * the scan prunes to the ≤ ¦distinct terms¦ `tb=` buckets the query
    * terms hash to (directory-level PartitionFilters), filters to the
    * terms themselves, and distincts the ids — term-posting-sized work,
    * the corpus text is never opened. The metadata-search endpoint's
    * candidate step (`README.md:127` declares
    * `GET /documents/search/metadata`): ids come off the index, the
    * store row fetch follows. Identical ids to the inline scan by
    * construction (oracle shared verbatim with q39).
    */
  def textMatchStored(spark: org.apache.spark.sql.SparkSession,
                      path: String, idCol: String,
                      query: String): DataFrame = {
    val nBuckets = postingsNBuckets(path)
    val terms = queryTokens(query).distinct
    if (postingsIsEmpty(path) || terms.isEmpty) {
      import org.apache.spark.sql.types._
      val idType = postingsIdType(path).getOrElse(StringType)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField(idCol, idType))))
    }
    val buckets = terms.map(termBucketOf(_, nBuckets)).distinct
    Tables.read(spark, path)
      .filter(col("tb").isInCollection(buckets) &&
              col("tok").isInCollection(terms))
      .select(col(idCol)).distinct()
  }

  /** Q4 — deterministic search-cache key:
    * sha256(embedding|provider|filters|k) (`services/search_cache.py:18-33`).
    */
  def cacheKey(queryVec: Column, provider: Column, filtersJson: Column, k: Column): Column =
    sha2(concat_ws("|", to_json(queryVec), provider,
                   coalesce(filtersJson, lit("")), k.cast("string")), 256)

  /** [[cacheKey]] of one unfiltered request, evaluated on the driver:
    * over a one-row local relation the optimizer folds the key to a
    * literal, so no Spark job runs and the string is the column's,
    * byte for byte.
    */
  def cacheKeyOf(spark: org.apache.spark.sql.SparkSession, queryVec: Seq[Float],
                 provider: String, k: Int): String = {
    import spark.implicits._
    Seq(0).toDF("__one")
      .select(cacheKey(typedLit(queryVec), lit(provider), lit(null).cast("string"), lit(k)))
      .as[String].head()
  }

  /** Q4 — cache-aside wrapper: ONE collect of the key's rows from the
    * persisted cache table; non-empty is a hit. A miss collects `run`
    * once and keys its rows. Either way the rows come back as a local
    * frame, so the caller's reads (and the append of a miss) never
    * re-run the probe or the search.
    */
  def cachedSearch(cache: DataFrame, key: String, run: () => DataFrame): (DataFrame, Boolean) = {
    def local(rows: Array[org.apache.spark.sql.Row],
              schema: org.apache.spark.sql.types.StructType) =
      cache.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val hit = cache.filter(col("cache_key") === key).collect()
    if (hit.nonEmpty) (local(hit, cache.schema), true)
    else {
      val miss = run().withColumn("cache_key", lit(key))
      (local(miss.collect(), miss.schema), false)
    }
  }

  /** Q4 — cache invalidation (`services/search_cache.py:64-71`, Redis
    * SCAN+DELETE by pattern): drop every cached row whose key is in
    * `invalidKeys` — the anti-join rewrite of a keyed delete; the
    * overwrite of `cache` with the result is the storage step.
    */
  def invalidateCache(cache: DataFrame, invalidKeys: DataFrame): DataFrame =
    cache.join(invalidKeys.select(col("cache_key")), Seq("cache_key"), "left_anti")
}
