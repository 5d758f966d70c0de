package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextStats

/** Deduplication operators for a training-data pipeline (north-star
  * extension; the reference has no dedup — its only identity is the ES
  * `_id` upsert, solaius/data_pipeline2 `services/document_storage.py:72-76`).
  *
  * Scale design (the 100 TB posture governs every choice here):
  *  - exact dedup = one hash-shuffle on a 16-byte digest, never on the
  *    full text;
  *  - near-dup avoids the O(n²) all-pairs trap: MinHash-LSH banding
  *    turns it into an equi-join on (band, signature) buckets — the
  *    canonical shuffle-friendly plan; candidate verification happens
  *    only inside buckets;
  *  - the pairwise Jaccard verifier joins on exploded shingles, which
  *    shuffles shingle rows — bounded by blocking (a partition key such
  *    as source/label) exactly like production dedup pipelines block by
  *    domain;
  *  - hashes are md5 hex strings (same function, same encoding, in
  *    Spark and DuckDB) so every operator is oracle-verifiable
  *    bit-for-bit. String min == lexicographic min in both engines.
  */
object Dedup {

  /** Word k-shingles (k consecutive whitespace tokens joined by one
    * space), as an array column. Codegen-only: transform over a
    * sequence of positions, `element_at` is 1-based.
    */
  /** Shingles from an ALREADY-MATERIALIZED token-array column.
    *
    * Performance note that governs this module's shape: higher-order
    * functions (transform/aggregate) are CodegenFallback — interpreted,
    * with no common-subexpression elimination — so if `toks` were the
    * raw `split(text)` expression, every `element_at` would re-tokenize
    * the whole document: O(n²) per doc. Callers tokenize in a separate
    * projection first (CollapseProject keeps multi-referenced non-cheap
    * aliases materialized), making shingling a single O(n·k) pass.
    */
  def shinglesOf(toks: Column, k: Int = 3): Column =
    // guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(o => element_at(toks, i + o)): _*)))

  /** Convenience single-expression form (fine for one-off use on short
    * text; hot paths go through [[shinglesOf]]).
    */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesOf(TextStats.tokens(text), k)

  /** Exact dedup: group identical texts by md5, keep the smallest id as
    * the canonical representative. One shuffle on the digest.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keeper_id"),
           count(lit(1)).as("n_copies"))

  /** Exact dedup applied: keep one row per distinct text (the keeper). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactDuplicates(df, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Band signature from PRE-HASHED shingles: band b = min over the
    * b-th 8-hex-digit slice of each shingle's md5. One md5 per shingle
    * total (measured 8× cheaper than per-band salting at sf0.1); the
    * four 32-bit slices of md5 are independent, which is all the
    * banding needs. String min ≡ numeric min on fixed-width hex.
    */
  def minhashBandSliced(hashedCol: Column, band: Int): Column =
    array_min(transform(hashedCol, h => substring(h, band * 8 + 1, 8)))

  /** MinHash-LSH candidate pairs: docs sharing any (band, minhash)
    * bucket. `blockCol` (optional) additionally partitions the corpus
    * (e.g. by source/domain) — at 100 TB you always block.
    *
    * Plan shape: explode bands (nBands rows/doc) → shuffle on
    * (band, sig) → in-bucket self-join → distinct pairs. No O(n²).
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        nBands: Int = 4, shingleK: Int = 3): DataFrame =
    candidatesFromSigs(minhashSignatures(df, idCol, textCol, nBands, shingleK))

  /** Per-document banded MinHash signatures, `(doc, band, sig)` — the
    * PERSISTABLE form of the LSH index. Storing this table (4 small
    * rows per doc) is what makes dedup INCREMENTAL: a new batch is
    * signed once and probed against the stored signatures
    * ([[incrementalCandidates]]) instead of re-shingling the whole
    * corpus every run.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        nBands: Int = 4, shingleK: Int = 3): DataFrame = {
    require(nBands >= 1 && nBands <= 4, "sliced minhash carries 4 independent 32-bit bands per md5")
    val sh = df
      .select(col(idCol).as("doc"), TextStats.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleK)
      // hash ONCE per shingle — the fused codegen shingle→md5 kernel;
      // bands slice the full digest (see minhashBandSliced)
      .select(col("doc"), graft.functions.ShingleExpressions
                .shingleMd5FullCol(col("toks"), shingleK).as("hs"))
    sh.select(col("doc"), posexplode(
      array((0 until nBands).map(b => minhashBandSliced(col("hs"), b)): _*)).as(Seq("band", "sig")))
  }

  /** Candidate pairs from a signature table.
    *
    * Plan shape: shuffle on (band, sig) → in-bucket pair combinations.
    * One aggregation instead of a self-join: the upstream (shingle +
    * md5) pipeline is evaluated once, and pair blowup stays confined
    * to buckets (which near-dup buckets keep small by construction).
    */
  def candidatesFromSigs(sigs: DataFrame): DataFrame =
    bucketPairs(sigs.groupBy(col("band"), col("sig"))
                    .agg(sort_array(collect_list(col("doc"))).as("ds")))
      .groupBy(col("a_id"), col("b_id"))
      .agg(countDistinct(col("band")).as("n_bands"))

  /** CROSS-BATCH candidate pairs: a new batch's signatures probed
    * against the stored signature table — only new×stored pairs come
    * out (batch-internal pairs are [[candidatesFromSigs]] on the batch;
    * stored×stored was resolved when those docs arrived). This is the
    * incremental-dedup probe a production pipeline runs per ingest:
    * cost is one equi-join keyed on (band, sig) — the stored side
    * never re-shingles, and bucketing the stored table by `sig` makes
    * the probe shuffle-free on the corpus side at 100 TB.
    */
  def incrementalCandidates(newSigs: DataFrame, storedSigs: DataFrame): DataFrame =
    newSigs.select(col("band"), col("sig"), col("doc").as("__new"))
      .join(storedSigs.select(col("band"), col("sig"), col("doc").as("__old")),
            Seq("band", "sig"))
      .filter(col("__new") =!= col("__old"))
      .select(least(col("__new"), col("__old")).as("a_id"),
              greatest(col("__new"), col("__old")).as("b_id"),
              col("band"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(countDistinct(col("band")).as("n_bands"))

  /** Explode each bucket's sorted member list into its (a < b) pair
    * combinations — the shared kernel of LSH candidate generation.
    * Expects a `ds` array column; preserves all other columns.
    */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets
      .filter(size(col("ds")) > 1)
      .withColumn("__pair", explode(flatten(transform(col("ds"),
        a => transform(filter(col("ds"), b => b > a),
                       b => struct(a.as("a"), b.as("b")))))))
      .withColumn("a_id", col("__pair.a"))
      .withColumn("b_id", col("__pair.b"))
      .drop("__pair", "ds")

  /** Pairwise n-gram Jaccard within a blocking key. Output is exact
    * integers (intersection, union) so thresholds are integer
    * comparisons: jaccard >= 1/2  ⇔  2·inter >= union.
    *
    * `dfCap` is the scale guard: a gram shared by n documents emits
    * C(n,2) pairs, so one stop-gram in a million-doc block would emit
    * ~5·10¹¹ rows. Buckets larger than `dfCap` are dropped BEFORE pair
    * expansion — the standard document-frequency cap: a gram that
    * common carries no near-dup signal anyway (it's a stopword phrase),
    * and the resulting `inter` is the df-capped intersection (a lower
    * bound on true intersection; `na`/`nb` stay full set sizes). This
    * bounds the worst bucket at C(dfCap,2) pairs, making the plan
    * linear in corpus size at any scale.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, shingleK: Int = 3,
                        dfCap: Int = 100): DataFrame =
    ngramPairCounts(df, idCol, textCol, blockCol, shingleK, dfCap)
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .select(col("a_id"), col("b_id"), col("inter").cast("long").as("inter"),
              col("uni").cast("long").as("uni"))

  /** Pairwise n-gram CONTAINMENT within a blocking key — Broder's
    * asymmetric resemblance twin: containment of the smaller set in
    * the larger, `inter / min(na, nb)`, emitted as exact integers
    * (`inter`, `n_small`) so thresholds are integer comparisons:
    * containment >= 9/10  ⇔  10·inter >= 9·n_small. The case Jaccard
    * is BLIND to: a short doc wholly embedded in a long one (page +
    * boilerplate, quote + article, excerpt + book — the common web
    * near-dup) has high containment but a Jaccard diluted by the long
    * side's extra grams, so a Jaccard gate misses it at any useful
    * threshold. Same df-capped bucket plan as [[ngramJaccardPairs]]
    * (shared kernel), so `inter` is the df-capped lower bound while
    * `n_small` stays the full smaller-set size — the gate only ever
    * UNDER-claims containment, never invents it.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            blockCol: String, shingleK: Int = 3,
                            dfCap: Int = 100): DataFrame =
    ngramPairCounts(df, idCol, textCol, blockCol, shingleK, dfCap)
      .select(col("a_id"), col("b_id"), col("inter").cast("long").as("inter"),
              least(col("na"), col("nb")).cast("long").as("n_small"))

  /** The shared pair-count kernel of the n-gram similarity family:
    * blocked, df-capped gram buckets → (a < b) pair combinations →
    * per-pair intersection counts, each side carrying its full
    * distinct-shingle set size. Output: a_id, b_id, inter, na, nb.
    * Public so a MULTI-relation consumer (q166) can evaluate the
    * corpus pass ONCE and derive every gate — Jaccard
    * (2·inter ≥ na+nb−inter) and containment (10·inter ≥
    * 9·min(na,nb)) — from the same frame instead of re-shingling per
    * relation.
    */
  def ngramPairCounts(df: DataFrame, idCol: String, textCol: String,
                      blockCol: String, shingleK: Int = 3,
                      dfCap: Int = 100): DataFrame = {
    // tokenize+shingle is the corpus pass — spread a too-narrow scan
    // across the session's cores first (identity at scale)
    val sh = graft.io.Tables.spread(df, idCol)
      .select(col(blockCol).as("blk"), col(idCol).as("doc"),
              TextStats.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleK)
      .select(col("blk"), col("doc"),
              array_distinct(shinglesOf(col("toks"), shingleK)).as("sh"))
    // gram → member list → pair combinations: one shuffle (groupBy on
    // the gram) instead of a self-join of two exploded branches, and
    // the shingle pipeline is evaluated once. Each member carries its
    // own set size through the bucket, so union needs NO re-join —
    // (a < b) on the structs orders by doc id (first field).
    val withN = sh.select(col("blk"), col("doc"), col("sh"), size(col("sh")).as("n"))
    val buckets = withN
      .select(col("blk"), explode(col("sh")).as("g"),
              struct(col("doc"), col("n")).as("m"))
      .groupBy(col("blk"), col("g"))
      .agg(sort_array(collect_list(col("m"))).as("ds"))
      // 2..dfCap members: singleton buckets pair nothing; hot buckets
      // (grams common to > dfCap docs) are noise with quadratic cost.
      .filter(size(col("ds")).between(2, dfCap))
    buckets
      .withColumn("__pair", explode(flatten(transform(col("ds"),
        a => transform(filter(col("ds"), b => b > a),
                       b => struct(a.as("a"), b.as("b")))))))
      .groupBy(col("__pair.a.doc").as("a_id"), col("__pair.b.doc").as("b_id"))
      .agg(count(lit(1)).as("inter"),
           first(col("__pair.a.n")).as("na"), first(col("__pair.b.n")).as("nb"))
  }

  /** SimHash (Charikar) signature over distinct whitespace tokens,
    * `bits` ≤ 32 bits from the md5 hex digest: bit j votes +1 when hex
    * digit j of md5(token) has its top bit set ('8'..'f'), else −1;
    * signature bit j = 1 iff the vote is positive. Pure hash+agg —
    * identical in any engine with md5.
    */
  def simhash(text: Column, bits: Int = 16): Column = {
    require(bits <= 32, "simhash bits come from the 32 hex digits of one md5")
    val topBit = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    // hash each token ONCE (the aggregate's input array), then fold all
    // bit votes in a single pass — `h` below is a materialized lambda
    // element, so no md5 is recomputed per bit.
    val hashes = transform(array_distinct(TextStats.tokens(text)), t => md5(t))
    val zeros = array((0 until bits).map(_ => lit(0L)): _*)
    val votes = aggregate(hashes, zeros,
      (acc, h) => transform(sequence(lit(0), lit(bits - 1)),
        j => element_at(acc, j + 1) +
          when(substring(h, j + 1, lit(1)).isInCollection(topBit), 1L).otherwise(-1L)))
    // signature = Σ 2^j over positive votes (2^j exact in double for j<53)
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)),
               (v, j) => when(v > 0, pow(lit(2.0), j).cast("long")).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash signatures for a whole table — the codegen'd bulk form of
    * [[simhash]]: explode distinct tokens, hash each once, aggregate
    * per-bit set-counts, signature bit j set iff 2·ones_j > n (⇔ the
    * ±1 vote sum is positive — identical values to [[simhash]]).
    *
    * Why a second form: the scalar [[simhash]] folds votes with
    * `aggregate`/`transform`, which are CodegenFallback — ~bits
    * interpreted ops per token. Here the whole plan is whole-stage
    * codegen (projection + one HashAggregate with `bits` conditional
    * sums), one shuffle on the doc key — the shape that survives 100×.
    * `keepCols` are carried through the aggregate (e.g. the blocking
    * key for [[simhashPairs]]).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        keepCols: Seq[String] = Nil, bits: Int = 32): DataFrame = {
    require(bits <= 32, "simhash bits come from the 32 hex digits of one md5")
    val topBit = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val keep = keepCols.map(col)
    val base = df
      .select(col(idCol).as("doc") +: keep :+ TextStats.tokens(col(textCol)).as("toks"): _*)
      // explode_OUTER: zero-token docs must keep their (vote-free → 0)
      // signature, matching the scalar form
      .select(col("doc") +: keep :+ explode_outer(array_distinct(col("toks"))).as("tok"): _*)
      .select(col("doc") +: keep :+ md5(col("tok")).as("h"): _*)
    val sums = (0 until bits).map(j =>
      sum(when(substring(col("h"), j + 1, 1).isInCollection(topBit), 1L)
        .otherwise(0L)).as(s"s$j"))
    val agg = base.groupBy(col("doc") +: keep: _*)
      .agg(count(col("h")).as("n"), sums: _*)
    val sig = (0 until bits).map(j =>
      when(col(s"s$j") * 2 > col("n"), lit(1L << j)).otherwise(0L)).reduce(_ + _)
    agg.select(col("doc").as(idCol) +: keep :+ sig.as("simhash"): _*)
  }

  /** Hamming distance between two simhash signatures (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact Hamming-neighbor pairs via multi-index pigeonhole: split the
    * `bits`-bit signature into `maxHamming + 1` chunks — any pair
    * within `maxHamming` differs in ≤ maxHamming chunks, so AT LEAST
    * ONE chunk matches exactly. Candidates come from equi-joining on
    * (block, chunk-id, chunk-value) buckets; the exact hamming filter
    * then prunes false candidates. Recall is provably 1.0 — this is
    * the all-pairs result at a fraction of the pair count.
    */
  def simhashPairs(sigs: DataFrame, idCol: String, sigCol: String, blockCol: String,
                   bits: Int = 16, maxHamming: Int = 3): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = bits / nChunks
    require(bits % nChunks == 0, s"bits=$bits must split into ${nChunks} chunks")
    val mask = (1L << chunkBits) - 1
    val base = sigs.select(col(blockCol).as("blk"), col(idCol).as("doc"),
                           col(sigCol).as("sig"))
    val chunked = base.select(col("blk"), col("doc"), col("sig"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("sig"), c * chunkBits).bitwiseAND(mask)): _*))
        .as(Seq("cid", "cval")))
    // candidate pairs via a chunk-bucket EQUI-JOIN rather than
    // collect_list + in-bucket combinations (the [[bucketPairs]] path
    // q24 uses): here the join inputs are cheap attributes — a
    // constant-size signature, not a re-derivable hash pipeline — so
    // the whole pair expansion stays in codegen.
    val a = chunked.select(col("blk"), col("cid"), col("cval"),
                           col("doc").as("a_id"), col("sig").as("sa"))
    val b = chunked.select(col("blk"), col("cid"), col("cval"),
                           col("doc").as("b_id"), col("sig").as("sb"))
    // a pair surfaces once per shared chunk; rather than a distinct()
    // (a full extra shuffle of the candidate set — measured the most
    // expensive step), each pair is emitted ONLY from its canonical
    // chunk: the smallest cid on which the two signatures agree. Both
    // signatures are in hand after the join, so the canonical cid is a
    // cheap codegen CASE and the dedupe costs zero data movement.
    def chunkOf(sig: Column, c: Int): Column =
      shiftright(sig, c * chunkBits).bitwiseAND(mask)
    val canonicalCid = (0 until nChunks).foldRight(lit(-1): Column) { (c, rest) =>
      when(chunkOf(col("sa"), c) === chunkOf(col("sb"), c), lit(c)).otherwise(rest)
    }
    a.join(b, Seq("blk", "cid", "cval"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("cid") === canonicalCid)
      .withColumn("hamming", hamming(col("sa"), col("sb")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken) over word
    * shingles: hash each k-word shingle once (md5-hex slice), keep one
    * minimum per window of `w` consecutive hashes, distinct per doc.
    * Documents sharing a long-enough run share a fingerprint; near-dup
    * joins on `fp` — the same bucket-join plan as MinHash.
    *
    * Plan care: the size guard is a CHEAP `size(toks)` comparison
    * BEFORE hashing — filtering on `size(hs)` would be pushed below the
    * projection and re-evaluate the whole hash array per row.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         shingleK: Int = 3, w: Int = 4): DataFrame = {
    val toks = df
      .select(col(idCol), TextStats.tokens(lower(col(textCol))).as("toks"))
      // ≥ w windows ⇔ ≥ w+k-1... shingles = n-k+1, windows = shingles-w+1
      .filter(size(col("toks")) >= shingleK + w - 1)
    val hashes = toks
      .select(col(idCol),
              graft.functions.ShingleExpressions
                .shingleMd5Col(col("toks"), shingleK).as("hs"))
    hashes.select(col(idCol),
      explode(array_distinct(
        transform(sequence(lit(1), size(col("hs")) - (w - 1)),
          i => array_min(slice(col("hs"), i, lit(w)))))).as("fp"))
  }

  /** Train/test DECONTAMINATION — the benchmark-leakage scan every
    * training pipeline must run before shipping a split: find
    * (test doc, train doc) pairs that share at least `minShared`
    * winnowing fingerprints, i.e. a test document whose content
    * overlaps a training document enough to leak the eval set.
    *
    * Plan shape (the 100 TB posture): fingerprints bucket-join exactly
    * like MinHash bands — one shuffle on the 8-hex fp, pair expansion
    * confined to fp buckets. `dfCap` is the same scale guard as
    * [[ngramJaccardPairs]]: a fingerprint carried by more than `dfCap`
    * documents is a stop-phrase with C(n,2) pair cost and no
    * containment signal, dropped BEFORE expansion, keeping the plan
    * linear in corpus size.
    *
    * `splitCol` is any split-label expression (e.g. [[splitAssign]];
    * or a materialized split column) evaluated per row of `df`.
    */
  def contaminationPairs(df: DataFrame, idCol: String, textCol: String,
                         splitCol: Column, dfCap: Int = 100,
                         minShared: Int = 2,
                         testSplit: String = "test",
                         trainSplit: String = "train"): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol)
      .join(df.select(col(idCol), splitCol.as("split")), Seq(idCol))
    // one aggregation per fp: member lists per side + the df-cap —
    // bucket-confined pair expansion, same kernel as minhashCandidates
    val byFp = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"),
           sort_array(collect_list(when(col("split") === testSplit, col(idCol))))
             .as("test_ids"),
           sort_array(collect_list(when(col("split") === trainSplit, col(idCol))))
             .as("train_ids"))
      .filter(col("df") <= dfCap &&
              size(col("test_ids")) > 0 && size(col("train_ids")) > 0)
    byFp
      .select(col("fp"), explode(col("test_ids")).as("test_id"), col("train_ids"))
      .select(col("fp"), col("test_id"), explode(col("train_ids")).as("train_id"))
      // fps are distinct per doc, so count(*) = #shared fingerprints
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Span-level DECONTAMINATION — [[contaminationPairs]] says WHICH
    * test docs leak; this says WHERE: the maximal token spans of each
    * test doc covered by k-shingles that also occur in any train doc.
    * `[span_start, span_end]` are 1-based token positions, inclusive —
    * what a surgical decontamination pass cuts instead of dropping the
    * whole document.
    *
    * Plan shape: positioned test shingles (one scan + posexplode)
    * semi-join the DF-CAPPED distinct train shingle-hash set on the
    * 8-hex hash — one linear equi-join shuffle; the cap drops
    * stop-phrases carried by more than `dfCap` train docs, the same
    * scale guard as the pair scan. Span merging is gaps-and-islands:
    * one window per test doc (running max end; island id = running
    * count of gap starts) then one groupBy — deterministic (positions
    * are distinct per doc) and SQL-expressible, so the oracle merges
    * identically.
    *
    * Two cost rules this method obeys (the r8 profile showed it
    * didn't): tokens are MATERIALIZED in their own projection before
    * shingling (see [[shinglesOf]]'s note — an inlined tokenize expr
    * makes every interpreted `element_at` re-split the whole doc,
    * O(n²) per doc), and the post-join positions are NOT re-distinct'd
    * — posexplode emits each (doc, pos) once and a left-semi join
    * cannot duplicate rows, so the only corpus-sized exchange after the
    * join is the window's hash(doc_id).
    */
  def contaminationSpans(df: DataFrame, idCol: String, textCol: String,
                         splitCol: Column, shingleK: Int = 3,
                         dfCap: Int = 100,
                         testSplit: String = "test",
                         trainSplit: String = "train"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withSplit = df.select(col(idCol), col(textCol), splitCol.as("split"))
    def hashes(side: DataFrame) = shingleHashes(side, idCol, textCol, shingleK)
    val trainHashes =
      cappedTrainHashes(withSplit, idCol, textCol, shingleK, dfCap, trainSplit)
    val testPos = hashes(withSplit.filter(col("split") === testSplit))
      .select(col(idCol), posexplode(col("hs")).as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("h"))
    val matched = testPos.join(trainHashes, Seq("h"), "left_semi")
      .select(col(idCol), col("pos"), (col("pos") + (shingleK - 1)).as("end"))
    islandSpans(matched, idCol)
  }

  /** Gaps-and-islands merge of (pos, end) shingle matches into maximal
    * token spans — one window per doc (running max end; island id =
    * running count of gap starts) then one groupBy: deterministic
    * (positions are distinct per doc) and SQL-expressible, so oracles
    * merge identically. Shared by [[contaminationSpans]] (test-vs-train)
    * and [[crossDocDuplicateSpans]] (corpus-vs-itself).
    */
  private def islandSpans(matched: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prev = w.rowsBetween(Window.unboundedPreceding, -1)
    matched
      .withColumn("__pme", max(col("end")).over(prev))
      .withColumn("__ni",
        when(col("__pme").isNull || col("pos") > col("__pme") + 1, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__ni")).over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
           max(col("end")).cast("long").as("span_end"),
           count(lit(1)).as("n_shingles"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_shingles"))
  }

  /** Cross-doc DUPLICATED-TEXT spans — the ExactSubstr-family self-scan
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): the maximal token spans of EACH doc covered by
    * `shingleK`-shingles that also occur in at least `minDocs − 1`
    * OTHER docs. Where keep-one dedup drops whole near-duplicate docs,
    * this names the duplicated REGIONS — boilerplate headers, license
    * blocks, templated passages — that a surgical trim cuts from
    * otherwise-unique documents. Within-doc repetition deliberately
    * does NOT count (that is [[TextStats.repetitionSignals]]' job):
    * sharedness is counted over DISTINCT docs per shingle.
    *
    * Plan shape for 100 TB: positioned shingles are computed once per
    * pass (tokens materialized — see [[contaminationSpans]]'s cost
    * note); the shared-shingle set reduces the DISTINCT (doc, hash)
    * table — one linear shuffle on the hash, never a pair expansion —
    * and probes back via a left-semi equi-join; span merging is the
    * same single window + groupBy as the decontamination scan. Two
    * corpus passes total (build + probe), both linear.
    */
  def crossDocDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                             shingleK: Int = 5,
                             minDocs: Int = 2): DataFrame = {
    // the shingle pipeline feeds BOTH the shared-set build and the
    // probe; the scan is spread so that pass uses every core
    // (identity at scale). Measured and rejected (r18): pinning the
    // exploded (doc, pos, hash) table — it is corpus-TOKEN-sized, and
    // materializing it costs more than the second in-memory pass.
    val pos = shingleHashes(
        graft.io.Tables.spread(df.select(col(idCol), col(textCol)), idCol),
        idCol, textCol, shingleK)
      .select(col(idCol), posexplode(col("hs")).as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("h"))
    val shared = pos.select(col(idCol), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"))
    val matched = pos.join(shared, Seq("h"), "left_semi")
      .select(col(idCol), col("pos"), (col("pos") + (shingleK - 1)).as("end"))
    islandSpans(matched, idCol)
  }

  /** APPLY the span-level decontamination cut list —
    * [[contaminationSpans]] says WHERE the leaks are; this rebuilds
    * each test doc with those token spans removed, emitting the
    * canonical cleaned form (lowercased tokens re-joined by single
    * spaces — the same normalization the hashes were computed over)
    * as a digest plus kept/removed counts. A fully-contaminated doc
    * keeps 0 tokens and a NULL digest.
    *
    * Plan shape: the span table is (test-doc × few-spans)-sized; the
    * token stream anti-joins it on (doc equi + pos range) — the equi
    * key keeps it a hash/sort join with a range post-filter, never a
    * cartesian — then ONE per-doc aggregate rebuilds order via
    * array_sort of (pos, token) structs: no window.
    */
  def applyContaminationCuts(df: DataFrame, idCol: String, textCol: String,
                             splitCol: Column, shingleK: Int = 3,
                             dfCap: Int = 100,
                             testSplit: String = "test",
                             trainSplit: String = "train"): DataFrame = {
    val spans = contaminationSpans(df, idCol, textCol, splitCol, shingleK,
                                   dfCap, testSplit, trainSplit)
      .select(col(idCol).as("__sid"), col("span_start"), col("span_end"))
    val toks = df.select(col(idCol), col(textCol), splitCol.as("split"))
      .filter(col("split") === testSplit)
      .select(col(idCol),
              posexplode(TextStats.tokens(lower(col(textCol))))
                .as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("__tok"))
    val kept = toks.join(spans,
        col(idCol) === col("__sid") &&
          col("pos").between(col("span_start"), col("span_end")),
        "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nk"),
           md5(array_join(
             transform(array_sort(collect_list(struct(col("pos"), col("__tok")))),
                       s => s.getField("__tok")), " ")).as("clean_md5"))
    toks.groupBy(col(idCol)).agg(count(lit(1)).as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
              coalesce(col("__nk"), lit(0L)).as("n_kept"),
              (col("n_tokens") - coalesce(col("__nk"), lit(0L))).as("n_removed"),
              col("clean_md5"))
  }

  /** Per-doc array of 8-hex shingle hashes — tokens materialized in
    * their own projection first (see [[shinglesOf]]'s quadratic-
    * inlining note), then the fused codegen shingle→md5 kernel
    * ([[graft.functions.ShingleExpressions]]); shared by the exact
    * span scan and the Bloom prefilter so both probe the identical
    * hash space.
    */
  private def shingleHashes(side: DataFrame, idCol: String, textCol: String,
                            shingleK: Int): DataFrame = side
    .select(col(idCol), TextStats.tokens(lower(col(textCol))).as("__toks"))
    .select(col(idCol),
            graft.functions.ShingleExpressions
              .shingleMd5Col(col("__toks"), shingleK).as("hs"))

  /** SHINGLE-SHARE EDGE LIST — the near-dup GRAPH: one edge per doc
    * pair sharing at least `minShared` distinct k-shingles, weighted by
    * the shared count. The adjacency [[graft.operators.Graph.pageRank]]
    * ranks for template-hub detection, and a cheaper relation than LSH
    * when the consumer wants every qualifying pair, not candidates.
    * Same df-cap convention as the decontamination family: a shingle in
    * more than `dfCap` docs is a stop-phrase and pairs nobody.
    * Plan shape: distinct (doc, hash) → df filter → hash equi-join →
    * pair count; the equi-join is bounded by dfCap² per hash — no
    * all-pairs anywhere.
    */
  def shingleShareEdges(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 5, dfCap: Int = 20,
                        minShared: Int = 3): DataFrame = {
    // the (doc, hash) table materializes ONCE (localCheckpoint, the
    // q97/q110 pattern): the df aggregate and BOTH self-join sides read
    // it — without the pin the interpreted tokenize+shingle+md5 pass
    // runs four times. Measured and rejected (r18): spreading the scan
    // first — the pin then holds 32 partitions and every one of its
    // several consumers pays the wider task fan-out, a consistent
    // +0.5 s on q130/q168/q171 at sf0.1.
    val hs = shingleHashes(df.select(col(idCol), col(textCol)),
                           idCol, textCol, shingleK)
      .select(col(idCol), explode(array_distinct(col("hs"))).as("h"))
      .localCheckpoint()
    val ok = hs.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select(col("h"))
    val m = hs.join(ok, Seq("h"), "left_semi")
    val a = m.select(col("h"), col(idCol).as("doc_a"))
    val b = m.select(col("h"), col(idCol).as("doc_b"))
    a.join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The df-capped distinct train-side shingle-hash set every
    * decontamination scan probes (the cap drops stop-phrases; see
    * [[contaminationSpans]]).
    */
  private def cappedTrainHashes(withSplit: DataFrame, idCol: String,
                                textCol: String, shingleK: Int, dfCap: Int,
                                trainSplit: String): DataFrame =
    shingleHashes(withSplit.filter(col("split") === trainSplit),
                  idCol, textCol, shingleK)
      .select(explode(array_distinct(col("hs"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select(col("h"))

  // ---- Bloom-filter membership (exact integer algebra) ----

  /** Bloom word table over `itemCol`: `k` hash functions into `mBits`
    * bits, packed 32 per word so every stored value stays < 2³² —
    * sign-safe BIGINT algebra in any engine. The `k` positions derive
    * from ONE md5 by double hashing (Kirsch & Mitzenmacher, "Less
    * Hashing, Same Performance": pⱼ = (h₁ + j·h₂) mod mBits with h₁/h₂
    * = md5 bits 0‑31 / 32‑63 — asymptotically the same FP rate as k
    * independent hashes), so a probe costs one digest instead of k:
    * the map-side scan this feeds is the per-shingle hot path of a
    * 100 TB decontamination pass. h₂ is forced ODD (h₂|1): the
    * construction assumes the step is nonzero mod m, and with
    * power-of-two mBits an odd step is always coprime — otherwise an
    * item whose h₂ ≡ 0 (mod m) collapses all k probes onto one bit
    * and inflates its FP exposure. h₁ + j·h₂ < 2³⁵ stays far from the
    * BIGINT sign bit. Words OR together, so the build is ONE
    * map-side-combined aggregate whose shuffle carries ≤ mBits/32 rows
    * at any corpus size — the same mergeability contract as the
    * Profile sketch family.
    */
  def bloomWords(items: DataFrame, itemCol: String,
                 mBits: Int = 8192, k: Int = 4): DataFrame =
    items
      .select(md5(col(itemCol)).as("__h"))
      .select(conv(substring(col("__h"), 1, 8), 16, 10).cast("long").as("h1"),
              conv(substring(col("__h"), 9, 8), 16, 10).cast("long").as("h2"))
      .select(explode(expr(s"sequence(0, ${k - 1})")).as("j"),
              col("h1"), col("h2"))
      .withColumn("p",
        (col("h1") + col("j") * col("h2").bitwiseOR(lit(1L))) % mBits)
      .select((col("p") / 32).cast("int").as("word"),
              call_function("shiftleft", lit(1L),
                            (col("p") % 32).cast("int")).as("mask"))
      .groupBy(col("word"))
      .agg(expr("bit_or(mask)").as("bits"))

  /** Collect a built word table into its dense bit array — mBits/32
    * longs, 1 KiB at the default size: the driver-side artifact a scan
    * embeds as a literal. Constant-sized collect, same class as the
    * IVF centroid fetch.
    */
  def bloomBits(words: DataFrame, mBits: Int = 8192): Array[Long] = {
    val arr = new Array[Long](mBits / 32)
    words.select(col("word"), col("bits")).collect()
      .foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Map-side membership probe: true iff all `k` bits are set. A pure
    * column expression over an array LITERAL — no join, no shuffle, no
    * broadcast variable even: the corpus scan stays embarrassingly
    * parallel, and the `k` positions share ONE md5 via double hashing
    * (see [[bloomWords]] — codegen's subexpression elimination
    * evaluates the digest once, so probing costs one digest + k cheap
    * integer index tests per item, not k digests). One-sided like
    * every sketch here: never false for an inserted item; false
    * positives at the standard (1−e^(−kn/m))^k rate (~0.2% at n=500,
    * m=8192, k=4).
    */
  def bloomMightContain(item: Column, bits: Array[Long],
                        mBits: Int = 8192, k: Int = 4): Column = {
    val h = md5(item)
    val h1 = conv(substring(h, 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(h, 9, 8), 16, 10).cast("long").bitwiseOR(lit(1L))
    (0 until k).map { j =>
      val p = (h1 + lit(j.toLong) * h2) % mBits
      val mask = call_function("shiftleft", lit(1L), (p % 32).cast("int"))
      element_at(typedLit(bits.toSeq), (p / 32).cast("int") + 1)
        .bitwiseAND(mask) === mask
    }.reduce(_ && _)
  }

  /** BLOOM DECONTAMINATION PREFILTER — the map-side half of the
    * two-phase contamination scan. Build the df-capped train shingle
    * Bloom (exactly [[contaminationSpans]]' train set), then probe
    * every test-doc shingle with the literal-array membership column:
    * ZERO joins touch the test corpus, and its only shuffle is the
    * final per-doc count. At 100 TB the benchmark side compresses to
    * mBits/8 bytes of driver state and the corpus pass is a plain
    * filter scan; because Bloom never misses an inserted hash, the
    * flagged set is a SUPERSET of the exact matched set — run the
    * expensive exact span pass only on the survivors.
    */
  def bloomContaminationScan(df: DataFrame, idCol: String, textCol: String,
                             splitCol: Column, shingleK: Int = 3,
                             dfCap: Int = 100, mBits: Int = 8192, k: Int = 4,
                             testSplit: String = "test",
                             trainSplit: String = "train"): DataFrame = {
    val withSplit = df.select(col(idCol), col(textCol), splitCol.as("split"))
    val bits = bloomBits(
      bloomWords(cappedTrainHashes(withSplit, idCol, textCol, shingleK,
                                   dfCap, trainSplit),
                 "h", mBits, k),
      mBits)
    shingleHashes(withSplit.filter(col("split") === testSplit),
                  idCol, textCol, shingleK)
      .select(col(idCol), explode(col("hs")).as("h"))
      .withColumn("hit", bloomMightContain(col("h"), bits, mBits, k))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
           sum(col("hit").cast("long")).as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** SOURCE OVERLAP MATRIX — which sources carry near-identical
    * content: for every source pair, the number of distinct df-capped
    * shingle hashes both carry. The mixture diagnostic a curation run
    * reads before setting per-source weights (two crawls of the same
    * site, a mirror, a re-hosted dump).
    *
    * Scale shape: per-doc DISTINCT shingles (one explode), then ONE
    * hash-keyed aggregation producing both the df cap (2..dfCap
    * distinct docs — drops unshared hashes AND stop-phrases before
    * any pairing, the [[ngramJaccardPairs]] guard) and the distinct
    * source set per hash; pair counts come from exploding each
    * per-hash source set's (a < b) combinations — bounded by the
    * source count, never the corpus. Two shuffles end to end.
    */
  def sourceOverlapMatrix(df: DataFrame, groupCol: String, idCol: String,
                          textCol: String, shingleK: Int = 3,
                          dfCap: Int = 100): DataFrame = {
    // ONE aggregation carries both the df cap (distinct docs per hash)
    // and the distinct source set per hash, so the pair expansion is
    // the LSH bucket-combination kernel over the per-hash source sets
    // — no materialized occurrence table, no semi-join back, no
    // distinct pass, no self-join (r17: was localCheckpoint + 4
    // shuffles; now 2 shuffles end to end).
    //
    // MEMORY BOUND (r17 verdict #8): collect_set(source) runs BEFORE
    // the df cap, so a stop-phrase hash present in every source builds
    // a set of DISTINCT-SOURCE size in the aggregation buffer — the
    // bound is source cardinality, NEVER the corpus (the set dedupes;
    // a million occurrences of one hash from 20 sources buffer 20
    // entries — SourceOverlapSpec pins this with an all-sources
    // stop-phrase). The operator's contract is "dozens-to-hundreds of
    // crawl sources" (its output is the n_sources² overlap matrix, so
    // the OUTPUT is quadratic in sources anyway); at 10³⁺ sources,
    // pre-block the corpus (run the matrix per source shard) — the
    // same posture as the pair queries' blocking key.
    val occ = graft.io.Tables.spread(df, idCol)
      .select(col(groupCol), col(idCol),
              TextStats.tokens(lower(col(textCol))).as("__toks"))
      .select(col(groupCol), col(idCol),
              explode(array_distinct(
                graft.functions.ShingleExpressions
                  .shingleMd5Col(col("__toks"), shingleK))).as("h"))
    val buckets = occ.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("df"),
           sort_array(collect_set(col(groupCol))).as("ds"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select(col("h"), col("ds"))
    bucketPairs(buckets)
      .groupBy(col("a_id").as("source_a"), col("b_id").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** DUPLICATE N-GRAM FRACTION — the Gopher-family per-doc score for
    * cross-document duplication: the share of a doc's shingle
    * OCCURRENCES whose hash is carried by ≥2 distinct documents.
    * Within-doc repetition alone does not count (that is
    * [[graft.text.TextStats.repetitionSignals]]' job); this is the
    * "how much of this doc exists elsewhere" filter signal,
    * thresholded before training.
    *
    * Scale shape: one explode to shingle occurrences, the distinct-doc
    * df table (map-side-combined countDistinct), ONE linear equi-join
    * back, one per-doc aggregate — same cost class as the span
    * decontamination scan, nothing quadratic. The percentage is exact
    * integer algebra (`div`), bit-reproducible everywhere.
    */
  def duplicateShingleFraction(df: DataFrame, idCol: String, textCol: String,
                               shingleK: Int = 3): DataFrame = {
    val pos = shingleHashes(df, idCol, textCol, shingleK)
      .select(col(idCol), explode(col("hs")).as("h"))
    val shared = pos.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("docs"))
      .filter(col("docs") >= 2)
      .select(col("h"), lit(1L).as("__dup"))
    pos.join(shared, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
           sum(coalesce(col("__dup"), lit(0L))).as("n_dup"))
      .withColumn("dup_pct", expr("(100 * n_dup) div n_shingles"))
  }

  /** Deterministic hash split/sample bucket in [0, buckets): the first
    * 8 md5 hex digits of the id as an integer, mod `buckets`.
    * Reproducible across runs, engines, and cluster sizes — the
    * production alternative to rand()-based sampling (which is neither
    * reproducible nor oracle-checkable), and leakage-safe when keyed
    * by document id (all of a doc's chunks land in the same split).
    */
  def hashBucket(idCol: Column, buckets: Int = 100): Column =
    (conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10).cast("long") % buckets)
      .cast("long")

  /** Train/val/test assignment from the hash bucket: [0,80) train,
    * [80,90) val, [90,100) test — the standard 80/10/10 deterministic
    * split.
    */
  def splitAssign(idCol: Column): Column = {
    val b = hashBucket(idCol, 100)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** Distributed connected components over an undirected edge list —
    * the dedup-CLUSTER step of a training pipeline: LSH candidate pairs
    * (q24) → duplicate clusters → keep one canonical document per
    * cluster. Returns `(id, comp)` where `comp` is the minimum vertex
    * id in the component (only vertices that appear in an edge; callers
    * left-join to assign singletons to themselves).
    *
    * Algorithm: min-label propagation fused with pointer jumping
    * (`comp := min(comp, min_{u∈N(v)} comp(u))`, then `comp :=
    * comp(comp)`) — the standard shuffle-based CC (GraphFrames/Pregel
    * family), converging in O(log d) rounds on diameter-d components.
    * Each round is two equi-join shuffles on vertex ids; the driver
    * loop performs one scalar `count` action per round (never collects
    * data). Dup clusters have tiny diameters in practice (near-dups of
    * a common ancestor), so 2-3 rounds settle real corpora at any scale.
    *
    * Materialization: each round's labels are pinned as a FLAT
    * `LogicalRDD` (the label table appears three times in the next
    * round's plan — msgs, stepped, parents — so an unpinned plan would
    * triple in size per round), the previous round's storage is
    * unpersisted as soon as the next is materialized (executor storage
    * stays O(1) in rounds, not O(iters)), and when `checkpointDir` is
    * given each round is also RELIABLY checkpointed — the
    * fault-tolerant iterate-and-checkpoint loop a real cluster needs
    * (memory-only pins die with an executor). The returned labels
    * remain pinned; callers own that final table's lifecycle.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 30,
                          checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    // the checkpoint dir is SparkContext-global: set it only when unset
    // (never silently repoint other users' checkpoints)
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // reliable checkpointing engages when EITHER the caller passed a
    // dir or the context already has one (a harness/cluster that ran
    // setCheckpointDir opts every CC run into fault-tolerant rounds —
    // the GraphFrames convention; memory-only pins die with an
    // executor)
    val cpEnabled = spark.sparkContext.getCheckpointDir.isDefined
    // free a round's storage AND its reliable-checkpoint files —
    // without the file cleanup, iterated runs accumulate one
    // checkpoint per round on disk for the app's lifetime
    def free(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
      rdd.unpersist(blocking = false)
      if (cpEnabled) rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
    // Pin = flat plan + explicit free handle, via Dataset.checkpoint/
    // localCheckpoint so the pinned rows stay in Spark's INTERNAL row
    // format end to end. The previous `df.rdd` + `createDataFrame`
    // roundtrip paid an InternalRow→Row deserializer on write and an
    // interpreted Row→InternalRow converter on every downstream read
    // of the pin (2-3 reads per round), plus a second driver-side
    // planning pass — measured ~0.45 s/round vs ~0.13 s for the round's
    // actual job at sf0.1 (r17). The explicit free handle is the
    // LogicalRDD's internal RDD (the same handle Pins.release targets).
    // Only the loop inputs are materialized eagerly; each round's pin
    // is computed by that round's single convergence-count action (a
    // full count over the filtered pin scans every partition, so the
    // cache is complete before the previous round is unpersisted) —
    // one job per round, not two.
    def pin(df: DataFrame, eager: Boolean)
        : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
      // eager = false always: materialization belongs to the caller's
      // next action. localCheckpoint persists MEMORY_AND_DISK itself;
      // the reliable path persists here (checkpoint() alone would
      // re-read files on every downstream scan of the round).
      // capStats: a round joins the previous round's pin four times
      // and the new pin inherits the round's size estimate, so
      // uncapped the estimate's bit length about triples per round
      // (q133 at sf0.001 runs 15 rounds; building it took 206 s
      // uncapped, 22 s capped)
      val pinned = graft.io.Pins.capStats(
        if (cpEnabled) df.checkpoint(eager = false)
        else df.localCheckpoint(eager = false))
      val rdd = pinned.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.getOrElse(throw new IllegalStateException(
        "checkpointed plan did not produce a LogicalRDD"))
      if (cpEnabled)
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (eager) rdd.count()
      (pinned, rdd)
    }
    // pin the DIRECTED edges first: a union of two branches over the
    // raw `edges` would evaluate the (md5-heavy) upstream candidate
    // pipeline twice in the same job. sym stays a cheap view over the
    // pin — the swap projection re-evaluates per round, the LSH never.
    val (e0, symRdd) = pin(
      edges.select(col(aCol).as("u"), col(bCol).as("v")), eager = true)
    val sym = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
    // seed labels with the one-hop neighborhood min — min(id, min(N(id)))
    // — instead of id: the same single shuffle as the distinct() it
    // replaces (a groupBy on the same key), but tiny-diameter dup
    // clusters (pairs/stars — the common near-dup shape) start AT the
    // fixed point and converge in one verification round instead of 2-3.
    var (labels, labelsRdd) = pin(
      sym.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("comp"))
        .select(col("u").as("id"), col("comp")), eager = true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val msgs = sym.join(labels, sym("u") === labels("id"))
        .select(sym("v").as("id"), labels("comp").as("c"))
        .groupBy(col("id")).agg(min(col("c")).as("nmin"))
      val stepped = labels.select(col("id"), col("comp").as("old"))
        .join(msgs, Seq("id"), "left")
        .select(col("id"), col("old"),
                least(col("old"), coalesce(col("nmin"), col("old"))).as("comp"))
      // pointer jumping: follow TWO parent hops (comp values are ids)
      // through the PINNED previous round, not through `stepped` —
      // the un-pinned stepped subtree (labels⋈msgs + the aggregate)
      // would otherwise evaluate twice per round, once per side of
      // this join (r17: measured ~11% of the loop at sf0.1, and at
      // production scale a full duplicate label-table pass per
      // round). Each hop is one cheap equi-join INSIDE the round's
      // single job; a round saved is a full label-table pass plus a
      // whole action's plan/schedule overhead (r18 probe: ~0.3 s per
      // round at sf0.1 against ~0.05 s per extra hop; 5 rounds → 4 on
      // the q59 edge set, and a third hop saved nothing further).
      // Fixpoint unchanged — every hop only ever takes least() over
      // labels already reachable in the component, and convergence is
      // still "a full round changed nothing".
      val hopped = (1 to 2).foldLeft(stepped) { (cur, h) =>
        val parents = labels.select(col("id").as(s"pid$h"),
                                    col("comp").as(s"pcomp$h"))
        cur.join(parents, cur("comp") === parents(s"pid$h"), "left")
          .select(cur("id"), cur("old"),
                  least(cur("comp"),
                        coalesce(col(s"pcomp$h"), cur("comp"))).as("comp"))
      }
      val (next, nextRdd) = pin(hopped, eager = false)
      // full count (no limit-1 short circuit): doubles as the round's
      // materializing action, so `next` is fully cached before the
      // previous round's storage is dropped
      converged = next.filter(col("comp") =!= col("old")).count() == 0L
      free(labelsRdd) // previous round is dead once next is pinned
      labelsRdd = nextRdd
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    free(symRdd)
    if (!converged) {
      free(labelsRdd) // failure path must not leak the last round's pin
      throw new IllegalArgumentException(
        s"connectedComponents did not converge in $maxIters rounds")
    }
    labels
  }

  /** Duplicate-cluster labels for EVERY document: [[connectedComponents]]
    * over the candidate-pair edges (e.g. [[minhashCandidates]] output),
    * singletons self-assigned. Returns the doc table's id column plus
    * `comp` — the canonical cluster label (min doc id in the cluster).
    */
  def dupClusters(docs: DataFrame, idCol: String,
                  edges: DataFrame, aCol: String, bCol: String,
                  checkpointDir: Option[String] = None): DataFrame = {
    val cc = connectedComponents(edges, aCol, bCol, checkpointDir = checkpointDir)
      .withColumnRenamed("id", idCol)
    docs.select(col(idCol))
      .join(cc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("comp"))
  }

  /** Keep-one (canonical-document) selection — the output a training
    * pipeline actually wants from dedup: every doc labeled with its
    * cluster and a `keep` flag that is true for exactly one doc per
    * cluster — the highest-`scoreCol` member (quality-first retention),
    * ties broken by smallest id for determinism. One extra shuffle on
    * `comp` (the ranking window) past the cluster step.
    */
  def keepOne(docs: DataFrame, idCol: String, scoreCol: Column,
              edges: DataFrame, aCol: String, bCol: String,
              checkpointDir: Option[String] = None): DataFrame = {
    val labeled = docs.join(
      dupClusters(docs, idCol, edges, aCol, bCol, checkpointDir), Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp")).orderBy(scoreCol.desc, col(idCol).asc)
    labeled.withColumn("keep", row_number().over(w) === 1)
  }

  /** [[dupClusters]] over a STORED signature table ([[minhashSignatures]]
    * persisted — the q73 posture): the clustering family's production
    * form. The corpus text is never re-shingled; candidate pairs come
    * straight from the 4-small-rows-per-doc signature scan, so at
    * 100 TB the repeated cost of a clustering run is the signature
    * table's size, not the corpus's. Output is bit-identical to the
    * from-scratch [[dupClusters]] over [[minhashCandidates]] of the
    * same corpus (the signature pipeline is deterministic).
    */
  def dupClustersFromSigs(docs: DataFrame, idCol: String, sigs: DataFrame,
                          checkpointDir: Option[String] = None): DataFrame =
    dupClusters(docs, idCol, candidatesFromSigs(sigs), "a_id", "b_id",
                checkpointDir)

  /** [[keepOne]] over a STORED signature table — canonical-document
    * selection without re-shingling (see [[dupClustersFromSigs]]).
    */
  def keepOneFromSigs(docs: DataFrame, idCol: String, scoreCol: Column,
                      sigs: DataFrame,
                      checkpointDir: Option[String] = None): DataFrame =
    keepOne(docs, idCol, scoreCol, candidatesFromSigs(sigs), "a_id", "b_id",
            checkpointDir)

  /** Embedding near-duplicate pairs: cosine >= `cosThreshold` within a
    * blocking key, computed in EXACT integer arithmetic on vectors
    * quantized to a 1e-3 grid — `cos >= t` becomes
    * `dot > 0 ∧ dot²·den ≥ num·|a|²·|b|²` with t² = num/den, so the
    * comparison is bit-identical across engines (no float summation
    * order anywhere).
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            blockCol: String,
                            thresholdNum: Long = 81, thresholdDen: Long = 100): DataFrame = {
    val q = df.select(col(blockCol).as("blk"), col(idCol).as("doc"),
      graft.search.Ann.intVec(col(vecCol)).as("iv"))
    val withNorm = q.withColumn("n2",
      graft.functions.VectorExpressions.longDot(col("iv"), col("iv")))
    val a = withNorm.select(col("blk"), col("doc").as("a_id"),
                            col("iv").as("iva"), col("n2").as("n2a"))
    val b = withNorm.select(col("blk"), col("doc").as("b_id"),
                            col("iv").as("ivb"), col("n2").as("n2b"))
    a.join(b, Seq("blk")).filter(col("a_id") < col("b_id"))
      .withColumn("dot",
        graft.functions.VectorExpressions.longDot(col("iva"), col("ivb")))
      // dot² can exceed int64 → compare in DECIMAL(38,0), exact
      .filter(col("dot") > 0 &&
        col("dot").cast("decimal(38,0)") * col("dot") * thresholdDen >=
          col("n2a").cast("decimal(38,0)") * col("n2b") * thresholdNum)
      .select(col("a_id"), col("b_id"), col("dot"))
  }

  /** FUZZY NEAR-DUP by EDIT DISTANCE — record-linkage confirmation for
    * pairs the token/shingle family can miss (single-character typos
    * shift every shingle; levenshtein counts them directly). Classic
    * blocked linkage: normalize to a compact key (lowercase, strip
    * non-word chars, first `keyLen` chars), block on the key's first
    * `blockLen` chars, and run `levenshtein` only INSIDE blocks after a
    * cheap length pre-filter (¦len(a)−len(b)¦ ≤ maxEdits bounds the
    * distance from below, so the quadratic-cost call never runs on
    * pairs that cannot match).
    *
    * Scale posture: the only shuffle is the block equi-join (no
    * all-pairs); per-pair cost is O(keyLen²) CONSTANT because keys are
    * capped; hot blocks (boilerplate prefixes) are df-capped at
    * `maxBlock` docs — the same drop-the-degenerate-bucket convention
    * as the LSH band join. Keys shorter than `blockLen` (e.g. text
    * that normalizes away entirely) are excluded: their edit distances
    * are trivially small and the pairs meaningless.
    */
  def fuzzyNearDup(df: DataFrame, idCol: String, textCol: String,
                   keyLen: Int = 32, blockLen: Int = 6,
                   maxEdits: Int = 6, maxBlock: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df
      .select(col(idCol).as("__id"),
              substring(regexp_replace(lower(col(textCol)), "\\W", ""),
                        1, keyLen).as("__k"))
      .filter(length(col("__k")) >= blockLen)
      .withColumn("__blk", substring(col("__k"), 1, blockLen))
    val capped = keyed
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("__blk"))))
      .filter(col("__bn") <= maxBlock)
    val a = capped.select(col("__blk"), col("__id").as("doc_a"),
                          col("__k").as("__ka"))
    val b = capped.select(col("__blk"), col("__id").as("doc_b"),
                          col("__k").as("__kb"))
    a.join(b, Seq("__blk"))
      .filter(col("doc_a") < col("doc_b") &&
              abs(length(col("__ka")) - length(col("__kb"))) <= maxEdits)
      .withColumn("edits", levenshtein(col("__ka"), col("__kb")).cast("long"))
      .filter(col("edits") <= maxEdits)
      .select(col("doc_a"), col("doc_b"), col("edits"))
  }

  /** EMBEDDING-SPACE DECONTAMINATION — flag corpus items whose
    * embedding cosine to ANY benchmark item satisfies
    * `cos > 0 ∧ cos² ≥ thresholdNum/thresholdDen`: the contamination
    * the exact/shingle/Bloom family (q61, spans q83, Bloom q94)
    * cannot see, because a
    * paraphrased benchmark answer shares no verbatim n-gram with its
    * source while its embedding stays close.
    *
    * Same exact-integer algebra as [[embeddingNearDupPairs]] (1e-3
    * quantized grid, `cos ≥ t` as `dot > 0 ∧ dot²·den ≥ num·|a|²·|b|²`
    * in DECIMAL(38,0)), but the join is ASYMMETRIC (corpus × benchmark,
    * no `a < b` dedup) and the output is per-CORPUS-item: each
    * contaminated corpus id reported once with its best-matching
    * benchmark id (max dot, ties to the smaller benchmark id — the
    * engine-wide rank convention).
    *
    * Scale posture: both sides block on `blockCol` (the IVF coarse
    * cell when no metadata blocking exists — q62's learned-blocking
    * recipe, so the ANN quantizer bounds the pair expansion); the only
    * shuffle is the block equi-join, and the benchmark side of a real
    * deployment is eval-suite-sized (thousands), so every block's
    * benchmark sliver broadcasts. Pairs straddling a cell boundary are
    * missed by construction — the standard blocked recall trade,
    * recovered by raising nprobe-style block fan-out upstream if needed.
    */
  def embeddingDecontaminate(corpus: DataFrame, bench: DataFrame,
                             idCol: String, vecCol: String, blockCol: String,
                             thresholdNum: Long = 16, thresholdDen: Long = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def prep(df: DataFrame, idAs: String, ivAs: String, n2As: String) =
      df.select(col(blockCol).as("blk"), col(idCol).as(idAs),
          graft.search.Ann.intVec(col(vecCol)).as(ivAs))
        .withColumn(n2As,
          graft.functions.VectorExpressions.longDot(col(ivAs), col(ivAs)))
    val c = prep(corpus, "doc_id", "ivc", "n2c")
    val b = prep(bench, "bench_id", "ivb", "n2b")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("dot").desc, col("bench_id"))
    c.join(b, Seq("blk"))
      .withColumn("dot",
        graft.functions.VectorExpressions.longDot(col("ivc"), col("ivb")))
      // dot² can exceed int64 → compare in DECIMAL(38,0), exact
      .filter(col("dot") > 0 &&
        col("dot").cast("decimal(38,0)") * col("dot") * thresholdDen >=
          col("n2c").cast("decimal(38,0)") * col("n2b") * thresholdNum)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("bench_id"), col("dot"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — the semantic
    * dedup VERDICT the pair list ([[embeddingNearDupPairs]], q62)
    * stops short of: within each coarse cell, pairs at
    * `cos > 0 ∧ cos² ≥ thresholdNum/thresholdDen` are duplicate
    * edges; [[dupClusters]] labels the groups (transitively, so a
    * paraphrase chain collapses even when its ends aren't directly
    * close); the survivor per group is the member LEAST similar to
    * its cell centroid — the paper's diversity-keeping rule (the
    * near-centroid members are the redundant mass), expressed on the
    * engine's exact-integer dot (`cdotCol`, ties ascending id).
    *
    * Input is an [[graft.search.Ann.ivfAssignInt]]-assigned frame
    * (id, vec, cell, cdot). Scale posture: the pair expansion is
    * blocked by the quantizer cell exactly like q62 — the paper's own
    * recipe (k grows with the corpus, so per-cell cost is bounded, and
    * the hot-cell split maintenance keeps it that way); the CC
    * iteration runs on within-cell edges only, and the keep window
    * shuffles once on the comp label.
    */
  def semDedup(assigned: DataFrame, idCol: String, vecCol: String,
               cellCol: String = "cell", cdotCol: String = "cdot",
               thresholdNum: Long = 81, thresholdDen: Long = 100,
               checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the assigned frame (quantizer E-step: per-vector argmin over k
    // centroids) is read FOUR times below — both sides of the
    // within-cell pair join, the keep projection, and the cluster
    // left-join's id side. Pin it once (r17): at production scale this
    // is "write the assignment table, then pair it" — the quantizer
    // never re-scores the corpus per consumer.
    val pinned = assigned.localCheckpoint()
    val edges = embeddingNearDupPairs(pinned, idCol, vecCol, cellCol,
                                      thresholdNum, thresholdDen)
    val labeled = pinned
      .select(col(idCol), col(cellCol), col(cdotCol))
      .join(dupClusters(pinned, idCol, edges, "a_id", "b_id",
                        checkpointDir), Seq(idCol))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col(cdotCol).asc, col(idCol).asc)
    labeled.withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col(cellCol), col("comp"), col(cdotCol),
              col("keep"))
  }
}
