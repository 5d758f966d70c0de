package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Pins.pin

/** Corpus-curation sampling operators — the mixture-shaping passes a
  * training-data pipeline runs after cleaning/dedup and before
  * packing (none present in the reference, which stops at chunking —
  * solaius/data_pipeline2 `services/docling_service.py`; these are the
  * standard web-corpus recipes, e.g. CCNet/RefinedWeb-style source
  * caps and per-language balancing).
  *
  * Both operators are deterministic (no rand()): reproducible across
  * runs, partitionings and cluster sizes, and oracle-checkable.
  */
object Curation {

  /** PER-GROUP CAP — keep at most `cap` rows per group (domain/source),
    * best-first: the "no single domain dominates the corpus" rule.
    * Rank is total (score desc, id asc) so the kept set is unique.
    *
    * Scale shape: one shuffle on the group key. The rank<=cap filter is
    * pushed map-side by WindowGroupLimit (Spark ≥3.5), so a hot domain
    * never materializes more than `cap` rows per map task — the reduce
    * side sees at most `cap`·tasks rows per group, not the group's full
    * population.
    */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  scoreCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
  }

  /** STRATIFIED deterministic sampling — per-stratum keep rates in
    * percent (language/source balancing). A row survives when its
    * id's md5 bucket ([[graft.dedup.Dedup.hashBucket]], 0..99) falls
    * under its stratum's rate; strata not in `rates` get
    * `defaultRate`. Pure map-side column algebra: no shuffle, no
    * state, linear scan — at 100 TB this is a filter fused into the
    * parquet scan.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    df.withColumn("bucket", graft.dedup.Dedup.hashBucket(col(idCol), 100))
      .filter(col("bucket") < rate)
  }

  /** TEMPERATURE sampling — the multilingual mixture recipe: stratum
    * keep rates proportional to (n_s/n_max)^(1/2), so the biggest
    * stratum keeps 100% and tail strata are up-weighted relative to
    * their raw share (temperature T=2 rebalancing). Rates are EXACT
    * integer percent: `floor(sqrt((10000·n_s) div n_max))` — IEEE
    * sqrt is correctly rounded in every engine, so the same rates come
    * out of the SQL oracle bit-for-bit, and the kept set is the same
    * deterministic md5-bucket rule as [[stratifiedSample]].
    *
    * Plan shape: one map-combined stratum count (k rows), its max as a
    * 1-row broadcast, rates broadcast-joined back onto the scan —
    * nothing driver-side, no shuffle of the corpus itself.
    * The pin belongs to the caller's [[graft.io.Pins.scope]].
    */
  def temperatureSample(df: DataFrame, idCol: String, strataCol: String): DataFrame = {
    // pinned: nmax and the rate join both read it — unpinned, the
    // corpus-wide count would run once per branch
    val counts = pin(df.groupBy(col(strataCol)).agg(count(lit(1)).as("n")))
    val nmax = counts.agg(max(col("n")).as("nmax"))
    val rates = counts.crossJoin(broadcast(nmax))
      .withColumn("rate",
        floor(sqrt(expr("(10000 * n) div nmax").cast("double"))).cast("long"))
      .select(col(strataCol), col("n").as("n_stratum"), col("rate"))
    df.withColumn("bucket", graft.dedup.Dedup.hashBucket(col(idCol), 100))
      .join(broadcast(rates), Seq(strataCol))
      .filter(col("bucket") < col("rate"))
  }

  /** DETERMINISTIC TRAINING-ORDER shuffle + shard assignment — the
    * "global shuffle" a training run reads, without a global sort:
    * order key = md5 of (salt | id), shard = its first 32 bits mod
    * nShards, pos = rank within the shard under (hash, id). Reading
    * shard 0..n−1 sequentially, each internally by pos, replays ONE
    * fixed pseudo-random permutation of the corpus — identical across
    * runs, engines and partitionings, and re-seedable per epoch by
    * changing `salt` (each epoch is an independent permutation, the
    * shuffle-between-epochs training recipe).
    *
    * Scale shape: ONE shuffle keyed by shard, then per-shard local
    * sort — never a global sort/global row_number. Shard count is the
    * parallelism knob: 100 TB / 4096 shards ≈ 25 GB per reducer,
    * sorted locally by a 32-byte key.
    */
  def trainingOrder(df: DataFrame, idCol: String, nShards: Int,
                    salt: String = "ord"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", md5(concat_ws("|", lit(salt), col(idCol).cast("string"))))
      .withColumn("shard",
        expr(s"CAST(conv(substring(__h, 1, 8), 16, 10) AS BIGINT) % $nShards"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** CURATION FUNNEL — the per-stage attrition report a pipeline
    * prints before training: total docs → quality gate
    * ([[TextStats.qualitySignals]]) → +repetition gate
    * ([[TextStats.repetitionSignals]]) → exact-dedup keepers (distinct
    * text digests among the survivors). All four counts reduce in ONE
    * aggregate over the per-doc flag table (keeper count =
    * count_distinct of survivor digests — no window, no second pass),
    * then unpivot to (stage, n_docs) rows; the gates' own plans are
    * reused unchanged, so the funnel inherits their scale posture.
    */
  def curationFunnel(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val qual = TextStats.qualitySignals(df, textCol)
      .select(col(idCol), md5(col(textCol)).as("__h"), col("quality_ok"))
    val rep = TextStats.repetitionSignals(df, idCol, textCol)
      .select(col(idCol), col("rep_ok"))
    qual.join(rep, Seq(idCol))
      .withColumn("__s2", col("quality_ok") && col("rep_ok"))
      .agg(count(lit(1)).as("n0"),
           sum(col("quality_ok").cast("long")).as("n1"),
           sum(col("__s2").cast("long")).as("n2"),
           count_distinct(when(col("__s2"), col("__h"))).as("n3"))
      .select(explode(map(
        lit("0_total"), col("n0"),
        lit("1_quality"), col("n1"),
        lit("2_repetition"), col("n2"),
        lit("3_dedup_keeper"), col("n3"))).as(Seq("stage", "n_docs")))
  }

  /** WEIGHTED SAMPLE WITHOUT REPLACEMENT — Efraimidis–Spirakis A-ES
    * made deterministic and engine-exact: each row draws u from the
    * first 32 md5 bits of (salt ¦ id) and ranks by the fixed-point key
    *
    *   key_fp = (log2fp(u+1) − 32·2^12) · 10^6  div  w
    *
    * (the integer form of ln(u)/w — always ≤ 0, larger-is-better;
    * truncating div, the Spark `div` = DuckDB `//` contract). Heavier
    * rows draw keys nearer zero, so the top-k IS a weight-proportional
    * sample without replacement; re-seed per epoch via `salt` — the
    * same determinism contract as [[trainingOrder]]. The importance-
    * weighted document pick (sample long/high-quality docs more) every
    * curation pass needs, reproducible bit-for-bit on any engine.
    *
    * Plan shape for 100 TB: u, the log recurrence (~40 integer ops,
    * whole-stage codegen), and the key are per-row map work; selection
    * is TakeOrderedAndProject (per-partition top-k, k·P driver merge) —
    * no shuffle of the corpus, ever.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, salt: String = "aes"): DataFrame = {
    val u = conv(substring(md5(concat_ws("|", lit(salt),
                                         col(idCol).cast("string"))), 1, 8),
                 16, 10).cast("long") + 1
    val base = df
      .withColumn("__u", u)
      .withColumn("weight", greatest(col(weightCol).cast("long"), lit(1L)))
    graft.functions.FixedPoint.withLog2(base, Seq(("__u", "__lu")))
      .withColumn("key_fp", expr(
        s"((__lu - ${32L * graft.functions.FixedPoint.Scale}) * 1000000)" +
          " div weight"))
      .orderBy(col("key_fp").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("weight"), col("key_fp"))
  }

  /** MIXTURE ALLOCATION — the data-mixing budget solve every
    * pre-training run starts from: given per-source token inventories,
    * target mixture weights (ppm), and a total token budget, compute
    * each source's allocation = min(inventory, budget·weight), the
    * sampling rate (ppm of that source's tokens to keep), and the
    * DEFICIT a source cannot fill (the signal to re-weight or to
    * multi-epoch that source). Sources present in the corpus but
    * absent from `weightsPpm` report weight 0 — exclusions stay
    * visible in the report; weights for sources with no corpus rows
    * have no inventory to allocate and are not reported.
    *
    * All exact integer algebra (`div`), overflow-safe for budgets to
    * ~9·10^12 tokens at ppm scale (the product stays under 2^63).
    *
    * Plan shape for 100 TB: the corpus pays ONE map-side-combined
    * aggregate — (source, docs, Σtokens) is k rows — and every later
    * step is k-row algebra under a broadcast weights join; nothing
    * corpus-sized ever shuffles.
    */
  def mixtureAllocation(df: DataFrame, sourceCol: String, textCol: String,
                        weightsPpm: Seq[(String, Long)],
                        budgetTokens: Long): DataFrame = {
    val avail = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(TextStats.tokens(col(textCol))).cast("long"))
             .as("tokens_avail"))
    val wDf = df.sparkSession.createDataFrame(weightsPpm)
      .toDF("source", "weight_ppm")
    avail.join(broadcast(wDf), Seq("source"), "left")
      .withColumn("weight_ppm", coalesce(col("weight_ppm"), lit(0L)))
      .withColumn("target_tokens",
        expr(s"($budgetTokens * weight_ppm) div 1000000"))
      .withColumn("allocated_tokens", least(col("tokens_avail"),
                                            col("target_tokens")))
      .withColumn("rate_ppm",
        when(col("tokens_avail") > 0,
             expr("(1000000 * allocated_tokens) div tokens_avail"))
          .otherwise(lit(0L)))
      .withColumn("deficit", col("target_tokens") - col("allocated_tokens"))
  }

  /** ADAPTIVE QUALITY GATE — per-source auto-threshold filtering: a
    * fixed global quality cutoff is wrong across sources (a code crawl
    * and a news crawl have different stopword-density baselines), so
    * the gate derives each source's cutoff FROM ITS OWN distribution:
    * score = stopword density in basis points (the q26 signals), the
    * cutoff = the source's exact p25 (the q122 row_number quantile
    * convention), keep = score ≥ cutoff — the bottom quartile of every
    * source drops, regardless of where that source's scale sits.
    * One shuffle on the source key (all three window functions share
    * the partition); exact integer algebra end to end.
    */
  def adaptiveQualityFilter(df: DataFrame, idCol: String, textCol: String,
                            srcCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.text.TextStats.qualitySignals(df, textCol)
      .select(col(idCol), col(srcCol).as("source"),
              expr("(n_stopwords * 10000) div greatest(n_tokens, 1)")
                .as("score"))
    val wOrd = Window.partitionBy(col("source"))
      .orderBy(col("score"), col(idCol))
    val wSrc = Window.partitionBy(col("source"))
    scored
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wSrc))
      .withColumn("cutoff",
        max(when(col("rn") === expr("(1*n + 3) div 4"), col("score")))
          .over(wSrc))
      .withColumn("kept", col("score") >= col("cutoff"))
      .select(col(idCol), col("source"), col("score"), col("cutoff"),
              col("kept"))
  }

  /** DOMAIN-RELEVANCE IMPORTANCE WEIGHTS (hashed n-gram features) —
    * the data-selection pass that ranks a raw corpus by how much it
    * looks like a small target domain (DSIR-style: Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169). Words hash into `buckets` feature ids
    * ([[graft.dedup.Dedup.hashBucket]] — md5, oracle-replayable), the
    * target/rest feature distributions come from ONE corpus count, and
    * each document scores Σ_f c_f(doc) · w_f with the exact-integer
    * per-feature weight
    *
    *   w_f = t_f·R − r_f·T
    *
    * (t_f/r_f = target/rest counts of feature f, T/R their totals) —
    * positive exactly when p_target(f) > p_rest(f), i.e. the
    * first-order linearization of the paper's log-ratio around
    * p_t = p_r, kept linear so the whole rank is integer-exact and
    * engine-replayable (no transcendentals in the verified surface).
    * Magnitude bound: |score| ≤ doc_tokens · max(t_f·R, r_f·T); at
    * corpus scale feed SAMPLED feature counts (the q140 recipe) so the
    * products stay far inside BIGINT.
    *
    * Plan shape: one token explode → one (doc, feature) aggregation
    * (the only corpus-sized shuffle, map-combined); feature stats and
    * totals are `buckets`-sized and broadcast back; the per-doc score
    * is a second map-combined aggregation over doc×buckets rows.
    */
  def domainRelevanceWeights(df: DataFrame, idCol: String, textCol: String,
                             isTarget: Column, buckets: Int = 64): DataFrame = {
    val toks = df
      .select(col(idCol), isTarget.as("is_target"),
              explode(split(lower(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .select(col(idCol), col("is_target"),
              graft.dedup.Dedup.hashBucket(col("term"), buckets).as("feat"))
    // (doc, feature) counts — the one corpus-sized aggregation; the
    // feature marginals AND the per-doc scores both derive from it, so
    // the pin is what makes "the corpus is read once" true (Spark
    // shares no subtrees across DataFrame branches — unpinned, the
    // marginal branch and the score branch would each re-explode the
    // corpus). Doc×buckets-sized; freed with the caller's scope.
    val dc = pin(toks.groupBy(col(idCol), col("is_target"), col("feat"))
      .agg(count(lit(1)).as("c")))
    val cnt = dc.groupBy(col("feat"))
      .agg(sum(when(col("is_target"), col("c")).otherwise(0L)).as("t_f"),
           sum(when(!col("is_target"), col("c")).otherwise(0L)).as("r_f"))
    val tot = cnt.agg(sum(col("t_f")).as("t_tot"), sum(col("r_f")).as("r_tot"))
    val w = cnt.crossJoin(broadcast(tot))
      .select(col("feat"),
              (col("t_f") * col("r_tot") - col("r_f") * col("t_tot")).as("w"))
    dc.join(broadcast(w), Seq("feat"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
           sum(col("c") * col("w")).as("score"))
  }

  /** CLUSTER-BALANCED SAMPLE — at most `cap` rows per group, smallest
    * ids first (total order, so the kept set is unique and
    * reproducible). The semantic-diversity counterpart of
    * [[capPerGroup]]: group by a TRAINED quantizer's cell instead of a
    * metadata column and the sample covers embedding space evenly
    * instead of echoing the corpus's cluster skew — the "balance the
    * mixture over topics you DISCOVERED, not labels you were given"
    * recipe. Same scale shape as [[capPerGroup]]: one group-key
    * shuffle, rank<=cap pushed map-side by WindowGroupLimit.
    */
  def balancedSample(df: DataFrame, groupCol: String, idCol: String,
                     cap: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol).asc)
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
  }
}
