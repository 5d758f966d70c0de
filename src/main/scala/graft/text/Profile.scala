package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus profiling via MERGEABLE histogram sketches — the length /
  * size distribution statistics every training-data pipeline reports
  * per source (none in the reference, which stops at chunking —
  * solaius/data_pipeline2 `services/docling_service.py`; these are the
  * standard corpus-QA summaries, cf. Gopher/RefinedWeb dataset cards).
  *
  * Exact quantiles at 100 TB need a full sort per group; Spark's
  * `percentile_approx` (Greenwald-Khanna) is the usual answer but its
  * result depends on merge order — not reproducible, not
  * oracle-checkable. This module takes the other classical route: a
  * FIXED log₂-binned histogram. Bin id = bit-length of the value
  * (⌊log₂ v⌋ + 1), so the sketch is
  *
  *  - bounded: ≤ 64 bins per group regardless of data volume,
  *  - mergeable: bin counts add — partial aggregation is exact, any
  *    merge order gives the same sketch (the property GK lacks),
  *  - deterministic: the p-th quantile is resolved to its bin's lower
  *    bound 2^(bin−1) by pure integer algebra (first bin whose
  *    cumulative count reaches ⌈p·n/100⌉), identical in any engine.
  *
  * Scale shape: the heavy input sees ONE map-side-combined groupBy on
  * (group, bin) — a key space of #groups × ≤64, so the shuffle carries
  * kilobytes at any corpus size. The window cumsum then runs over that
  * tiny sketch table, never over rows.
  */
object Profile {

  /** value → log₂ bin id (bit length: 1→1, 2..3→2, 4..7→3, …; 0→bin 1,
    * sharing the v=1 bin — lengths are non-negative and tiny docs all
    * land in the bottom bin). Column algebra only (`bin()` = binary
    * string, same function DuckDB ships), codegen-friendly.
    */
  private def log2Bin(c: org.apache.spark.sql.Column) =
    length(bin(greatest(c, lit(1)))).cast("long")

  /** The sketch: one row per (group, bin) with its count. */
  def lengthHistogram(df: DataFrame, groupCol: String, lenCol: String): DataFrame =
    df.groupBy(col(groupCol), log2Bin(col(lenCol)).as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Resolve quantiles (percent, e.g. Seq(50, 90, 99)) from the sketch:
    * per group, the p-th quantile's bin is the first whose cumulative
    * count cum satisfies 100·cum ≥ p·n (⟺ cum ≥ ⌈p·n/100⌉ in exact
    * integers), reported as the bin's lower bound 2^(bin−1). One
    * window over the ≤64-row-per-group sketch.
    */
  def histogramQuantiles(hist: DataFrame, groupCol: String,
                         quantiles: Seq[Int]): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col("bin"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(groupCol))))
    val qBins = quantiles.map { p =>
      min(when(col("cum") * 100 >= col("n") * p, col("bin"))).as(s"_qbin$p")
    }
    val aggs = max(col("n")).cast("long").as("n_docs") +: qBins
    val agged = cum.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    agged.select(col(groupCol) +: col("n_docs") +: quantiles.map { p =>
      expr(s"shiftleft(CAST(1 AS BIGINT), CAST(_qbin$p AS INT) - 1)").as(s"p${p}_lb")
    }: _*)
  }

  /** The composed per-source document-length profile. */
  def lengthProfile(docs: DataFrame, groupCol: String, lenCol: String,
                    quantiles: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    histogramQuantiles(lengthHistogram(docs, groupCol, lenCol), groupCol, quantiles)

  // ---- distinct-count sketch (HyperLogLog registers, exact algebra) ----

  /** Register count m = 2^8. Raw-HLL standard error is 1.04/√m ≈ 6.5%;
    * the estimator below is the RAW harmonic-mean form (no small-range
    * linear-counting correction), biased high below ~2.5·m ≈ 640
    * distinct values per group — callers counting tiny groups should
    * read `registers_used`, not `est_distinct`.
    */
  val HllBuckets = 256

  /** 2^30 >> M with M=0 — one empty register's harmonic-sum term. */
  val HllEmptyTerm: Long = 1L << 30
  /** alpha_256 · m² · 2^30 in one precomputed integer: 0.71827
    * (rational 71827/10^5) · 2^16 · 2^30 — numerator of the
    * harmonic-mean estimate, 5.05e18, inside BIGINT. Public with
    * [[HllDen]]/[[HllEmptyTerm]] so oracle builders splice the SAME
    * constants instead of re-deriving them.
    */
  val HllNum: Long = 71827L * (1L << 46)
  val HllDen: Long = 100000L

  /** Distinct-count SKETCH per group over a token column — the
    * 100 TB answer to "how many distinct tokens per source": exact
    * `count(distinct)` shuffles every distinct value; the HLL register
    * sketch shuffles ≤ m=256 rows per group, is map-side combinable
    * (`max` per register), and MERGEABLE across any split of the data
    * (register-wise max — merge-order-independent, same property as
    * [[lengthHistogram]]).
    *
    * All algebra is exact integers on md5 bits, so an independent
    * engine reproduces the estimate bit-for-bit: register j = first
    * byte of md5(token); rho = 33 − bitlength of the next 32 md5 bits
    * (33 when they are all zero); estimate = ⌊⌊α·m²·2^30 / Σ_j 2^30 >>
    * M_j⌋ / 10^5⌋ with empty registers contributing 2^30 (truncating
    * shifts/divides are part of the definition — deterministic, and
    * within 1 of the real-arithmetic HLL everywhere it matters).
    *
    * Input is the exploded (group, token) occurrence table; dedup of
    * occurrences is the sketch's own job (same token → same register,
    * max collapses it).
    */
  def distinctSketch(toks: DataFrame, groupCol: String, tokCol: String): DataFrame =
    sketchFromState(sketchState(toks, groupCol, tokCol), groupCol)

  /** MERGEABLE SKETCH STATE — the persistable representation behind
    * [[distinctSketch]]: one row per (group, occupied register) with
    * its max rho AND the additive occurrence count. The two merge laws
    * are the whole incremental story: `m_reg` merges by MAX (the HLL
    * mergeability theorem) and `occ` by SUM — both exact — so a corpus
    * folded in ANY batching reaches the same state as a one-shot pass,
    * bit-for-bit. ≤ m=256 rows per group at any corpus size: the
    * artifact a 100 TB deployment UPDATES per ingest batch instead of
    * rescanning history for every profile.
    */
  def sketchState(toks: DataFrame, groupCol: String, tokCol: String): DataFrame =
    sketchStateBy(toks, Seq(groupCol), tokCol)

  /** [[sketchState]] under a COMPOSITE group key — the sharded form:
    * [[graft.text.ProfileState]] keys its register part by
    * (doc-shard, strategy) so a takedown can rebuild ONE shard's
    * registers exactly instead of rescanning the corpus; max over the
    * shard dimension recovers the single-key state bit-for-bit (max is
    * associative over any partition of the docs).
    */
  def sketchStateBy(toks: DataFrame, groupCols: Seq[String],
                    tokCol: String): DataFrame =
    toks.select(
        groupCols.map(col) ++ Seq(
          expr(s"CAST(conv(substring(md5($tokCol), 1, 2), 16, 10) AS BIGINT)").as("bucket"),
          expr(s"CAST(conv(substring(md5($tokCol), 3, 8), 16, 10) AS BIGINT)").as("v")): _*)
      .withColumn("rho", expr(
        "CASE WHEN v = 0 THEN CAST(33 AS BIGINT) ELSE 33 - CAST(length(bin(v)) AS BIGINT) END"))
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("m_reg"), count(lit(1)).as("occ"))

  /** Fold sketch states (a stored state + a new batch's delta, or any
    * number of parts): register-wise max, occurrence sum. Associative
    * and commutative — merge order can never change the result.
    */
  def mergeSketchStates(groupCol: String, states: DataFrame*): DataFrame =
    mergeSketchStatesBy(Seq(groupCol), states: _*)

  /** [[mergeSketchStates]] under a composite group key (see
    * [[sketchStateBy]]). Also the CROSS-SHARD collapse: merging a
    * sharded state with the shard column dropped serves the single-key
    * registers.
    */
  def mergeSketchStatesBy(groupCols: Seq[String], states: DataFrame*): DataFrame =
    states.reduce(_.unionByName(_))
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("m_reg")).as("m_reg"), sum(col("occ")).as("occ"))

  /** Serve the [[distinctSketch]] report from a (stored) state table —
    * identical output to the one-shot form by construction.
    */
  def sketchFromState(state: DataFrame, groupCol: String): DataFrame =
    state.groupBy(col(groupCol))
      .agg(sum(col("occ")).as("n_tokens"),
           count(lit(1)).as("registers_used"),
           // the register term MUST shift a BIGINT: an INT literal
           // would wrap the shift count at 32 (Java semantics), so a
           // rho of 32/33 — rare but guaranteed at corpus scale —
           // would diverge from the oracle's 64-bit shift
           sum(expr("shiftright(CAST(1073741824 AS BIGINT), CAST(m_reg AS INT))"))
             .as("__dn"))
      .withColumn("est_distinct", expr(
        s"$HllNum div (__dn + (${HllBuckets} - registers_used) * $HllEmptyTerm) div $HllDen"))
      .drop("__dn")

  /** The distinct-count REPORT off a stored sketch state, REGISTERS
    * ONLY — no `n_tokens`: the register half of the state (bucket →
    * max rho) is idempotent under re-adding the same tokens, so the
    * served estimate equals a fresh one-shot sketch after any
    * re-ingest; the additive `occ` half counts token ARRIVALS over
    * ingest history and diverges from a live-store recount the moment
    * a doc is re-delivered — a product profile that must read
    * "identical to a rescan" serves the register columns and leaves
    * occ in the artifact as a history diagnostic. Same harmonic-sum
    * integer algebra as [[sketchFromState]].
    */
  def distinctFromRegisters(state: DataFrame, groupCol: String): DataFrame =
    sketchFromState(
      // occ is ignored by construction — a register-only table (no occ
      // column) serves too, via a zero stand-in; ONE copy of the
      // estimate algebra lives in sketchFromState
      if (state.columns.contains("occ")) state
      else state.withColumn("occ", lit(0L)),
      groupCol).drop("n_tokens")

  /** Fold length-histogram sketches ([[lengthHistogram]] outputs) —
    * counts are additive, so the merged histogram of any batching
    * equals the one-shot histogram exactly and
    * [[histogramQuantiles]] over it serves identical quantiles.
    */
  def mergeHistograms(groupCol: String, hists: DataFrame*): DataFrame =
    hists.reduce(_.unionByName(_))
      .groupBy(col(groupCol), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))

  /** [[distinctSketch]] over the `\W+` lowercase token model (the
    * search/BM25 token convention) of a document table.
    */
  def distinctTokenProfile(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    distinctSketch(
      docs.select(
        col(groupCol),
        explode(filter(split(lower(coalesce(col(textCol), lit(""))), "\\W+"),
                       t => t =!= "")).as("__tok")),
      groupCol, "__tok")

  /** The raw REGISTER TABLE behind [[distinctSketch]] — one row per
    * (group, occupied register) with its max rho, same md5-bit recipe.
    * This is the mergeable representation: registers of any union of
    * row sets are the register-wise MAX of the parts, exactly — which
    * is what [[sketchOverlap]] exploits for set algebra between
    * groups. ≤ m=256 rows per group at any corpus size.
    */
  def hllRegisters(toks: DataFrame, groupCol: String, tokCol: String): DataFrame =
    toks.select(
        col(groupCol),
        expr(s"CAST(conv(substring(md5($tokCol), 1, 2), 16, 10) AS BIGINT)").as("bucket"),
        expr(s"CAST(conv(substring(md5($tokCol), 3, 8), 16, 10) AS BIGINT)").as("v"))
      .withColumn("rho", expr(
        "CASE WHEN v = 0 THEN CAST(33 AS BIGINT) ELSE 33 - CAST(length(bin(v)) AS BIGINT) END"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rho")).as("m_reg"))

  /** The [[distinctSketch]] estimate re-derived from a register table:
    * same harmonic-sum integer algebra, keyed by `keys`.
    */
  private def estimateFromRegs(regs: DataFrame, keys: Seq[String],
                               out: String): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__used"),
           sum(expr("shiftright(CAST(1073741824 AS BIGINT), CAST(m_reg AS INT))"))
             .as("__dn"))
      .withColumn(out, expr(
        s"$HllNum div (__dn + ($HllBuckets - __used) * $HllEmptyTerm) div $HllDen"))
      .drop("__used", "__dn")

  /** SKETCH SET ALGEBRA between groups — the 100 TB answer to "how
    * much vocabulary do these two sources share": exact set
    * intersection needs a distinct-value shuffle per pair; the HLL
    * registers answer it from m=256 rows per group. Union is EXACT on
    * the sketch (register-wise max IS the sketch of the union — the
    * HLL mergeability theorem); intersection is inclusion–exclusion
    * |A|+|B|−|A∪B| on the three estimates, clamped at 0 (sketch error
    * can drive the difference negative for near-disjoint sets);
    * `jaccard_pm` = 1000·∩ div ∪ truncating.
    *
    * Pairs are the groups CO-OCCUPYING at least one register — an
    * equi-join on the register id, never a cartesian pairing (two
    * groups sharing zero of the 256 registers have no overlap worth
    * reporting; any group with ≥ a few hundred tokens occupies most
    * registers, so real pairs always appear).
    *
    * Scale shape: the corpus is touched ONCE (building `regs`,
    * map-side combined); everything here joins ≤ m·G register rows —
    * the register table is pinned so the probe-side joins never
    * re-read the corpus.
    */
  def sketchOverlap(regs: DataFrame, groupCol: String): DataFrame = {
    val r = graft.io.Pins.pin(regs)
    val single = estimateFromRegs(r, Seq(groupCol), "est")
    val pairs = r.select(col(groupCol).as("g_a"), col("bucket"))
      .join(r.select(col(groupCol).as("g_b"), col("bucket")), Seq("bucket"))
      .filter(col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b")).distinct()
    val contrib = pairs
      .join(r.withColumnRenamed(groupCol, "g_a"), Seq("g_a"))
      .select(col("g_a"), col("g_b"), col("bucket"), col("m_reg"))
      .union(pairs
        .join(r.withColumnRenamed(groupCol, "g_b"), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("bucket"), col("m_reg")))
    val merged = contrib.groupBy(col("g_a"), col("g_b"), col("bucket"))
      .agg(max(col("m_reg")).as("m_reg"))
    estimateFromRegs(merged, Seq("g_a", "g_b"), "est_union")
      .join(single.select(col(groupCol).as("g_a"), col("est").as("est_a")), Seq("g_a"))
      .join(single.select(col(groupCol).as("g_b"), col("est").as("est_b")), Seq("g_b"))
      .select(col("g_a"), col("g_b"), col("est_a"), col("est_b"), col("est_union"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersect"))
      .withColumn("jaccard_pm", expr(
        "CASE WHEN est_union > 0 THEN 1000 * est_intersect div est_union " +
        "ELSE CAST(0 AS BIGINT) END"))
  }

  /** CUMULATIVE distinct-count curve — "how many distinct users/tokens
    * had we seen BY day d", for every d, from the registers alone: the
    * running union of daily sketches is the per-bucket RUNNING MAX
    * (the same mergeability [[sketchOverlap]] uses, folded along
    * time). Computed without materializing a day×bucket grid: a
    * bucket contributes a DELTA only on days its running max strictly
    * increases (first appearance counts from the empty-register term),
    * the deltas aggregate per day, and one bounded window over the
    * ≤#days daily rows turns them into the harmonic denominator — so
    * the estimate for EVERY prefix costs one corpus pass plus
    * register-table algebra. The exact cumulative count (running sum
    * of first-seen keys) rides beside the estimate (the
    * truth-next-to-estimate convention).
    *
    * Scale shape: the corpus pays the register aggregate and one
    * first-seen groupBy; every window runs over ≤ m·#days register
    * rows or ≤ #days daily rows (the single-partition day window is
    * deliberate — bounded by the calendar, not the data).
    */
  def cumulativeDistinct(toks: DataFrame, dayCol: String,
                         tokCol: String): DataFrame = {
    val regs = hllRegisters(toks, dayCol, tokCol)
    val wb = Window.partitionBy(col("bucket")).orderBy(col(dayCol))
    val inc = regs
      .withColumn("run", max(col("m_reg")).over(wb))
      .withColumn("prev", lag(col("run"), 1).over(wb))
      .filter(col("prev").isNull || col("run") > col("prev"))
      .select(col(dayCol),
        (expr("shiftright(CAST(1073741824 AS BIGINT), CAST(run AS INT))")
          - when(col("prev").isNull, lit(HllEmptyTerm))
              .otherwise(expr(
                "shiftright(CAST(1073741824 AS BIGINT), CAST(prev AS INT))")))
          .as("d_dn"),
        when(col("prev").isNull, lit(1L)).otherwise(lit(0L)).as("d_used"))
    val daily = inc.groupBy(col(dayCol))
      .agg(sum(col("d_dn")).as("d_dn"), sum(col("d_used")).as("d_used"))
    val newKeys = toks.groupBy(col(tokCol))
      .agg(min(col(dayCol)).as(dayCol))
      .groupBy(col(dayCol)).agg(count(lit(1)).as("new_keys"))
    val base = toks.select(col(dayCol)).distinct()
      .join(daily, Seq(dayCol), "left")
      .join(newKeys, Seq(dayCol), "left")
      .select(col(dayCol),
        coalesce(col("d_dn"), lit(0L)).as("d_dn"),
        coalesce(col("d_used"), lit(0L)).as("d_used"),
        coalesce(col("new_keys"), lit(0L)).as("new_keys"))
    val wd = Window.orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.select(col(dayCol),
        sum(col("d_used")).over(wd).as("cum_registers_used"),
        (lit(HllBuckets * HllEmptyTerm) + sum(col("d_dn")).over(wd)).as("__dn"),
        sum(col("new_keys")).over(wd).as("true_cum_distinct"))
      .withColumn("est_cum_distinct",
        expr(s"$HllNum div __dn div $HllDen"))
      .select(col(dayCol), col("cum_registers_used"),
              col("est_cum_distinct"), col("true_cum_distinct"))
  }

  /** ROLLING distinct-count curve — the WAU/MAU-style "distinct keys
    * in the trailing `windowDays` days" for every day, from register
    * algebra: the window union is the per-bucket max over a CALENDAR
    * range frame (rangeBetween on the epoch day number, so a gap day
    * ages old keys out correctly — a rows frame would silently stretch
    * the window across gaps). Unlike the cumulative curve
    * ([[cumulativeDistinct]]) a sliding max does not telescope, so the
    * day×bucket GRID materializes — bounded by calendar × m=256, never
    * by the data (a year is ~93k rows). Exact trailing-window count
    * rides beside the estimate via the explode-forward trick: each
    * (key, day) first-seen-in-window contributes to the next
    * `windowDays` report days — linear, never a range self-join.
    */
  def rollingDistinct(toks: DataFrame, dayCol: String, tokCol: String,
                      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1)
    val spark = toks.sparkSession
    val regs = hllRegisters(toks, dayCol, tokCol)
    val days = toks.select(col(dayCol)).distinct()
    val grid = days
      .crossJoin(broadcast(
        spark.range(HllBuckets).select(col("id").as("bucket"))))
      .join(regs, Seq(dayCol, "bucket"), "left")
      .withColumn("__dn", datediff(col(dayCol), to_date(lit("1970-01-01")))
                            .cast("long"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("__dn"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    val agg = grid
      .withColumn("__mw", max(col("m_reg")).over(w))
      .groupBy(col(dayCol))
      .agg(sum(when(col("__mw").isNull, lit(HllEmptyTerm))
                 .otherwise(expr(
                   "shiftright(CAST(1073741824 AS BIGINT), CAST(__mw AS INT))")))
             .as("__dnsum"),
           sum(when(col("__mw").isNull, 0L).otherwise(1L))
             .as("registers_used"))
      .withColumn("est_window_distinct",
                  expr(s"$HllNum div __dnsum div $HllDen"))
    val truth = toks.select(col(tokCol).as("__k"), col(dayCol)).distinct()
      .select(col("__k"),
              explode(expr(s"sequence(0, ${windowDays - 1})")).as("__off"),
              col(dayCol))
      .select(col("__k"), date_add(col(dayCol), col("__off")).as(dayCol))
      .distinct()
      .join(days, Seq(dayCol), "left_semi")
      .groupBy(col(dayCol)).agg(count(lit(1)).as("true_window_distinct"))
    agg.join(truth, Seq(dayCol))
      .select(col(dayCol), col("registers_used"),
              col("est_window_distinct"), col("true_window_distinct"))
  }

  // ---- frequency sketch (Count-Min, exact algebra) ----

  /** bucket of token t in CMS row j: first 32 bits of md5("j|t") mod w
    * — the SAME column recipe on the build and lookup sides (and in
    * the oracle), or the sketch answers garbage.
    */
  private def cmsBucket(j: Column, tok: Column, w: Int): Column =
    conv(substring(md5(concat_ws("|", j.cast("string"), tok)), 1, 8), 16, 10)
      .cast("long") % w

  /** COUNT-MIN frequency sketch over a token column — the third
    * mergeable sketch of the family ([[lengthHistogram]] distribution,
    * [[distinctSketch]] cardinality, this one per-item frequency): d
    * hash rows × w counters, counter(j, b) = Σ occurrences hashing
    * there. Counters ADD, so the sketch merges across any partitioning
    * (sum — map-side combinable; the shuffle carries ≤ d·w rows at any
    * corpus size) and the point estimate min_j counter(j, bucket_j(t))
    * NEVER under-counts (only hash collisions inflate it) — the
    * one-sided error that makes it the 100 TB "how often does this
    * token/n-gram occur" answer without a per-token shuffle.
    * Expected overestimate ≤ e·T/w per row, beaten d times.
    */
  def cmsSketch(toks: DataFrame, tokCol: String,
                d: Int = 4, w: Int = 1024): DataFrame =
    toks
      .select(col(tokCol).as("__tok"), explode(expr(s"sequence(0, ${d - 1})")).as("j"))
      .withColumn("bucket", cmsBucket(col("j"), col("__tok"), w))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Fold Count-Min sketches — counters are ADDITIVE, so the merged
    * sketch of any batching equals the one-shot sketch exactly (the
    * third mergeable law beside register max and histogram sum) and
    * every estimate served from the folded artifact is bit-identical.
    * ≤ d·w rows per part at any corpus size.
    */
  def mergeCmsSketches(sketches: DataFrame*): DataFrame =
    sketches.reduce(_.unionByName(_))
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point-estimate each probe row's `tokCol` against a built sketch:
    * min over the d rows, 0 when a bucket is empty (left join — an
    * unseen token can still hit only-empty buckets). The sketch side
    * is ≤ d·w rows — broadcast, so probing never shuffles the probe
    * side. Probe rows are assumed DISTINCT (the final group-by keys on
    * all probe columns, so duplicate probe rows collapse to one).
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, tokCol: String,
                  d: Int = 4, w: Int = 1024): DataFrame = {
    val keyed = probes
      .withColumn("j", explode(expr(s"sequence(0, ${d - 1})")))
      .withColumn("bucket", cmsBucket(col("j"), col(tokCol), w))
    keyed
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(probes.columns.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** JOIN-SIZE ESTIMATE from two Count-Min sketches — the optimizer
    * statistic that answers "how big is A ⋈ B on this key" WITHOUT
    * touching either table again: ¦A ⋈ B¦ = Σ_k a_k·b_k, and the CMS
    * row inner product Σ_b cntA(j,b)·cntB(j,b) over-counts it by
    * exactly the colliding cross terms — so the estimate
    * min_j Σ_b cntA·cntB is ONE-SIDED (never under-estimates), the
    * same guarantee [[cmsEstimate]] gives for point frequencies, with
    * expected over-count ¦A¦·¦B¦/w per row. Two d·w-row sketches in,
    * one row out: the planning-time answer at any corpus size.
    */
  def cmsJoinSizeEstimate(sketchA: DataFrame, sketchB: DataFrame): DataFrame = {
    val perJ = sketchA.select(col("j"), col("bucket"), col("cnt").as("__ca"))
      .join(sketchB.select(col("j"), col("bucket"), col("cnt").as("__cb")),
            Seq("j", "bucket"))
      .groupBy(col("j"))
      .agg(sum(col("__ca") * col("__cb")).as("__e"))
    // zero-fill rows whose buckets never collide: an absent bucket is a
    // 0 count, so its row product is 0, and min over the FULL row set
    // must see it — otherwise disjoint key sets return NULL instead of
    // 0 and a single no-collision row silently inflates the min
    sketchA.select(col("j")).distinct()
      .join(perJ, Seq("j"), "left")
      .agg(min(coalesce(col("__e"), lit(0L))).as("est_join_size"))
  }

  /** VOCABULARY COVERAGE CURVE — "how many vocabulary entries cover
    * t% of all token occurrences", the report a tokenizer-budget
    * decision reads. Ranking tokens by frequency and cumulating would
    * need a GLOBAL vocab sort (billions of uniques at 100 TB); the
    * curve only needs the FREQUENCY-OF-FREQUENCIES histogram —
    * tokens with equal frequency are interchangeable in the ranking,
    * so: corpus → vocab (one map-side-combined aggregate) → histogram
    * (f, m tokens each; thousands of rows under any Zipf-ish law) →
    * one tiny single-partition cumulative window. vocab_size_t =
    * full groups above the boundary frequency + the exact partial
    * intake of the boundary group, all in integer algebra:
    * ⌈(t·T − 100·prevMass) / (100·f)⌉ tokens of the boundary f.
    */
  def vocabCoverage(df: DataFrame, textCol: String,
                    thresholds: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = df
      .select(explode(filter(split(lower(col(textCol)), "\\W+"),
                             t => t =!= "")).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("f"))
    val hist = vocab.groupBy(col("f")).agg(count(lit(1)).as("m"))
    // histogram-sized (distinct frequency values) — the single
    // partition is deliberate and bounded
    val byF = Window.orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("cumTok", sum(col("m")).over(byF))
      .withColumn("cumMass", sum(col("f") * col("m")).over(byF))
      .withColumn("total", sum(col("f") * col("m")).over(all))
      .withColumn("prevTok", col("cumTok") - col("m"))
      .withColumn("prevMass", col("cumMass") - col("f") * col("m"))
    cum
      .select(col("*"), explode(typedLit(thresholds)).as("threshold"))
      .filter(lit(100) * col("cumMass") >= col("threshold") * col("total"))
      .withColumn("__k",
        col("prevTok") + expr(
          "(threshold * total - 100 * prevMass + 100 * f - 1) div (100 * f)"))
      .groupBy(col("threshold").cast("long").as("threshold"))
      .agg(min_by(col("__k"), col("cumMass")).as("vocab_size"),
           min_by(col("f"), col("cumMass")).cast("long").as("boundary_freq"),
           max(col("total")).as("total_tokens"))
  }
}
