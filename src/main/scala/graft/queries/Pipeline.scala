package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.chunk.Chunkers
import graft.chunk.Chunkers.{ChunkerConfig, Strategy}
import graft.dedup.Dedup
import graft.embed.Embedding
import graft.io.Tables
import graft.multimodal.Multimodal
import graft.search.{Ann, Search}
import graft.text.{Curation, TextStats}

/** Document-pipeline + training-data-scale queries (SURVEY.md §2.9–§2.13
  * operators and the 100 TB extension surface: dedup, similarity search,
  * multimodal plumbing, text analysis).
  *
  * Oracle-parity rules (same as [[Relational]]):
  *  - all hashes are md5/sha256 hex strings — identical functions exist
  *    in DuckDB, so signatures compare bit-for-bit;
  *  - vector math is quantized to exact integers (round(x·1000)) before
  *    any sum — float summation order can never flip a result;
  *  - derived ints cast to LONG; every query totally ordered.
  *
  * Queries whose semantics are sequential folds or hashing-trick
  * embeddings (sentence/markdown chunkers, the e2e pipeline q36) have
  * no SQL oracle — they are registered without `oracleSql` and the
  * driver records a rows-only check; their exact semantics are pinned by
  * ScalaTest specs instead. Even the LSH ANN probe (q37) and IVF assign
  * (q48) are oracle-checked: their hyperplanes/centroids are plan-time
  * constants baked into generated SQL.
  */
object Pipeline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** PEAK CONCURRENCY — the sweep-line answer to "how many sessions
    * were active at once", per day: +1 at each interval start, −1 at
    * each end (CLOSED intervals: starts order before ends at the same
    * tick), running sum, max. The naive interval-overlap self-join is
    * quadratic in a hot hour; the sweep is linear — and it
    * distributes: partition the sweep by DAY, and feed each day the
    * CARRY-IN (the net of all prior days' deltas, a day-count-sized
    * running sum — tiny, broadcast back), so sessions crossing
    * midnight stay counted. No global sort anywhere; within exact
    * (ts, delta) ties the per-row partial sums are engine-dependent
    * but the per-day max and its earliest timestamp are invariant.
    * Input: `(start_us, end_us)` closed intervals in epoch µs.
    */
  def peakConcurrency(intervals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = intervals
      .select(col("start_us").as("ts"), lit(1L).as("delta"))
      .union(intervals.select(col("end_us").as("ts"), lit(-1L).as("delta")))
      .withColumn("day", expr("ts div 86400000000"))
    val carry = bounds.groupBy(col("day")).agg(sum(col("delta")).as("__dd"))
      // day-count-sized single-partition window — bounded, deliberate
      .withColumn("carry",
        coalesce(sum(col("__dd")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("carry"))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("ts").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds.join(broadcast(carry), Seq("day"))
      .withColumn("run", col("carry") + sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(max(struct(col("run"), (-col("ts")).as("nts"))).as("__m"))
      .select(col("day"), col("__m.run").as("peak"),
              (-col("__m.nts")).as("peak_at_us"))
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view merge:
    * a stored per-(day, type) aggregate table absorbs a new day's
    * PARTIALS by union + re-aggregate over (count, cents-sum) — both
    * mergeable, so the refresh never touches historical raw data: at
    * 100 TB the nightly job reads yesterday's events and k rows of
    * stored aggregates, not the archive. Money in cents (exact
    * integers), day as an epoch-µs day index; the merge is
    * associative, so increments chain across any number of batches.
    * Here the split point is the corpus' max day (broadcast 1-row),
    * standing in for "the stored table" vs "tonight's batch"; the
    * oracle recomputes the whole aggregate directly from raw events —
    * merge algebra vs direct algebra.
    */
  def incrementalEventAgg(events: DataFrame): DataFrame = {
    val ev = events
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("cents", round(col("value") * lit(100.0)).cast("long"))
    val keyed = ev.crossJoin(broadcast(ev.agg(max(col("day")).as("__maxd"))))
    def partials(df: DataFrame) = df.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_value_cents"))
    partials(keyed.filter(col("day") < col("__maxd")))
      .union(partials(keyed.filter(col("day") === col("__maxd"))))
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"),
           sum(col("sum_value_cents")).as("sum_value_cents"))
  }

  /** ORDERED CONVERSION FUNNEL over an event stream: per user, the
    * first view, the first click strictly after it, the first
    * purchase strictly after that — the stage counts an analytics
    * pipeline reads as "conversion". ONE shuffle (the user
    * partition): the three stage times STACK as window aggregates
    * over the same partitioning — each later stage's conditional min
    * reads the earlier stage's column, so no self-joins and no extra
    * exchanges; the final 3-row report is one tiny aggregate.
    */
  def eventFunnel(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("tv",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tc",
        min(when(col("event_type") === "click" && col("ts") > col("tv"),
                 col("ts"))).over(w))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" && col("ts") > col("tc"),
                 col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("tv")).as("tv"), max(col("tc")).as("tc"),
           max(col("tp")).as("tp"))
      .agg(count(col("tv")).as("n1"), count(col("tc")).as("n2"),
           count(col("tp")).as("n3"))
      .select(explode(map(
        lit("1_view"), col("n1"),
        lit("2_click"), col("n2"),
        lit("3_purchase"), col("n3"))).as(Seq("stage", "n_users")))
  }

  /** VALUE-OUTLIER gate — the ingest-monitoring anomaly flag: events
    * whose value sits more than `sigmas` standard deviations from
    * their type's mean. The z-test is algebraically cleared of both
    * the division and the square root:
    *
    *   |v − μ| > σ·s  ⟺  (n·v − S)² > s²·(n·Q − S²)
    *
    * with S = Σv, Q = Σv² per type over integer cents — EXACT integer
    * decimal(38,0) algebra, no float variance drift, engine-portable.
    * Degenerate groups are safe by construction: constant values or a
    * single row give 0 > 0 = false.
    *
    * Plan shape for 100 TB: per-type (n, S, Q) is ONE map-side
    * aggregate to k rows, broadcast back onto the scan — the corpus
    * never shuffles. The per-row terms are cast to decimal BEFORE the
    * sums so S and Q accumulate in decimal(38,0) from the first row (a
    * LongType Σv² wraps silently near 10^9 rows of 10^5 cents); with
    * decimal accumulation the squared terms stay inside 38 digits up
    * to ~10^12 events of ~10^5 cents.
    */
  def valueOutliers(events: DataFrame, typeCol: String, valueCol: String,
                    sigmas: Int = 3, idCol: String = "event_id"): DataFrame = {
    val dec = "decimal(38,0)"
    val withC = events.withColumn("cents",
      round(col(valueCol) * 100).cast("long"))
    val centsDec = col("cents").cast(dec)
    val stats = withC.groupBy(col(typeCol))
      .agg(count(lit(1)).cast(dec).as("__n"),
           sum(centsDec).as("__s"),
           sum(centsDec * centsDec).as("__q"))
    val dev = col("__n") * col("cents").cast(dec) - col("__s")
    withC.join(broadcast(stats), Seq(typeCol))
      .filter(dev * dev >
              lit(sigmas.toLong * sigmas).cast(dec) *
                (col("__n") * col("__q") - col("__s") * col("__s")))
      .select(col(idCol), col(typeCol), col("cents"))
  }

  /** EXACT GROUPED QUANTILES — p25/p50/p75 of integer cents per event
    * type by RANK SELECTION: the value at 1-based sorted position
    * ⌈p·n⌉ (row_number over the type partition; duplicate values make
    * any tie permutation pick the same VALUE, so the result is
    * deterministic). This is the reproducible-by-construction exact
    * quantile `percentile_approx`'s GK sketch cannot give — and the
    * oracle checks it with DuckDB's `quantile_disc`, a DIFFERENT
    * algorithm (aggregate selection) that shares only the ⌈p·n⌉
    * convention. One type-partition shuffle; the final report is
    * k rows.
    */
  def groupedQuantiles(events: DataFrame, typeCol: String,
                       valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the window runs on the POST-select names — partitioning by
    // col(typeCol) would fail to resolve for any typeCol the select
    // just renamed away
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
    events
      .select(col(typeCol).as("event_type"),
              round(col(valueCol) * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
           max(when(col("rn") === expr("(1*n + 3) div 4"), col("cents")))
             .as("p25_cents"),
           max(when(col("rn") === expr("(2*n + 3) div 4"), col("cents")))
             .as("p50_cents"),
           max(when(col("rn") === expr("(3*n + 3) div 4"), col("cents")))
             .as("p75_cents"))
  }

  /** LAST-TOUCH ATTRIBUTION — each purchase credits the most recent
    * preceding click/view by the same user; purchases with no prior
    * touch report as 'none'. ONE user-partitioned window (`last …
    * ignoreNulls` over the STRICT past — the purchase row itself can
    * never self-attribute) then a marketing-channel-sized aggregate.
    * Ties on ts break by event_id: a total order both engines agree
    * on. Exact integer cents.
    */
  def lastTouchAttribution(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("__src",
        last(when(col("event_type").isin("click", "view"),
                  col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("__src"), lit("none")).as("attributed_to"))
      .agg(count(lit(1)).as("n_purchases"),
           sum(round(col("value") * 100).cast("long")).as("cents"))
  }

  /** 7-DAY MOVING REVENUE — the RANGE-frame rolling window: the frame
    * is 6 PRECEDING over the day NUMBER, so calendar gaps SHRINK the
    * frame (a missing day contributes nothing) instead of silently
    * widening the lookback the way a ROWS frame does. Exact integer
    * cents; the moving average is floor(sum7 / days-present).
    *
    * Plan shape for 100 TB: the corpus reduces map-side to |days| rows
    * FIRST; the frame runs on that bounded table — a deliberate
    * bounded single-partition window, the same contract as the
    * vocab-coverage curve (q102). Never a per-event window.
    */
  def movingDailyRevenue(events: DataFrame, windowDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
    val w = Window.orderBy(col("day_num")).rangeBetween(-(windowDays - 1), 0)
    daily
      .withColumn("cents_7d", sum(col("cents")).over(w))
      .withColumn("days_present", count(lit(1)).over(w))
      .withColumn("avg_cents_7d", expr("cents_7d div days_present"))
      .select(col("day"), col("cents"), col("cents_7d"),
              col("days_present"), col("avg_cents_7d"))
  }

  /** CUSUM DRIFT SCAN — where did the daily-revenue level shift? The
    * classic changepoint statistic: the cumulative deviation from the
    * global mean, C_k = Σ_{i≤k}(x_i − μ), peaks at the day the level
    * changes; its arg-max is the standard single-changepoint estimate.
    * Computed DIVISION-FREE by scaling through n: n·C_k = n·cum_k −
    * k·S — exact integers, engine-portable (μ never materializes as a
    * rational). Output is the full per-day trace (cum, scaled |dev|)
    * plus a 0/1 flag on the arg-max row (ties → earliest day): the
    * monitoring report, not just the answer.
    *
    * Plan shape: the corpus reduces map-side to ¦days¦ rows FIRST; all
    * windows run on that bounded table — the deliberate bounded
    * single-partition window, q102/q115's contract. Headroom: dev ≤
    * days² · max-daily-cents must stay under 9.2·10^18 — ~3·10^4 days
    * (80 years) of up to 10^10 cents/day ($100M). Beyond that, scale
    * the trace to coarser money units before the scan.
    */
  def cusumDrift(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val byDay = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("k", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .withColumn("cum_cents", sum(col("cents")).over(byDay))
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("__s", sum(col("cents")).over(whole))
      .withColumn("dev",
        abs(col("__n") * col("cum_cents") - col("k") * col("__s")))
      .withColumn("__mx", max(col("dev")).over(whole))
      .withColumn("__peak",
        min(when(col("dev") === col("__mx"), col("day"))).over(whole))
      .withColumn("is_changepoint",
        when(col("day") === col("__peak"), 1L).otherwise(0L))
      .select(col("day"), col("k"), col("cents"), col("cum_cents"),
              col("dev"), col("is_changepoint"))
  }

  /** q36's persisted vector intermediate, keyed by (a) a hash of this
    * checkout's canonical path — two concurrent verify runs from
    * different checkouts on one box must not overwrite each other's
    * intermediate mid-compare — and (b) the sf-dir basename (a run at
    * another SF must not clobber the verify-run sf0.01 file). The same
    * function builds the `read_parquet` path in the q36 oracle SQL, so
    * Spark writer and DuckDB reader can never disagree.
    */
  private lazy val q36Root: String = {
    val checkout = new java.io.File(".").getCanonicalPath
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(checkout.getBytes("UTF-8"))
    val h = digest.take(4).map(b => f"$b%02x").mkString
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp").stripSuffix("/")
    s"$tmp/graft_q36_$h"
  }
  private def q36VectorsPath(sfDir: String): String =
    s"$q36Root/${new java.io.File(sfDir).getName}/vectors.parquet"

  /** q133/q134's persisted MinHash signature table — the stored LSH
    * index the clustering family probes instead of re-shingling the
    * corpus (same checkout-hash + sf-basename keying as q36's
    * intermediate). Built at most ONCE PER JVM per sf dir (the
    * in-memory marker, not on-disk presence, gates the rebuild — a
    * leftover table from an earlier JVM over regenerated testdata must
    * never serve stale signatures), so within a bench run the first
    * sample pays the build and the median times the probe-from-stored
    * path — the posture a production clustering run has.
    */
  private def sigStorePath(sfDir: String): String =
    s"$q36Root/${new java.io.File(sfDir).getName}/minhash_sigs.parquet"
  private val builtSigStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def storedSigs(s: SparkSession, sfDir: String): DataFrame = {
    val path = sigStorePath(sfDir)
    builtSigStores.synchronized {
      if (!builtSigStores.contains(path)) {
        Dedup.minhashSignatures(t(s, sfDir, "documents"), "doc_id", "text",
                                nBands = 4)
          .write.mode("overwrite").parquet(path)
        builtSigStores.add(path)
      }
    }
    s.read.parquet(path)
  }

  /** q175's persisted POSTINGS index + norms sidecar — the stored
    * lexical-serving twin of q89's inline scan (same build-once-per-JVM
    * gating as the signature store): the first sample pays the index
    * build, the bench median times the pruned probe — the posture a
    * production lexical tier has (Lucene's inverted index + norms).
    */
  private def postingsStorePath(sfDir: String): String =
    s"$q36Root/${new java.io.File(sfDir).getName}/bm25_postings.idx"
  private val builtPostingsStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def storedPostingsPath(s: SparkSession, sfDir: String): String = {
    val path = postingsStorePath(sfDir)
    builtPostingsStores.synchronized {
      if (!builtPostingsStores.contains(path)) {
        Search.writePostings(t(s, sfDir, "documents"), "doc_id", "text",
                             path, nBuckets = 64)
        builtPostingsStores.add(path)
      }
    }
    path
  }

  /** q141's persisted TRAINED IVF-PQ index — the stored-serving twin
    * of q138's in-memory stack: the same deterministic trainers feed
    * [[graft.search.Ann.ivfPqWriteIndex]], and the probe runs through
    * the on-disk scan/fetch split ([[graft.search.Ann.ivfPqTopKStored]]).
    * Built at most once per JVM per sf dir (same in-memory gating as
    * the signature store); the trained quantizers are cached WITH the
    * build — both trainers are deterministic, so a rebuild would
    * reproduce them bit-for-bit, and the cache only spares the bench
    * medians the retrain cost so they time the stored probe.
    */
  private def trainedIdxPath(sfDir: String): String =
    s"$q36Root/${new java.io.File(sfDir).getName}/trained_ivfpq.idx"
  private val builtTrainedIdx =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Seq[(Long, Seq[Long])], Seq[(Long, Seq[Long])])]()
  private def trainedIndex(s: SparkSession, sfDir: String)
      : (String, Seq[(Long, Seq[Long])], Seq[(Long, Seq[Long])]) = {
    val path = trainedIdxPath(sfDir)
    val (cents, books) = builtTrainedIdx.synchronized {
      Option(builtTrainedIdx.get(path)).getOrElse {
        val e = t(s, sfDir, "embeddings")
        // both trainers read the SAME (id, intVec) projection — pin it
        // once (one corpus quantize pass, not one per trainer)
        val (cents, books) = Ann.withIntVec(e, "vec_id", "embedding") { iv =>
          (Ann.kmeansFitInt(iv, k = 8, rounds = 2),
           Ann.pqTrainInt(iv, k = 8, rounds = 2))
        }
        Ann.ivfPqWriteIndex(e, "vec_id", "embedding", cents, books, path)
        builtTrainedIdx.put(path, (cents, books))
        (cents, books)
      }
    }
    (path, cents, books)
  }

  /** q182's persisted BOOST MODEL — the stored-serving twin of q163's
    * inline train-then-score (same build-once-per-JVM gating as the
    * signature store): the first sample pays q131's two training
    * rounds and persists the trace + base prediction
    * ([[graft.learn.Learn.boostTrainModel]]); the bench median times
    * INFERENCE under the stored artifact — the posture a production
    * scoring pass has (train once, score per batch).
    */
  private def boostModelPath(sfDir: String): String =
    s"$q36Root/${new java.io.File(sfDir).getName}/boost_model.parquet"
  private val builtBoostModels =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def storedBoostModel(s: SparkSession, sfDir: String): DataFrame = {
    val path = boostModelPath(sfDir)
    builtBoostModels.synchronized {
      if (!builtBoostModels.contains(path)) {
        // tmp + checked-rename commit (Tables.commitArtifact), not a
        // bare Overwrite to the final path: q36Root persists across
        // JVMs, and a crash mid-Overwrite would leave a half-written
        // model a LATER JVM's exists()-style gate could silently read
        graft.io.Tables.commitArtifact(path) { tmp =>
          graft.learn.Learn.boostTrainModel(
              boostEventFeatures(s, sfDir),
              Seq("user_mod7", "hour_of_day"), "cents", rounds = 2)
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        }
        builtBoostModels.add(path)
      }
    }
    s.read.parquet(path)
  }

  /** The q131/q163/q182 feature frame — one definition so the trained
    * and served models see the identical input.
    */
  private def boostEventFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      expr("user_id % 7").cast("long").as("user_mod7"),
      hour(col("ts")).cast("long").as("hour_of_day"),
      round(col("value") * 100).cast("long").as("cents"))

  /** q185/q186's persisted INCREMENTAL PROFILE STATE — the mergeable
    * sketch artifacts (HLL register state, log2 length histogram)
    * maintained the way a 100 TB deployment would: the corpus arrives
    * in batches (split here by the engine's md5 bucket of doc_id) and
    * each batch's DELTA folds into the stored state (register max /
    * count sum — both exact), read-back → merge → rewrite, never a
    * rescan of history. Built once per JVM per sf dir; the queries
    * serve the REPORT from the stored state, and the oracles are the
    * one-shot q90/q87 SQL VERBATIM — incremental maintenance must be
    * indistinguishable from a full recompute.
    */
  private def profileStateRoot(sfDir: String): String =
    s"$q36Root/${new java.io.File(sfDir).getName}"
  private val builtProfileStates =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def storedProfileState(s: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val root = profileStateRoot(sfDir)
    val sketchPath = s"$root/sketch_state.parquet"
    val histPath = s"$root/length_hist.parquet"
    val cmsPath = s"$root/cms_state.parquet"
    val vocabPath = s"$root/vocab_state.parquet"
    builtProfileStates.synchronized {
      if (!builtProfileStates.contains(root)) {
        val docs = t(s, sfDir, "documents")
          .withColumn("__batch", graft.dedup.Dedup.hashBucket(col("doc_id"), 3))
        (0 to 2).foreach { b =>
          val batch = docs.filter(col("__batch") === b)
          val toks = batch.select(
            col("source"),
            explode(filter(split(lower(coalesce(col("text"), lit(""))), "\\W+"),
                           t => t =!= "")).as("__tok"))
          val deltaSketch = graft.text.Profile.sketchState(toks, "source", "__tok")
          val deltaHist = graft.text.Profile.lengthHistogram(batch, "source", "n_chars")
          val deltaCms = graft.text.Profile.cmsSketch(
            toks.select(col("__tok").as("token")), "token")
          val deltaVocab = graft.text.TextStats.termFrequencies(batch, "text")
          // read stored + merge delta + rewrite — the per-ingest loop;
          // step-versioned paths so a write never reads its own input
          val (ns, nh, nc, nv) = (s"$sketchPath.step$b", s"$histPath.step$b",
                                  s"$cmsPath.step$b", s"$vocabPath.step$b")
          if (b == 0) {
            deltaSketch.write.mode("overwrite").parquet(ns)
            deltaHist.write.mode("overwrite").parquet(nh)
            deltaCms.write.mode("overwrite").parquet(nc)
            deltaVocab.write.mode("overwrite").parquet(nv)
          } else {
            graft.text.Profile.mergeSketchStates("source",
                s.read.parquet(s"$sketchPath.step${b - 1}"), deltaSketch)
              .write.mode("overwrite").parquet(ns)
            graft.text.Profile.mergeHistograms("source",
                s.read.parquet(s"$histPath.step${b - 1}"), deltaHist)
              .write.mode("overwrite").parquet(nh)
            graft.text.Profile.mergeCmsSketches(
                s.read.parquet(s"$cmsPath.step${b - 1}"), deltaCms)
              .write.mode("overwrite").parquet(nc)
            // term frequencies are additive — the zipf family's
            // mergeable representation (vocabulary-sized, never corpus)
            s.read.parquet(s"$vocabPath.step${b - 1}").unionByName(deltaVocab)
              .groupBy(col("term")).agg(sum(col("freq")).as("freq"))
              .write.mode("overwrite").parquet(nv)
          }
        }
        // commit by OVERWRITE-rewrite of the tiny final state (≤256
        // register rows/group), not renameTo: a second JVM over the
        // same persistent q36Root already has the final path on disk,
        // and a POSIX rename onto a non-empty dir silently fails —
        // the repo convention is checked renames or overwrite writes
        (0 to 2).foreach { step =>
          Seq(sketchPath, histPath, cmsPath, vocabPath).foreach { base =>
            val (src, dst) = (s"$base.step$step", base)
            if (step == 2)
              s.read.parquet(src).write.mode("overwrite").parquet(dst)
            graft.io.Tables.rmTree(new java.io.File(src))
          }
        }
        builtProfileStates.add(root)
      }
    }
    (s.read.parquet(sketchPath), s.read.parquet(histPath),
     s.read.parquet(cmsPath), s.read.parquet(vocabPath))
  }

  /** The q93/q187 probe derivation — ONE copy of the token explode and
    * the exact top-20 (count desc, token asc), shared by the one-shot
    * and stored-serving forms so the "indistinguishable" contract the
    * shared oracle enforces cannot drift between them. Returns
    * (toks, top).
    */
  private def cmsHeavyHitterProbes(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val toks = t(s, dir, "documents").select(
      explode(filter(split(lower(col("text")), "\\W+"), x => x =!= ""))
        .as("token"))
    val top = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("token").asc)
      .limit(20)
    (toks, top)
  }

  /** q36 persists its quantized-embedding intermediate ONLY on the
    * verify path ([[graft.Verify]] sets this property in-JVM before
    * running queries). Bench and plan tests skip the corpus-sized
    * parquet export and run the identical kNN over the in-memory
    * quantized DataFrame — the roundtrip through parquet is value-exact
    * for floats, so the two forms return the same rows.
    */
  private[graft] val Q36PersistProp = "graft.q36.persist"

  /** q36's query embedding on the same exact 1e-3 integer grid as the
    * persisted chunk vectors. HALF_UP matches both Spark's `round` and
    * DuckDB's `round` (half away from zero) — `math.round` would round
    * exact halves toward +∞ instead and disagree on negatives.
    */
  private lazy val q36QueryVec: Seq[Long] =
    Embedding.embedQuery("spark query engine performance", "nomic").toSeq
      .map(x => BigDecimal(x.toDouble * 1000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)

  /** Deterministic IVF coarse centroids for q48/q51: per-label integer
    * means, floor(sum/n) on the 1e-3 grid — exactly re-derivable by a
    * SQL oracle with no training replay (q135 replays the trainer). The
    * collect is a k-row aggregate (k = #labels): broadcast-small-side.
    */
  private[graft] def labelCentroids(e: DataFrame): Seq[(Long, Seq[Long])] =
    e.select(col("label").cast("long").as("label"),
             Ann.intVec(col("embedding")).as("iv"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
           graft.functions.VectorAggregates.vecSum(64)(col("iv")).as("cs"))
      .orderBy(col("label"))
      .collect()
      .map(r => (r.getLong(0),
                 r.getSeq[Long](2).map(x => Math.floorDiv(x, r.getLong(1)))))
      .toSeq

  /** One Lloyd's round as oracle SQL (q135/q136): `dist$r` = exact
    * integer L2² of every (vector, centroid) pair against the previous
    * round's `$prev` centroids, `asg$r` = the argmin assignment (ties
    * to the smallest cell — Spark's struct array_min convention),
    * `upd$r`/`cen$r` = per-dimension floor-mean update with emptied
    * cells keeping their previous centroid (the UNION branch). Mirrors
    * [[graft.search.Ann.kmeansFitInt]] step for step.
    */
  /** One Lloyd's round as DuckDB CTEs. `tag` prefixes every emitted
    * CTE name (dist/asg/upd/cen) so TWO independent trainings can
    * coexist in one statement (the q142 drift oracle); the default
    * empty tag keeps every earlier oracle byte-identical.
    */
  private def kmeansRoundSql(r: Int, prev: String,
                             src: String = "iv", tag: String = ""): String =
    s"""dist$tag$r AS (
          SELECT iv.vec_id, iv.v, c.cell,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> (iv.v[i]-c.cv[i])*(iv.v[i]-c.cv[i]))) AS BIGINT) AS d2
          FROM $src iv CROSS JOIN $prev c),
        asg$tag$r AS (
          SELECT vec_id, v, cell FROM (
            SELECT vec_id, v, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cell ASC) AS rn
            FROM dist$tag$r) WHERE rn = 1),
        upd$tag$r AS (
          SELECT cell, i, CAST(sum(v[i]) AS BIGINT) AS s, count(*) AS n
          FROM asg$tag$r, dimsq GROUP BY cell, i),
        cen$tag$r AS (
          SELECT cell, list(CAST(floor(CAST(s AS DOUBLE)/n) AS BIGINT)
                            ORDER BY i) AS cv
          FROM upd$tag$r GROUP BY cell
          UNION ALL
          SELECT cell, cv FROM $prev
          WHERE cell NOT IN (SELECT DISTINCT cell FROM asg$tag$r))"""

  /** The trainer oracles' shared base CTEs: the 1e-3 integer grid and
    * the 64-dim index table. [[KmeansCtes]], [[PqTrainCtes]] and the
    * composed q138 prefix all start here so the grid exists ONCE.
    */
  private lazy val TrainBaseCtes: String =
    """iv AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
          FROM embeddings),
        dimsq AS (SELECT unnest(generate_series(1, 64)) AS i)"""

  /** Coarse-trainer tail (q135/q136): deterministic seed centroids
    * (cells 0..7 = the 8 smallest vec_ids) and two Lloyd's rounds.
    */
  private lazy val KmeansTailCtes: String =
    s"""cen0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
                 v AS cv
          FROM (SELECT vec_id, v FROM iv ORDER BY vec_id LIMIT 8)),
        ${kmeansRoundSql(1, "cen0")},
        ${kmeansRoundSql(2, "cen1")}"""

  /** Shared oracle prefix for q135/q136. */
  private lazy val KmeansCtes: String =
    s"WITH $TrainBaseCtes,\n        $KmeansTailCtes"

  /** One per-subspace Lloyd's round as oracle SQL (q137): the same
    * argmin/floor-mean/empty-keep algebra as [[kmeansRoundSql]], run
    * over the exploded (vec_id, sub, 8-dim slice) table with every
    * window/group partitioned by `sub` — all m codebooks advance in
    * one pass, mirroring [[graft.search.Ann.pqTrainInt]].
    */
  private def pqTrainRoundSql(r: Int, prev: String): String =
    s"""pdist$r AS (
          SELECT i.vec_id, i.sub, i.s, c.cell,
                 CAST(list_sum(list_transform(generate_series(1, 8),
                   j -> (i.s[j]-c.cv[j])*(i.s[j]-c.cv[j]))) AS BIGINT) AS d2
          FROM ivs i JOIN $prev c ON c.sub = i.sub),
        pasg$r AS (
          SELECT vec_id, sub, s, cell FROM (
            SELECT vec_id, sub, s, cell,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2 ASC, cell ASC) AS rn
            FROM pdist$r) WHERE rn = 1),
        pupd$r AS (
          SELECT sub, cell, j, CAST(sum(s[j]) AS BIGINT) AS sm, count(*) AS n
          FROM pasg$r, sdim GROUP BY sub, cell, j),
        pcen$r AS (
          SELECT sub, cell, list(CAST(floor(CAST(sm AS DOUBLE)/n) AS BIGINT)
                                 ORDER BY j) AS cv
          FROM pupd$r GROUP BY sub, cell
          UNION ALL
          SELECT p.sub, p.cell, p.cv FROM $prev p
          WHERE NOT EXISTS (SELECT 1 FROM pasg$r a
                            WHERE a.sub = p.sub AND a.cell = p.cell))"""

  /** PQ-trainer tail (q137): the exploded per-subspace slice table,
    * per-subspace seeds (the 8 smallest vec_ids' slices), and two
    * per-subspace Lloyd's rounds.
    */
  private lazy val PqTrainTailCtes: String =
    s"""subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
        sdim AS (SELECT unnest(generate_series(1, 8)) AS j),
        ivs AS (
          SELECT vec_id, sub,
                 list_transform(generate_series(1, 8), j -> v[sub*8 + j]) AS s
          FROM iv, subs),
        pcen0 AS (
          SELECT sub,
                 CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                      AS BIGINT) AS cell,
                 s AS cv
          FROM (SELECT vec_id, sub, s FROM ivs
                WHERE vec_id IN (SELECT vec_id FROM iv ORDER BY vec_id LIMIT 8))),
        ${pqTrainRoundSql(1, "pcen0")},
        ${pqTrainRoundSql(2, "pcen1")}"""

  /** Shared oracle prefix for q137. */
  private lazy val PqTrainCtes: String =
    s"WITH $TrainBaseCtes,\n        $PqTrainTailCtes"

  /** Composed oracle prefix for q138: BOTH trainers' final tables
    * (`cen2` coarse centroids, `pcen2` per-subspace codebooks) over
    * one shared integer grid.
    */
  private lazy val TrainedStackCtes: String =
    s"WITH $TrainBaseCtes,\n        $KmeansTailCtes,\n        $PqTrainTailCtes"

  /** The full trained-stack search oracle (q80's prune → ADC → re-rank
    * replay over cen2/pcen2, both trainers' final tables) — shared
    * VERBATIM by q138 (in-memory) and q141 (stored index): the serving
    * tier must be indistinguishable from the in-memory stack.
    */
  /** The q109 phrase oracle — shared VERBATIM by q109 (inline scan)
    * and q181 (stored postings serving): a correct phrase index is
    * indistinguishable from the scan.
    */
  private lazy val PhraseSearchOracle: String =
    """WITH c AS (
           SELECT doc_id,
                  ' ' || replace(trim(regexp_replace(lower(text), '\W+', ' ', 'g')),
                                 ' ', '  ') || ' ' AS s
           FROM documents),
         m AS (
           SELECT doc_id, s, strpos(s, ' table  scan ') AS q,
                  (length(s) - length(replace(s, ' table  scan ', '')))
                    // length(' table  scan ') AS n_occ
           FROM c)
         SELECT doc_id, CAST(n_occ AS BIGINT) AS n_occurrences,
                CAST((q - 1 - length(replace(substr(s, 1, CAST(q AS INT) - 1),
                                             ' ', ''))) // 2 + 1 AS BIGINT)
                  AS first_pos
         FROM m WHERE n_occ > 0 ORDER BY doc_id"""

  /** The q93 CMS heavy-hitters oracle — shared VERBATIM by q93
    * (one-shot sketch) and q187 (probes against the incrementally-
    * folded STORED counter state): counters are additive, any batching
    * folds exactly.
    */
  private def cmsHeavyHittersOracleSql(src: String): String =
    s"""WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                      t -> t <> '')) AS token
            FROM $src),
          sketch AS (
            SELECT j.j,
                   CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || '|' || token), 1, 8)
                        AS BIGINT) % 1024 AS bucket,
                   count(*) AS cnt
            FROM toks, (SELECT unnest(generate_series(0, 3)) AS j) j
            GROUP BY 1, 2),
          top AS (
            SELECT token, count(*) AS true_cnt
            FROM toks GROUP BY token
            ORDER BY true_cnt DESC, token ASC LIMIT 20),
          probed_keys AS (
            SELECT t.token, t.true_cnt, j.j,
                   CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || '|' || t.token), 1, 8)
                        AS BIGINT) % 1024 AS bucket
            FROM top t, (SELECT unnest(generate_series(0, 3)) AS j) j),
          probed AS (
            SELECT k.token, k.true_cnt, min(coalesce(s.cnt, 0)) AS est_cnt
            FROM probed_keys k
            LEFT JOIN sketch s ON s.j = k.j AND s.bucket = k.bucket
            GROUP BY k.token, k.true_cnt)
          SELECT token, CAST(true_cnt AS BIGINT) AS true_cnt,
                 CAST(est_cnt AS BIGINT) AS est_cnt
          FROM probed ORDER BY true_cnt DESC, token ASC"""

  private lazy val CmsHeavyHittersOracle: String =
    cmsHeavyHittersOracleSql("documents")

  /** The q87 length-profile oracle — shared VERBATIM by q87 (one-shot
    * histogram) and q186 (quantiles off the incrementally-folded
    * STORED histogram): additive counts make any batching exact.
    */
  private def lengthProfileOracleSql(src: String): String =
    s"""WITH h AS (
           SELECT source, CAST(length(bin(greatest(n_chars, 1))) AS BIGINT) AS b,
                  count(*) AS c
           FROM $src GROUP BY 1, 2),
         cum AS (
           SELECT source, b, c,
                  sum(c) OVER (PARTITION BY source ORDER BY b) AS cum,
                  sum(c) OVER (PARTITION BY source) AS n
           FROM h)
         SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
                (CAST(1 AS BIGINT) <<
                 (CAST(min(CASE WHEN cum * 100 >= n * 50 THEN b END) AS INT) - 1)) AS p50_lb,
                (CAST(1 AS BIGINT) <<
                 (CAST(min(CASE WHEN cum * 100 >= n * 90 THEN b END) AS INT) - 1)) AS p90_lb,
                (CAST(1 AS BIGINT) <<
                 (CAST(min(CASE WHEN cum * 100 >= n * 99 THEN b END) AS INT) - 1)) AS p99_lb
         FROM cum GROUP BY source ORDER BY source"""

  private lazy val LengthProfileOracle: String =
    lengthProfileOracleSql("documents")

  /** The q169 zipf-slope oracle — shared VERBATIM by q169 (one-shot
    * corpus tokenize) and q190 (slope served from the incrementally-
    * folded STORED term-frequency table): term counts are additive, so
    * any batching of the vocab fold is exact and the top-64 regression
    * replays bit-for-bit.
    */
  private lazy val ZipfSlopeOracle: String =
    s"""WITH RECURSIVE tf AS (
            SELECT t AS term, count(*) AS freq
            FROM (SELECT unnest(list_filter(
                    string_split_regex(text, '\\s+'), x -> x <> '')) AS t
                  FROM documents)
            GROUP BY 1),
          top AS (
            SELECT term, freq,
                   row_number() OVER (ORDER BY freq DESC, term) AS rank
            FROM tf
            QUALIFY rank <= 64),
          xs AS (
            SELECT 'r' || rank AS k, CAST(rank AS BIGINT) AS x FROM top
            UNION ALL
            SELECT 'f' || rank, CAST(freq AS BIGINT) FROM top),
          ${graft.functions.FixedPoint.oracleLog2Cte("xs", "k", "x", "l2")},
          pts AS (
            SELECT lr.l2 AS lx, lf.l2 AS ly
            FROM top t
            JOIN __l2 lr ON lr.k = 'r' || t.rank
            JOIN __l2 lf ON lf.k = 'f' || t.rank)
          SELECT CAST(count(*) AS BIGINT) AS n_terms,
                 CAST(count(*) * sum(lx*ly) - sum(lx) * sum(ly) AS BIGINT)
                   AS slope_num,
                 CAST(count(*) * sum(lx*lx) - sum(lx) * sum(lx) AS BIGINT)
                   AS slope_den
          FROM pts"""

  /** The engine's md5 doc-id bucket (q58's convention) as a DuckDB
    * subquery source — `documents` minus batch 2 of the 3-way split,
    * the REMAINING corpus the subtractive-fold queries (q188/q189)
    * must reproduce exactly.
    */
  private val DocsMinusBatch2: String =
    """(SELECT * FROM documents
        WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 3 <> 2) d"""

  /** The q90 distinct-sketch oracle — shared VERBATIM by q90 (one-shot
    * registers) and q185 (the report off the incrementally-folded
    * STORED register state): register max-merge is exact (the HLL
    * mergeability theorem), occurrence counts are additive.
    */
  private lazy val DistinctSketchOracle: String =
    s"""WITH toks AS (
            SELECT source,
                   unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                      t -> t <> '')) AS tok
            FROM documents),
          h AS (
            SELECT source,
                   CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) AS bucket,
                   CAST('0x' || substr(md5(tok), 3, 8) AS BIGINT) AS v
            FROM toks),
          r AS (
            SELECT source, bucket,
                   max(CASE WHEN v = 0 THEN 33
                            ELSE 33 - length(bin(v)) END) AS m_reg,
                   count(*) AS occ
            FROM h GROUP BY 1, 2),
          agg AS (
            SELECT source, sum(occ) AS n_tokens, count(*) AS registers_used,
                   sum(${graft.text.Profile.HllEmptyTerm} >> CAST(m_reg AS INT)) AS dn
            FROM r GROUP BY source)
          SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(registers_used AS BIGINT) AS registers_used,
                 CAST(${graft.text.Profile.HllNum}
                        // (dn + (256 - registers_used) * ${graft.text.Profile.HllEmptyTerm})
                        // ${graft.text.Profile.HllDen} AS BIGINT) AS est_distinct
          FROM agg ORDER BY source"""

  /** The q39 text-match oracle — shared VERBATIM by q39 (inline
    * corpus scan) and q183 (stored postings serving): a correct index
    * probe is indistinguishable from the scan.
    */
  private lazy val TextMatchOracle: String =
    """SELECT doc_id FROM documents
       WHERE list_has_any(
         list_distinct(list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '')),
         ['stream', 'window'])
       ORDER BY doc_id"""

  /** The q89 BM25 log-IDF oracle — shared VERBATIM by q89 (inline
    * corpus scan) and q175 (stored postings + norms serving): a
    * correct index server is indistinguishable from the scan.
    */
  private lazy val Bm25LogOracle: String =
    s"""WITH RECURSIVE toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\W+'),
                               t -> t <> '') AS toks
            FROM documents),
          base AS (
            SELECT doc_id, len(toks) AS dl,
                   len(list_filter(toks, t -> t = 'stream')) AS tf0,
                   len(list_filter(toks, t -> t = 'window')) AS tf1
            FROM toks),
          stats AS (
            SELECT sum(dl) AS T, count(*) AS N,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
            FROM base),
          xs AS (
            SELECT 'n' AS k, CAST(2*N + 2 AS BIGINT) AS x FROM stats
            UNION ALL SELECT 'd0', CAST(2*df0 + 1 AS BIGINT) FROM stats
            UNION ALL SELECT 'd1', CAST(2*df1 + 1 AS BIGINT) FROM stats),
          ${graft.functions.FixedPoint.oracleLog2Cte("xs", "k", "x", "l2")},
          idf AS (
            SELECT (SELECT l2 FROM __l2 WHERE k = 'n')
                     - (SELECT l2 FROM __l2 WHERE k = 'd0') AS idf0,
                   (SELECT l2 FROM __l2 WHERE k = 'n')
                     - (SELECT l2 FROM __l2 WHERE k = 'd1') AS idf1),
          clamped AS (
            SELECT doc_id, dl, least(tf0, 1048576) AS tf0,
                   least(tf1, 1048576) AS tf1
            FROM base),
          scored AS (
            SELECT b.doc_id, b.dl,
                   idf0 * ((10000 * 22 * tf0 * T)
                             // (10*T*tf0 + 3*T + 9*b.dl*N))
                 + idf1 * ((10000 * 22 * tf1 * T)
                             // (10*T*tf1 + 3*T + 9*b.dl*N)) AS score
            FROM clamped b, stats, idf)
          SELECT doc_id, CAST(dl AS BIGINT) AS dl, CAST(score AS BIGINT) AS score
          FROM scored WHERE score > 0
          ORDER BY score DESC, doc_id LIMIT 10"""

  private lazy val TrainedSearchOracle: String =
    s"""$TrainedStackCtes,
          encd AS (
            SELECT i.vec_id, i.sub, c.cell,
                   row_number() OVER (PARTITION BY i.vec_id, i.sub ORDER BY
                     CAST(list_sum(list_transform(generate_series(1, 8),
                       j -> (i.s[j]-c.cv[j])*(i.s[j]-c.cv[j]))) AS BIGINT) ASC,
                     c.cell ASC) AS rn
            FROM ivs i JOIN pcen2 c ON c.sub = i.sub),
          asg AS (
            SELECT vec_id, cell FROM (
              SELECT iv.vec_id, t.cell,
                     row_number() OVER (PARTITION BY iv.vec_id ORDER BY
                       CAST(list_sum(list_transform(generate_series(1, 64),
                         i -> iv.v[i] * t.cv[i])) AS BIGINT) DESC, t.cell DESC)
                       AS arn
              FROM iv CROSS JOIN cen2 t)
            WHERE arn = 1),
          q AS (SELECT v AS qv FROM iv WHERE vec_id = 0),
          rankedc AS (
            SELECT t.cell,
                   row_number() OVER (ORDER BY
                     CAST(list_sum(list_transform(generate_series(1, 64),
                       i -> q.qv[i] * t.cv[i])) AS BIGINT) DESC, t.cell DESC)
                     AS rk
            FROM cen2 t, q),
          probes AS (SELECT cell FROM rankedc WHERE rk <= 2),
          dq AS (
            SELECT c.sub, c.cell,
                   CAST(list_sum(list_transform(generate_series(1, 8),
                     j -> (q.qv[c.sub*8 + j] - c.cv[j])
                          * (q.qv[c.sub*8 + j] - c.cv[j]))) AS BIGINT) AS d2
            FROM pcen2 c, q),
          adc AS (
            SELECT b.vec_id, CAST(sum(dq.d2) AS BIGINT) AS adc
            FROM encd b
            JOIN dq ON dq.sub = b.sub AND dq.cell = b.cell
            JOIN asg a ON a.vec_id = b.vec_id
            JOIN probes p ON a.cell = p.cell
            WHERE b.rn = 1
            GROUP BY b.vec_id),
          cut AS (SELECT vec_id, adc FROM adc ORDER BY adc ASC, vec_id LIMIT 30)
          SELECT c.vec_id, a.cell, c.adc,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> (iv.v[i] - q.qv[i]) * (iv.v[i] - q.qv[i]))) AS BIGINT)
                   AS d2
          FROM cut c
          JOIN iv ON iv.vec_id = c.vec_id
          JOIN asg a ON a.vec_id = c.vec_id, q
          ORDER BY d2 ASC, c.vec_id LIMIT 10"""

  private def fpL2(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, 64), " +
    s"d -> ($a[d]-$b[d])*($a[d]-$b[d]))) AS BIGINT)"

  /** Farthest-point seed stage `i` (q139): seed 1 = the smallest id's
    * vector; seed i = argmax over the corpus of the MIN full L2² to
    * seeds 1..i−1 (each a 1-row CTE cross-joined in), ties to the
    * smallest id — [[graft.search.Ann.farthestPointSeeds]] replayed.
    */
  private def fpSeedCte(i: Int): String =
    if (i == 1)
      "fs1 AS (SELECT v AS cv FROM (SELECT v, vec_id FROM iv ORDER BY vec_id LIMIT 1))"
    else {
      val joins = (1 until i).map(j => s" CROSS JOIN fs$j f$j").mkString
      val dists = (1 until i).map(j => fpL2("iv.v", s"f$j.cv")).mkString(", ")
      s"""fs$i AS (
            SELECT v AS cv FROM (
              SELECT iv.v, iv.vec_id, least($dists) AS md
              FROM iv$joins
              ORDER BY md DESC, iv.vec_id ASC LIMIT 1))"""
    }

  /** q139's seed CTEs: 8 farthest-point stages folded into a `cen0fp`
    * seed-centroid table, then the same two Lloyd's rounds as q135.
    */
  private lazy val FpSeedCtes: String =
    ((1 to 8).map(fpSeedCte) :+
     ("cen0fp AS (" + (1 to 8).map(i =>
        s"SELECT CAST(${i - 1} AS BIGINT) AS cell, cv FROM fs$i")
        .mkString(" UNION ALL ") + ")"))
      .mkString(",\n        ")

  /** Shared oracle CTE prefix for the PQ queries (q78/q79): q48's
    * integer floor-mean centroids, then per-(vector, subspace) exact
    * L2 to every codeword, ranked ascending (the argmin; ties to the
    * smallest codeword id — Spark's struct array_min convention).
    */
  private val PqEncodeCtes: String =
    """WITH iv AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
          FROM embeddings),
        sums AS (
          SELECT label, i, CAST(sum(v[i]) AS BIGINT) AS s
          FROM iv, (SELECT unnest(generate_series(1, 64)) AS i) ii
          GROUP BY label, i),
        counts AS (SELECT label, count(*) AS n FROM iv GROUP BY label),
        cent AS (
          SELECT s.label AS cell,
                 list(CAST(floor(CAST(s.s AS DOUBLE) / c.n) AS BIGINT) ORDER BY s.i) AS cv
          FROM sums s JOIN counts c ON s.label = c.label
          GROUP BY s.label),
        subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
        d AS (
          SELECT iv.vec_id, s.sub, cent.cell,
                 CAST(list_sum(list_transform(generate_series(s.sub*8+1, s.sub*8+8),
                   i -> (iv.v[i] - cent.cv[i]) * (iv.v[i] - cent.cv[i]))) AS BIGINT) AS d2
          FROM iv CROSS JOIN cent CROSS JOIN subs s),
        best AS (
          SELECT vec_id, sub, cell,
                 row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, cell ASC) AS rn
          FROM d)"""

  // ---------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // C7 fixed-width chunker — the one oracle-expressible chunker
    // (reference document_processor.py:134-144): exact 100-char slices.
    "q21_chunk_fixed" -> ((s, dir) => {
      Chunkers.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          ChunkerConfig(strategy = Strategy.FixedWidth))
        .select(col("doc_id"), col("chunk_id"), col("content"),
                col("chunk_number").cast("long").as("chunk_number"),
                col("total_chunks").cast("long").as("total_chunks"))
        .orderBy(col("doc_id"), col("chunk_number"))
    }),

    // Exact dedup: hash-group on md5(text), keeper = min id. One shuffle
    // on a 16-byte digest regardless of document size.
    "q22_dedup_exact" -> ((s, dir) => {
      Dedup.exactDuplicates(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("text_md5"))
    }),

    // Pairwise 3-gram Jaccard within a blocking key (source) — integer
    // threshold: jaccard >= 1/2 ⇔ 2·inter >= union. Scoped to two
    // blocks: exact pairwise is the VERIFY tier — at scale it runs on
    // LSH candidates (q24), never the whole corpus. The dfCap drops
    // gram buckets shared by > 20 docs before pair expansion — hot
    // grams are stop-phrases with C(n,2) pair cost and no signal, so
    // the plan stays linear in corpus size (mirrored in the oracle).
    "q23_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
          t(s, dir, "documents").filter(col("source").isin("src0", "src1")),
          "doc_id", "text", "source", dfCap = 20)
        .filter(col("inter") * 2 >= col("uni"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // CONTAINMENT near-dup — Broder's asymmetric twin of q23: gate on
    // inter/min(na,nb) >= 9/10, which also fires on a short doc wholly
    // embedded in a long one (quote-in-article, page-plus-boilerplate)
    // where Jaccard dilutes below any useful threshold. Blocked by
    // lang (the republished-across-sources case q23's source blocking
    // can't see); same df-capped bucket plan, exact integers.
    "q152_containment_neardup" -> ((s, dir) => {
      Dedup.ngramContainmentPairs(t(s, dir, "documents"),
          "doc_id", "text", "lang", dfCap = 20)
        .filter(col("inter") * 10 >= col("n_small") * 9)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // MULTI-RELATION CLUSTERING: the full near-dup graph — Jaccard
    // (q23's symmetric gate) and containment (q152's asymmetric gate)
    // edge families OR-ed before connected components, so a chain
    // like excerpt⊂page≈mirror collapses into ONE cluster even though
    // no single relation links its ends. The corpus pass runs ONCE:
    // both gates are integer predicates over the same df-capped
    // pair-count frame (inter, na, nb) under lang blocking — adding a
    // relation adds a predicate, never a shingle pass.
    "q166_multi_relation_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val p = Dedup.ngramPairCounts(docs, "doc_id", "text", "lang",
                                    dfCap = 20)
      val edges = p.filter(
          col("inter") * 2 >= col("na") + col("nb") - col("inter") ||
          col("inter") * 10 >= least(col("na"), col("nb")) * 9)
        .select(col("a_id"), col("b_id"))
      Dedup.dupClusters(docs, "doc_id", edges, "a_id", "b_id")
        .orderBy(col("doc_id"))
    }),

    // MinHash-LSH candidate generation: equi-join on (band, min-hash)
    // buckets — the shuffle-friendly near-dup plan; no O(n²) anywhere.
    // One md5 per shingle; the digest's four 32-bit slices are the bands.
    "q24_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text", nBands = 4)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // INCREMENTAL dedup probe: odd doc_ids play the arriving batch,
    // even ids the stored corpus — candidates are the cross pairs only
    // (one equi-join against the persisted signature table; nothing
    // re-shingles the stored side in the real pipeline).
    "q73_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalCandidates(
          Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"),
          Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // SimHash signatures (16 bits from md5 digit votes over distinct
    // tokens) — constant-size fingerprint per doc; the codegen bulk
    // form (explode + conditional-sum aggregate), one shuffle.
    "q25_simhash" -> ((s, dir) => {
      Dedup.simhashSignatures(t(s, dir, "documents"), "doc_id", "text", bits = 16)
        .orderBy(col("doc_id"))
    }),

    // Text quality signals: exact counts + the corpus-filter gate.
    "q26_text_quality" -> ((s, dir) => {
      TextStats.qualitySignals(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
                col("n_bpe_tokens"), col("n_punct"), col("n_stopwords"),
                col("quality_ok"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID heuristic: marker-word scores per language + argmax.
    // (The synthetic corpus uses the same English-ish vocabulary for
    // every `lang` value, so predictions skew 'en' — the oracle checks
    // the computation, and the score columns expose the evidence.)
    "q27_langid" -> ((s, dir) => {
      TextStats.languageId(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang"),
                col("score_de"), col("score_en"), col("score_es"),
                col("score_fr"), col("score_zh"), col("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    // Normalized-content fingerprint dedup tier.
    "q28_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(TextStats.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("fp"))
    }),

    // Exact top-10 by integer-quantized inner product against the
    // vec_id=0 query vector — TakeOrderedAndProject plan, broadcast
    // one-row query side; the brute-force similarity-search baseline.
    "q29_knn_dot" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), Ann.intVec(col("embedding")).as("iv"))
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("iv").as("qv")))
      val top = e.crossJoin(q)
        .withColumn("dot", Ann.intDot(col("iv"), col("qv")))
        .orderBy(col("dot").desc, col("vec_id"))
        .limit(10)
      top.withColumn("rnk",
          row_number().over(Window.orderBy(col("dot").desc, col("vec_id")))
            .cast("long"))
        .select(col("rnk"), col("vec_id"), col("dot"))
        .orderBy(col("rnk"))
    }),

    // MMR diversified rerank — q29's relevance pool, greedily re-picked
    // to trade relevance against redundancy (λ=1/2 → pure integer
    // rel − max-dot-to-selected). The serving answer to a near-dup
    // corpus: top-k returns the same passage k times, MMR once.
    "q153_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toSeq
      Ann.mmrRerank(e, "vec_id", "embedding", qv, k = 5, poolSize = 20)
        .orderBy(col("rnk"))
    }),

    // Embedding near-duplicate pairs (cos >= 0.4) within a label block,
    // exact integer cross-multiplied comparison — no float anywhere.
    "q30_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label", thresholdNum = 16, thresholdDen = 100)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Sessionization: 30-min-gap sessions per user (lag + running sum —
    // the batch form of streaming session windows).
    "q31_sessions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
               unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum(col("new_s")).over(w))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
             min(unix_micros(col("ts"))).as("start_us"),
             (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"))
        .orderBy(col("user_id"), col("session_no"))
    }),

    // Job-ledger latest-wins upsert (ES upsert-by-_id idiom, S6/ST4):
    // events replayed as job-status updates, current state = newest row
    // per job_id.
    "q32_job_latest" -> ((s, dir) => {
      val updates = t(s, dir, "events").select(
        (col("user_id") % 50).as("job_id"),
        when(col("event_type") === "purchase", lit("completed"))
          .when(col("event_type") === "error", lit("failed"))
          .when(col("event_type") === "signup", lit("queued"))
          .otherwise(lit("running")).as("status"),
        col("ts"), col("event_id"))
      Tables.latestByKey(updates, Seq("job_id"), Seq(col("ts"), col("event_id")))
        .select(col("job_id"), col("status"), unix_micros(col("ts")).as("updated_us"))
        .orderBy(col("job_id"))
    }),

    // Multimodal metadata: binary payload column + stub decode/resize —
    // the Spark-side plumbing (schema, typed metadata, pruning) is real.
    "q33_multimodal_meta" -> ((s, dir) => {
      Multimodal.resizePlan(
          Multimodal.decodeStub(
            Multimodal.toBinaryTable(t(s, dir, "documents"), "doc_id", "text")),
          maxW = 256, maxH = 256)
        .select(col("doc_id"), col("mime"), col("byte_len"), col("width"),
                col("height"), col("n_frames"), col("fit_w"), col("fit_h"))
        .orderBy(col("doc_id"))
    }),

    // Frame sampling: video rows explode into one row per sampled frame.
    "q34_frame_sample" -> ((s, dir) => {
      Multimodal.sampleFrames(
          Multimodal.decodeStub(
            Multimodal.toBinaryTable(t(s, dir, "documents"), "doc_id", "text")),
          step = 5)
        .select(col("doc_id"), col("frame_no"))
        .orderBy(col("doc_id"), col("frame_no"))
    }),

    // Search-cache key (Q4/P6/F8): sha256 over int-quantized vector JSON
    // + provider + filters + k — deterministic across engines.
    "q35_cache_key" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          Search.cacheKey(Ann.intVec(col("embedding")), lit("nomic"),
                          lit(null).cast("string"), lit(10)).as("cache_key"))
        .orderBy(col("vec_id"))
    }),

    // Chunk-size distribution metrics (reference A2,
    // `utils/metrics.py:14-18,35-36`): per-ordinal count/min/max/sum/avg
    // of chunk lengths. avg = exact long sum ÷ count (deterministic —
    // both engines' partial sums stay integral in double range).
    "q38_chunk_stats" -> ((s, dir) => {
      Chunkers.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          ChunkerConfig(strategy = Strategy.FixedWidth))
        .groupBy(col("chunk_number").cast("long").as("chunk_number"))
        .agg(count(lit(1)).as("n_chunks"),
             min(length(col("content"))).cast("long").as("min_len"),
             max(length(col("content"))).cast("long").as("max_len"),
             sum(length(col("content"))).cast("long").as("sum_len"),
             avg(length(col("content"))).as("avg_len"))
        .orderBy(col("chunk_number"))
    }),

    // Tokenized full-text match (Q3 — ES `match` semantics without
    // tf-idf; `test_full_pipeline.py:133-139`).
    "q39_text_match" -> ((s, dir) => {
      Search.textMatch(t(s, dir, "documents"), "text", "stream window")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Composed curation pass — quality gate → exact dedup → per-lang
    // corpus stats: the operators chain without materialization
    // boundaries, exactly how a production curation DAG runs.
    "q40_corpus_stats" -> ((s, dir) => {
      val quality = TextStats.qualitySignals(t(s, dir, "documents"), "text")
        .filter(col("quality_ok"))
      val deduped = Dedup.dropExactDuplicates(quality, "doc_id", "text")
      deduped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("sum_tokens"),
             sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // SimHash near-dup pairs: constant-size signatures, then a blocked
    // self-join filtered by Hamming distance (bit_count of xor) —
    // signature computation is linear, the pair test is two ALU ops.
    "q41_simhash_pairs" -> ((s, dir) => {
      // multi-index pigeonhole: hamming ≤ 3 over 4 signature chunks ⇒
      // at least one chunk matches exactly, so candidates come from an
      // equi-join on chunk buckets — provably the all-pairs result
      // (the oracle IS the all-pairs form) without the O(n²) join.
      // 32-bit signatures → 8-bit chunks → 256 bucket values per chunk:
      // random-pair collision odds drop from 1/16 to 1/256 per chunk,
      // so bucket sizes (and the candidate pair count) stay linear at
      // 100× the corpus where 16-bit/4-bit chunks went quadratic.
      // signatures materialize ONCE (localCheckpoint): the pair join
      // references the signature table on both sides, and the broadcast
      // build side cannot reuse the probe side's plan — without the
      // checkpoint the whole signature aggregation runs twice. At
      // production scale this is "write the signature table, then
      // pair-join it" — signatures are the index artifact anyway.
      // scan spread at the QUERY site, not inside simhashSignatures:
      // the pairs consumer wins (tokenize+32-md5 per doc parallelizes
      // ahead of the pin), while the signatures-only q25 measured
      // slower with it (too little work to win back the exchange)
      val sig = Dedup.simhashSignatures(
          graft.io.Tables.spread(t(s, dir, "documents"), "doc_id"),
          "doc_id", "text", keepCols = Seq("source"), bits = 32)
        .withColumnRenamed("simhash", "sh")
        .localCheckpoint()
      Dedup.simhashPairs(sig, "doc_id", "sh", "source", bits = 32, maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Exact corpus profiling: the distinct-cardinality scan a pipeline
    // runs before choosing join strategies (at 100 TB the approximate
    // form is approx_count_distinct — same plan shape, mergeable
    // sketches; the exact form here is what an oracle can check).
    "q42_profile" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        min(col("l_quantity")).cast("long").as("min_qty"),
        max(col("l_quantity")).cast("long").as("max_qty"))
    }),

    // Vector centroid sums per label via the typed Aggregator (UDAF) —
    // partial/final aggregation of primitive long-array buffers. Output
    // exploded to (label, dim, s) scalar rows: arrow list types carry
    // engine-specific element nullability that a hash compare trips on.
    "q43_centroids" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"), Ann.intVec(col("embedding")).as("iv"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
             graft.functions.VectorAggregates.vecSum(64)(col("iv")).as("cs"))
        .select(col("label"), col("n_vectors"),
                posexplode(col("cs")).as(Seq("d0", "s")))
        .select(col("label"), col("n_vectors"),
                (col("d0") + 1).cast("long").as("dim"), col("s"))
        .orderBy(col("label"), col("dim"))
    }),

    // Winnowing fingerprints (rolling shingle hashes, window minima) —
    // the content-overlap dedup tier: shared fingerprints = shared
    // runs; near-dup then joins on fp like the MinHash bucket plan.
    "q44_winnow" -> ((s, dir) => {
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("fp"))
    }),

    // Salted two-phase aggregation (hot-key mitigation): the oracle is
    // the plain groupBy sum — salting must be result-invariant. Money
    // in integer cents so partial-sum order can't matter.
    "q45_salted_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        col("event_id"))
      graft.io.Skew.saltedSum(ev, "event_type", "cents", "event_id", buckets = 16)
        .orderBy(col("event_type"))
    }),

    // CUBE over (event_type, user bucket): all 4 grouping combinations
    // in one pass (Expand + single shuffle) — the OLAP companion to
    // q18's ROLLUP.
    "q46_cube" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
        .cube(col("event_type"), col("user_bucket"))
        .agg(count(lit(1)).as("n"),
             sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy(col("event_type").asc_nulls_first, col("user_bucket").asc_nulls_first)
    }),

    // Pivot: event_type values to columns (conditional aggregation
    // under the hood — the same single-shuffle plan as a plain groupBy).
    "q47_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
        .groupBy(col("user_bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .orderBy(col("user_bucket"))
    }),

    // IVF coarse quantization (the ANN scale path's build side): assign
    // every vector to its nearest centroid cell — at 100 TB the table
    // is then written partitionBy("cell") and a probe reads nprobe
    // cells via partition pruning (Ann.ivfTopKInt). Centroids here are
    // per-label integer means (floor(sum/n) on the 1e-3 grid): a
    // deterministic seeded-init analogue both engines derive exactly
    // (q135 covers the trained centroids). The collect is a k-row
    // aggregate (k = #labels) — the broadcast-small-side pattern.
    "q48_ivf_assign" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.ivfAssignInt(e, "embedding", labelCentroids(e))
        .select(col("vec_id"), col("cell"), col("cdot"))
        .orderBy(col("vec_id"))
    }),

    // IVF probe (the search side of q48's build): rank cells against
    // the query on the driver, scan only the nprobe=2 nearest cells,
    // exact-score candidates. At scale the assigned table is written
    // partitionBy("cell"), so this probe is a partition-pruned read of
    // 2/k-cells of the data instead of a full scan.
    "q51_ivf_probe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = labelCentroids(e)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(Ann.quantizeL)
      Ann.ivfTopKInt(Ann.ivfAssignInt(e, "embedding", cents), "vec_id", "embedding",
                     cents, qv, k = 10, nprobe = 2)
        .orderBy(col("dot").desc, col("vec_id"))
    }),

    // S9 — PDF conversion gate: wrap each document's text into a real
    // single-page PDF (deterministic fixture generator), extract it
    // back with the content-stream parser, chunk the result. The
    // oracle chunks the ORIGINAL text — extraction must be an exact
    // roundtrip through actual PDF syntax (escapes, streams, show
    // ops). Malformed-PDF tolerance is pinned separately in PdfSpec.
    "q49_pdf_roundtrip" -> ((s, dir) => {
      val extracted = t(s, dir, "documents")
        .select(col("doc_id"), graft.ingest.Pdf.wrap(col("text")).as("pdf"))
        .select(col("doc_id"), graft.ingest.Pdf.extract(col("pdf")).as("text"))
      Chunkers.chunkDocuments(extracted, "doc_id", "text",
          ChunkerConfig(strategy = Strategy.FixedWidth))
        .select(col("doc_id"), col("chunk_id"), col("content"),
                col("chunk_number").cast("long").as("chunk_number"),
                col("total_chunks").cast("long").as("total_chunks"))
        .orderBy(col("doc_id"), col("chunk_number"))
    }),

    // As-of join (point-in-time lookup): each purchase event matched to
    // the user's most recent at-or-before click. Union + tag + running
    // last() window — ONE shuffle on the key, linear per partition; the
    // naive inequality join this replaces is O(|L|·|R|) per key. The
    // oracle deliberately USES that naive LATERAL formulation, so two
    // different algorithms must agree row-for-row.
    "q50_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOf.joinWithGap(purchases, clicks, "user_id", "ts", "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"), col("gap_us"))
        .orderBy(col("event_id"))
    }),

    // Deterministic train/val/test split + stratified hash sample: the
    // curation primitives every training pipeline runs last. Hash
    // buckets (md5 of the doc id) are reproducible across runs,
    // engines, and cluster sizes — unlike rand() sampling — and
    // keying by doc id keeps all of a document's chunks in one split
    // (leakage-safe). Output: per-(lang, split) doc counts + the count
    // of a deterministic 10% sample within each cell.
    "q58_split_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("split", Dedup.splitAssign(col("doc_id")))
        .withColumn("sampled",
          when(Dedup.hashBucket(concat(col("doc_id"), lit("|sample")), 100) < 10, 1L)
            .otherwise(0L))
      d.groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("sampled")).as("n_sampled"))
        .orderBy(col("lang"), col("split"))
    }),

    // Q2 — metadata filtering: conjunctive equality over a JSON
    // metadata column (the README-declared search surface; filters
    // compile to get_json_object predicates that sit in the scan
    // filter, not a post-collect pass).
    "q57_metadata_filter" -> ((s, dir) => {
      Search.metadataFilter(t(s, dir, "events"), "props", Map("k" -> "42"))
        .select(col("event_id"), col("event_type"), col("user_id"))
        .orderBy(col("event_id"))
    }),

    // S9 — DOCX conversion gate (zip+XML via JDK): wrap each document's
    // text into a real minimal DOCX, extract it back through the
    // zip + DOM parser, chunk. Oracle chunks the ORIGINAL text — the
    // roundtrip (incl. XML escaping and paragraph splits) must be
    // byte-exact. Same contract as q49's PDF gate.
    "q56_docx_roundtrip" -> ((s, dir) => {
      import graft.ingest.Office
      // zip+XML per doc is the corpus pass — spread a too-narrow scan
      // across the session's cores first (identity at scale)
      val extracted = graft.io.Tables.spread(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), Office.docxOf(col("text")).as("docx"))
        .select(col("doc_id"), Office.docxTextOf(col("docx")).as("text"))
      Chunkers.chunkDocuments(extracted, "doc_id", "text",
          ChunkerConfig(strategy = Strategy.FixedWidth))
        .select(col("doc_id"), col("chunk_id"), col("content"),
                col("chunk_number").cast("long").as("chunk_number"),
                col("total_chunks").cast("long").as("total_chunks"))
        .orderBy(col("doc_id"), col("chunk_number"))
    }),

    // Range join via bin bucketing: per-nation promo windows (derived
    // deterministically from nation keys) matched to orders by
    // order-date containment — an equi-join on (nation, 64-day bin) +
    // exact filter instead of the unplannable inequality join. The
    // oracle IS the naive inequality join: two algorithms must agree.
    "q55_range_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val ords = t(s, dir, "orders")
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation"),
                datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
                  .cast("long").as("day"),
                round(col("o_totalprice") * 100).cast("long").as("cents"))
      val windows = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nation"))
        .withColumn("wk", explode(sequence(lit(0L), lit(3L))))
        .select(col("nation"), (col("nation") * 10 + col("wk")).as("window_id"),
                ((col("nation") * 137 + col("wk") * 311) % 2000).as("w_start"),
                ((col("nation") * 137 + col("wk") * 311) % 2000 + lit(20) +
                  (col("nation") + col("wk") * 3) % 40).as("w_end"))
      graft.operators.RangeJoin.binJoin(ords, windows, "nation", "day",
                                        "w_start", "w_end", binWidth = 64)
        .groupBy(col("window_id"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("window_id"))
    }),

    // Batch kNN (the serving shape): 5 query vectors broadcast against
    // ONE scan of the embeddings, integer-dot scored, top-3 per query
    // via window rank — corpus read once regardless of query count.
    "q54_knn_batch" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), Ann.intVec(col("embedding")).as("qv"))
      Ann.intDotTopKBatch(e, "vec_id", "embedding", queries, "qid", "qv", k = 3)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // REAL image codec gate (JDK ImageIO — no external libs): a solid
    // PNG is generated from per-row parameters, decoded back (exact
    // dims + mean channels), and real-resampled to a target size. The
    // oracle recomputes the parameters in SQL — the codec must recover
    // them exactly (PNG is lossless; means of a solid are the color).
    "q52_image_roundtrip" -> ((s, dir) => {
      import graft.multimodal.Codecs
      val w = (lit(16) + col("doc_id") % 64).cast("int")
      val h = (lit(16) + (col("doc_id") * 7) % 48).cast("int")
      val r = (col("doc_id") % 256).cast("int")
      val g = ((col("doc_id") * 3) % 256).cast("int")
      val b = ((col("doc_id") * 5) % 256).cast("int")
      val rgb = (shiftleft(r, 16) + shiftleft(g, 8) + b).cast("int")
      t(s, dir, "documents")
        .select(col("doc_id"), w.as("w"), h.as("h"),
                Codecs.pngOf(w, h, rgb).as("png"))
        .select(col("doc_id"), col("w"), col("h"), col("png"),
                Codecs.imageMetaOf(col("png")).as("m"),
                Codecs.resizedMetaOf(col("png"), least(col("w"), lit(16)),
                                     least(col("h"), lit(16))).as("rz"))
        .select(col("doc_id"),
                col("m.width").cast("long").as("width"),
                col("m.height").cast("long").as("height"),
                col("m.r").as("r"), col("m.g").as("g"), col("m.b").as("b"),
                col("rz.width").cast("long").as("fit_w"),
                col("rz.height").cast("long").as("fit_h"),
                col("rz.r").as("fr"), col("rz.g").as("fg"), col("rz.b").as("fb"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio codec gate (JDK javax.sound WAV PCM): ramp-PCM WAV
    // generated per row, decoded back — frame count, rate, channels,
    // and the |sample| sum must match the generator arithmetic the
    // oracle recomputes (16-bit PCM is lossless).
    "q53_wav_roundtrip" -> ((s, dir) => {
      import graft.multimodal.Codecs
      val n = (lit(100) + col("doc_id") % 400).cast("int")
      t(s, dir, "documents")
        .select(col("doc_id"), Codecs.wavOf(n).as("wav"))
        .select(col("doc_id"), Codecs.audioMetaOf(col("wav")).as("a"))
        .select(col("doc_id"),
                col("a.frames").as("frames"),
                col("a.sample_rate").as("sample_rate"),
                col("a.channels").cast("long").as("channels"),
                col("a.sum_abs").as("sum_abs"))
        .orderBy(col("doc_id"))
    }),

    // Full pipeline e2e: documents → hybrid-chunk (C1 token windows —
    // the corpus has no sentence terminators, so C3 would degenerate to
    // fallback) → hashing-trick embed (E2) → cosine top-5 for an
    // embedded query string (Q5+Q1). The flagship slice of SURVEY §7.2.
    //
    // ORACLE BRIDGE (the chunker fold + hashing embed are not
    // SQL-expressible, but the SEARCH is): quantize the embeddings to
    // the exact 1e-3 integer grid and — ON THE VERIFY PATH ONLY
    // (Q36PersistProp, set by graft.Verify) — persist that
    // intermediate and run the kNN over the persisted copy, so DuckDB
    // reads the same file and recomputes the identical cosine
    // (integer-valued doubles: every sum < 2^53 is exact regardless of
    // order; sqrt//+ are correctly-rounded IEEE in both engines, so
    // scores match bit-for-bit). Bench runs skip the export and search
    // the in-memory quantized frame (same values — float parquet
    // roundtrip is exact). The path is keyed by checkout hash +
    // sf-dir basename (see q36VectorsPath); the static oracle reads
    // the driver's verify SF (sf0.01).
    "q36_pipeline_search" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val chunks = Chunkers.chunkDocuments(docs, "doc_id", "text",
          ChunkerConfig(chunkSize = 60, chunkOverlap = 10, strategy = Strategy.Hybrid))
        .withColumn("chunk_id",
          concat(col("doc_id").cast("string"), lit("_"), col("chunk_id")))
      val emb = Embedding.embedChunks(chunks, "nomic").toDF()
      // quantize through the native kernel (one plan node, not 768
      // interpreted lambda walks per vector); the long→float element
      // cast is exact (values ≤ 1000 in magnitude), so the column is
      // bit-identical to the old per-element round(x·1000)→float form
      val quantized = emb.select(col("chunk_id"), col("embedding_provider"),
          Ann.intVec(col("embedding")).cast("array<float>").as("embedding"))
        // drop all-zero vectors (empty-token chunks): cosine of a zero
        // vector is NaN, and NaN ordering differs across engines. A
        // normalized nonzero vector has max |x| ≥ 1/sqrt(768) ≈ 0.036,
        // so quantization never zeroes a nonzero embedding.
        .filter(exists(col("embedding"), x => x =!= lit(0.0f)))
      // verify-only persist (see Q36PersistProp): bench times the
      // chunk→embed→search pipeline, not a corpus parquet export.
      val vectors =
        if (sys.props.get(Q36PersistProp).contains("true")) {
          val outPath = q36VectorsPath(dir)
          quantized.write.mode("overwrite").parquet(outPath)
          s.read.parquet(outPath)
        } else quantized
      Search.knn(vectors, q36QueryVec.map(_.toFloat), k = 5,
                 provider = Some("nomic"), tieBreak = Seq(col("chunk_id")))
        .select(col("chunk_id"), col("score"))
    }),

    // ANN via sign-random-projection LSH buckets: probe the query's
    // bucket (+Hamming-1), score only candidates — the 1/2^planes scan.
    // Oracle-checked: the ±1 hyperplanes are plan-time constants
    // (Ann.planeSigns), baked as literals into generated SQL, so bucket
    // ids and the probe set reproduce bit-for-bit in DuckDB.
    "q37_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queryVec = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val bucketed = Ann.lshBuckets(e, "embedding", nPlanes = 8)
      Ann.lshTopK(bucketed, "vec_id", "embedding", queryVec, k = 10, nPlanes = 8)
        .orderBy(col("dot").desc, col("vec_id"))
    }),

    // Dedup CLUSTERING: q24's MinHash-LSH candidate pairs → connected
    // components (min-label propagation + pointer jumping, O(log d)
    // shuffle rounds) → every doc labeled with its duplicate cluster,
    // singletons self-assigned. The pairs→clusters step a training
    // pipeline needs between candidate generation and keep-one.
    "q59_dup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", nBands = 4)
      Dedup.dupClusters(docs, "doc_id", pairs, "a_id", "b_id")
        .orderBy(col("doc_id"))
    }),

    // Canonical-document selection (keep-one dedup): clusters from q59
    // → keep the highest-quality member per cluster (score = n_chars,
    // ties to min doc_id). The actual retention decision a 100 TB
    // training pipeline emits; one window shuffle past the cluster step.
    "q60_dedup_keep_one" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", nBands = 4)
      Dedup.keepOne(docs, "doc_id", col("n_chars"), pairs, "a_id", "b_id")
        .select(col("doc_id"), col("comp"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // q59 from the STORED signature table (build-once per JVM, see
    // storedSigs): the production clustering posture — candidate pairs
    // come from the persisted 4-rows-per-doc LSH index, the corpus
    // text is never re-shingled. Bit-identical output to q59 (same
    // oracle); the bench median times the probe, not the build.
    "q133_dup_clusters_stored" -> ((s, dir) => {
      Dedup.dupClustersFromSigs(t(s, dir, "documents"), "doc_id",
                                storedSigs(s, dir))
        .orderBy(col("doc_id"))
    }),

    // TRIANGLE CENSUS over the STORED-signature LSH graph: q171's
    // degree-oriented algebra with edges probed from the persisted
    // signature table (q133's posture — the corpus is never
    // re-shingled). A different graph than q171's shingle-share edges:
    // this one is the exact candidate set ingest dedup acts on, so a
    // clique here is a cluster keep-one WILL collapse.
    "q177_triangle_census_sigs" -> ((s, dir) => {
      val edges = Dedup.candidatesFromSigs(storedSigs(s, dir))
      graft.operators.Graph.triangleCounts(edges, "a_id", "b_id")
        .orderBy(col("node"))
    }),

    // q60 from the stored signature table — keep-one without
    // re-shingling; same oracle as q60.
    "q134_keep_one_stored" -> ((s, dir) => {
      Dedup.keepOneFromSigs(t(s, dir, "documents"), "doc_id",
                            col("n_chars"), storedSigs(s, dir))
        .select(col("doc_id"), col("comp"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // EXACT-INTEGER K-MEANS (Lloyd's, fixed 2-round budget): the IVF
    // codebook TRAINER itself on the verified surface — deterministic
    // seeds (k smallest vec_ids), E-step argmin integer L2² (ties to
    // the smallest cell), M-step per-dim floorDiv means, emptied cells
    // keep their centroid. The same trainer builds the store's index
    // (VectorIndex.build); an oracle replays it round for round.
    // Output = the trained codebook as (cell, dim, value) scalar rows.
    "q135_kmeans_train" -> ((s, dir) => {
      val cents = Ann.withIntVec(t(s, dir, "embeddings"), "vec_id",
                                 "embedding")(Ann.kmeansFitInt(_, k = 8, rounds = 2))
      import s.implicits._
      cents.flatMap { case (cell, cv) =>
        cv.zipWithIndex.map { case (v, i) => (cell, (i + 1).toLong, v) }
      }.toDF("cell", "d", "c").orderBy(col("cell"), col("d"))
    }),

    // Cell populations under the q135-trained centroids (one more
    // E-step): the load-balance report an IVF build reads before
    // fixing nlist — a degenerate cell histogram here means re-train,
    // not re-shard.
    "q136_kmeans_cells" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // the returned frame is lazy, so the E-step reads its own
      // quantized projection, not the trainer's loaned pin (q140's shape)
      val cents = Ann.withIntVec(e, "vec_id", "embedding")(
        Ann.kmeansFitInt(_, k = 8, rounds = 2))
      Ann.assignMinL2Int(
          e.withColumn("__iv", Ann.intVec(col("embedding"))), "__iv", cents)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("cell"))
    }),

    // PQ CODEBOOK TRAINING: per-subspace exact-integer Lloyd's (the
    // q135 contract per 8-dim slice), all m=8 codebooks trained in ONE
    // exploded corpus pass per round. Output = the composed full-dims
    // codebook entries — the exact shape q78/q79/q80's encode/ADC
    // stack slices per subspace, so trained books replace the q48
    // label stand-ins without touching the search path.
    "q137_pq_train" -> ((s, dir) => {
      val books = Ann.withIntVec(t(s, dir, "embeddings"), "vec_id",
                                 "embedding")(Ann.pqTrainInt(_, k = 8, rounds = 2))
      import s.implicits._
      books.flatMap { case (cell, cv) =>
        cv.zipWithIndex.map { case (v, i) => (cell, (i + 1).toLong, v) }
      }.toDF("cell", "d", "c").orderBy(col("cell"), col("d"))
    }),

    // SAMPLE-TRAIN / FULL-ASSIGN: the actual 100 TB k-means recipe —
    // train the quantizer on a deterministic hash sample (q22's md5
    // bucket, here the <50 half), then assign the WHOLE corpus under
    // the sampled centroids. Training cost scales with the sample,
    // assignment stays the one-pass broadcast argmin; the oracle
    // replays both halves (the sample predicate is the same md5
    // algebra as the split assigner's).
    "q140_kmeans_sampled" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val sample = e.filter(
        graft.dedup.Dedup.hashBucket(col("vec_id"), 100) < 50)
      val cents = Ann.withIntVec(sample, "vec_id", "embedding")(
        Ann.kmeansFitInt(_, k = 8, rounds = 2))
      Ann.assignMinL2Int(
          e.withColumn("__iv", Ann.intVec(col("embedding"))), "__iv", cents)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("cell"))
    }),

    // K-MEANS WITH FARTHEST-POINT SEEDING (greedy k-center): q135's
    // trainer but seeded by max-min-distance instead of id order — the
    // spread guarantee for geometry-correlated ingest orders (same
    // crawl/shard arriving together), still fully deterministic and
    // oracle-replayed (8 unrolled argmax stages + the same 2 rounds).
    "q139_kmeans_fp_train" -> ((s, dir) => {
      val cents = Ann.withIntVec(t(s, dir, "embeddings"), "vec_id", "embedding")(
        Ann.kmeansFitInt(_, k = 8, rounds = 2, seedFn = Ann.farthestPointSeeds))
      import s.implicits._
      cents.flatMap { case (cell, cv) =>
        cv.zipWithIndex.map { case (v, i) => (cell, (i + 1).toLong, v) }
      }.toDF("cell", "d", "c").orderBy(col("cell"), col("d"))
    }),

    // THE TRAINED STACK END TO END: q80's prune → ADC → exact-re-rank
    // read path, but with the coarse quantizer from the q135 trainer
    // and the PQ codebooks from the q137 trainer instead of label
    // stand-ins — the whole ANN serving path is now TRAINED from the
    // corpus and still bit-exactly replayed by the oracle (both
    // trainers' rounds plus the search chained in one SQL statement).
    "q138_trained_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // one shared (id, intVec) pin feeds BOTH trainers
      val (cents, books) = Ann.withIntVec(e, "vec_id", "embedding") { iv =>
        (Ann.kmeansFitInt(iv, k = 8, rounds = 2),
         Ann.pqTrainInt(iv, k = 8, rounds = 2))
      }
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(Ann.quantizeL)
      val indexed = Ann.pqEncodeInt(
        Ann.ivfAssignInt(e, "embedding", cents), "vec_id", "embedding", books)
      Ann.ivfPqTopK(indexed, "vec_id", "embedding", cents, books, qv,
                    k = 10, nprobe = 2, rerankFactor = 3)
        .orderBy(col("d2"), col("vec_id"))
    }),

    // q138 SERVED FROM THE STORED INDEX: the same trained quantizers
    // and the same three-stage search, but probing the cell-partitioned
    // ON-DISK index through the scan/fetch split — pruned partitions,
    // a codes-only ADC scan (the parquet reader never materializes the
    // vector column for rows it won't re-rank), and a constant-size
    // point re-rank. Closes the train → persist → serve loop on the
    // verified surface: the oracle is q138's SQL verbatim, because a
    // correct stored probe is indistinguishable from the in-memory one.
    "q141_trained_search_stored" -> ((s, dir) => {
      val (path, cents, books) = trainedIndex(s, dir)
      val qv = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(Ann.quantizeL)
      Ann.ivfPqTopKStored(s, path, "vec_id", "embedding", cents, books, qv,
                          k = 10, nprobe = 2, rerankFactor = 3)
        .orderBy(col("d2"), col("vec_id"))
    }),

    // ADAPTIVE QUALITY GATE: per-source auto-threshold filtering — a
    // global cutoff is wrong across sources with different baselines,
    // so each source's cutoff is its own exact p25 of the stopword-
    // density score; the bottom quartile of EVERY source drops. One
    // source-key shuffle, exact integers.
    "q148_adaptive_quality" -> ((s, dir) => {
      Curation.adaptiveQualityFilter(t(s, dir, "documents"),
                                     "doc_id", "text", "source")
        .orderBy(col("doc_id"))
    }),

    // BATCHED STORED SEARCH: q141's trained stored index probed by a
    // BATCH of queries — the union of their cell sets read once
    // (pruned), per-query ADC dispatch over broadcast query ids, one
    // window for the per-query cut, point re-rank of the candidate
    // union. The serving tier's real traffic shape.
    "q147_batch_stored_search" -> ((s, dir) => {
      val (path, cents, books) = trainedIndex(s, dir)
      val queries = t(s, dir, "embeddings").filter(col("vec_id") < 3)
        .select(col("vec_id").cast("long"), col("embedding"))
        .collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).map(Ann.quantizeL).toSeq))
        .toSeq.sortBy(_._1)
      Ann.ivfPqTopKBatchStored(s, path, "vec_id", "embedding", cents, books,
                               queries, k = 10, nprobe = 2, rerankFactor = 3)
        .orderBy(col("query_id"), col("d2"), col("vec_id"))
    }),

    // MULTI-ROUND BPE TRAINING: the real tokenizer-training loop (q95
    // only ranks round-1 candidates): pick the best pair, merge it
    // greedily in every vocab word, recount, three rounds — the
    // learned merge table IS the tokenizer artifact. Corpus pays one
    // word count; every round is vocab-sized.
    "q145_bpe_train" -> ((s, dir) => {
      TextStats.bpeTrain(t(s, dir, "documents"), "text", rounds = 3)
        .orderBy(col("round"))
    }),

    // BPE APPLY: q145's learned merges encoded back over the corpus —
    // per-doc word and token counts, i.e. the compression the merges
    // bought (the metric that judges a tokenizer). Only distinct words
    // pay the merge folds; docs get counts through one vocab join.
    "q146_bpe_apply" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val merges = TextStats.bpeTrain(docs, "text", rounds = 3)
        .orderBy(col("round")).select(col("lft"), col("rgt"))
        .as[(String, String)].collect().toSeq
      TextStats.bpeApply(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }),

    // LEAKAGE-SAFE SPLIT: train/val/test assigned by near-dup CLUSTER,
    // not by doc — the per-doc hash split (q58/splitAssign) puts
    // members of one near-dup cluster in different splits, and the
    // "held-out" eval then scores near-copies of training text. Every
    // member inherits its cluster label's bucket (singletons hash on
    // their own id = their comp), so the cluster moves as a unit; the
    // same q59 clustering the dedup tier already runs, one extra hash;
    // candidates from the STORED signature table (q133's posture).
    "q144_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dupClustersFromSigs(docs, "doc_id", storedSigs(s, dir))
        .withColumn("split", Dedup.splitAssign(col("comp")))
        .select(col("doc_id"), col("comp"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ANN RECALL EVALUATION — recall@10 of the trained-quantizer IVF
    // probe against the exact ranking, per query (the first 5 corpus
    // vectors as the traffic sample): the continuous quality gate a
    // served deployment runs — recall is a property of the DATA under
    // the quantizer and must be re-measured as the corpus drifts.
    // One scored pass, two windows, exact-integer hit counts.
    "q143_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Ann.withIntVec(e, "vec_id", "embedding")(
        Ann.kmeansFitInt(_, k = 8, rounds = 2))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").cast("long"), col("embedding"))
        .collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).map(Ann.quantizeL).toSeq))
        .toSeq.sortBy(_._1)
      Ann.ivfRecallAtK(e, "vec_id", "embedding", cents, queries,
                       k = 10, nprobe = 2)
        .orderBy(col("query_id"))
    }),

    // CODEBOOK DRIFT detection — the retrain trigger: the same
    // deterministic trainer over the two md5-bucket halves of the
    // corpus (the "yesterday vs today" samples), each old centroid
    // reported with the exact L2² to its nearest new centroid
    // (matching-free chamfer — cell ids have no identity across
    // trainings). Stationary halves → small shifts; drifted data →
    // an unrepresented region's shift explodes. Sample-scale cost.
    "q142_centroid_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val bucket = graft.dedup.Dedup.hashBucket(col("vec_id"), 100)
      Ann.centroidDrift(e.filter(bucket < 50), e.filter(bucket >= 50),
                        "vec_id", "embedding", k = 8, rounds = 2)
        .orderBy(col("cell"))
    }),

    // SEMANTIC near-dup with LEARNED blocking: q30 blocks on a metadata
    // column; the 100 TB path has no such column — here the blocks are
    // the IVF coarse cells (q48), i.e. the quantizer both serves ANN
    // and bounds the near-dup pair expansion. Pairs straddling a cell
    // boundary are missed by construction — the standard
    // blocked-dedup recall trade, same as q30's. Exact integer math.
    "q62_semantic_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = labelCentroids(e)
      Dedup.embeddingNearDupPairs(
          Ann.ivfAssignInt(e, "embedding", cents),
          "vec_id", "embedding", "cell", thresholdNum = 16, thresholdDen = 100)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // SemDeDup (Abbas et al. 2023): the semantic-dedup VERDICT q62's
    // pair list stops short of — within-cell cosine edges (cos ≥ 0.4,
    // q62's exact-integer gate) closed transitively into groups, the
    // survivor per group the member LEAST similar to its cell
    // centroid (the paper's diversity rule, on the engine's integer
    // centroid dot, ties ascending id). Blocked by the quantizer
    // cell, CC on within-cell edges, one comp-keyed keep window.
    "q167_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Dedup.semDedup(Ann.ivfAssignInt(e, "embedding", labelCentroids(e)),
                     "vec_id", "embedding",
                     thresholdNum = 16, thresholdDen = 100)
        .orderBy(col("vec_id"))
    }),

    // EMBEDDING-SPACE DECONTAMINATION: the contamination tier the
    // verbatim family (q61 exact / q83 spans / q94 Bloom) cannot see —
    // a paraphrased benchmark answer shares no n-gram with its source,
    // but its embedding stays close. Benchmark = the md5-bucket ≥ 90
    // sliver (the q58 split algebra — deterministic, replayable
    // anywhere); corpus = the rest; blocking = the IVF coarse cells
    // (q62's learned-blocking recipe, so the ANN quantizer bounds the
    // pair expansion and the benchmark sliver broadcasts per cell).
    // Each contaminated corpus vec reports its BEST benchmark match
    // (max dot, ties to the smaller bench id). cos ≥ 0.3 as 9/100
    // against cos², exact integers end to end.
    "q149_embedding_decon" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // pinned: the corpus (bkt < 90) and benchmark (bkt >= 90) sides
      // both read the quantizer E-step — one assignment pass, not two
      val assigned = Ann.ivfAssignInt(e, "embedding", labelCentroids(e))
        .localCheckpoint()
      val bkt = Dedup.hashBucket(col("vec_id"), 100)
      Dedup.embeddingDecontaminate(
          assigned.filter(bkt < 90), assigned.filter(bkt >= 90),
          "vec_id", "embedding", "cell", thresholdNum = 9, thresholdDen = 100)
        .orderBy(col("doc_id"))
    }),

    // CURATION DECISION table — the per-doc verdict `Main curate`
    // emits, as ONE verified statement: per-source adaptive quality
    // (q148) ∧ near-dup keep-one (q60), with the cluster-keyed
    // train/val/test split (q144) riding along. `selected` is the
    // "does this doc train, and in which split" answer a 100 TB
    // pipeline materializes as its curation manifest; composing the
    // three families in one plan shares the corpus scan and keeps
    // each family's shuffle (source window, LSH band join + CC,
    // comp window) — nothing new, just the decision joined up.
    "q150_curation_decision" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gated = Curation.adaptiveQualityFilter(docs, "doc_id", "text", "source")
        .withColumnRenamed("kept", "kept_quality")
      val keepers = Dedup.keepOneFromSigs(docs, "doc_id", col("n_chars"),
                                          storedSigs(s, dir))
        .select(col("doc_id"), col("comp"), col("keep").as("keeper"))
        .withColumn("split", Dedup.splitAssign(col("comp")))
      gated.join(keepers, Seq("doc_id"))
        .withColumn("selected", col("kept_quality") && col("keeper"))
        .select(col("doc_id"), col("source"), col("score"), col("cutoff"),
                col("comp"), col("split"), col("kept_quality"), col("keeper"),
                col("selected"))
        .orderBy(col("doc_id"))
    }),

    // NDCG@10 — the GRADED twin of q143's recall gate: recall counts
    // whether the right ids surface, NDCG scores whether they surface
    // in the right ORDER, position-discounted. Relevance = label
    // match; gains = Scale²/log2fp(rank+1) through the SAME
    // fixed-point recurrence as BM25's log-IDF, so the oracle replays
    // bit-for-bit. First 5 corpus vectors as the traffic sample.
    "q151_search_ndcg" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").cast("long"), col("embedding"),
                col("label").cast("long"))
        .collect().map(r => (r.getLong(0),
          r.getSeq[Float](1).map(Ann.quantizeL).toSeq, r.getLong(2)))
        .toSeq.sortBy(_._1)
      Ann.ndcgAtK(e, "vec_id", "embedding", "label", queries, k = 10)
        .orderBy(col("query_id"))
    }),

    // BOILERPLATE removal: lines verbatim-shared by > 10 docs are
    // template chrome, stripped with order-preserving rebuild — the
    // web-corpus cleaning pass. (The synthetic corpus is single-line,
    // so the pass is a no-op here; the oracle still checks the whole
    // machinery end to end, as with q27's skewed language predictions.)
    "q68_strip_boilerplate" -> ((s, dir) => {
      TextStats.stripBoilerplate(t(s, dir, "documents"), "doc_id", "text", dfCap = 10)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
                md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // REPETITION signals: Gopher-style duplicate-line / top-bigram
    // counts with an exact-integer quality gate — the spam filter.
    "q69_repetition" -> ((s, dir) => {
      TextStats.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // PARAGRAPH DEDUP: corpus-wide first-occurrence rewrite — every
    // verbatim paragraph re-occurrence after its global first (by
    // doc id, position) is dropped; docs rebuilt in order.
    "q74_paragraph_dedup" -> ((s, dir) => {
      TextStats.dedupParagraphs(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
                md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // TEMPERATURE sampling: per-language keep rate ∝ sqrt(share of the
    // largest language) — T=2 mixture rebalancing, exact integer rates.
    "q75_temperature_sample" -> ((s, dir) => {
      Curation.temperatureSample(t(s, dir, "documents"), "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("bucket"),
                col("n_stratum"), col("rate"))
        .orderBy(col("doc_id"))
    }),

    // PER-SOURCE CAP: keep the 10 longest docs per source, rank total
    // (n_chars desc, doc_id asc) — the no-domain-dominates rule.
    "q70_source_cap" -> ((s, dir) => {
      Curation.capPerGroup(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          "source", "doc_id", "n_chars", cap = 10)
        .orderBy(col("source"), col("rk"))
    }),

    // STRATIFIED SAMPLE: per-language keep rates over md5 buckets
    // (en 50%, de 20%, rest 10%) — deterministic mixture balancing.
    "q71_stratified_sample" -> ((s, dir) => {
      Curation.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
                                Map("en" -> 50, "de" -> 20), defaultRate = 10)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // SNAPSHOT DIFF: two synthetic corpus generations (ids ≡0 mod 10
    // leave, ≡9 arrive, ≡3 mod 7 are edited) classified by fingerprint.
    "q77_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 9)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 3, upper(col("text"))).otherwise(col("text")))
      Tables.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // PRODUCT QUANTIZATION encode: every vector compressed to m=8
    // codeword ids (argmin exact-integer L2 per 8-dim subspace; the
    // codebooks are the q48 floor-mean centroids restricted per
    // subspace). The build side of IVF-PQ — at 100 TB the encoded
    // table is what the ANN scan reads, at m codes/vector instead of
    // d floats. Codes emitted as scalar columns (arrow list columns
    // are fragile across engines).
    "q78_pq_encode" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.pqEncodeInt(e, "vec_id", "embedding", labelCentroids(e))
        .select(col("vec_id") +: (0 until 8).map(i => col(s"c$i")): _*)
        .orderBy(col("vec_id"))
    }),

    // PQ ADC scan: the query's per-subspace distances to every codeword
    // form a tiny driver-side table; each row's approximate distance is
    // 8 map lookups summed — the scan never touches a vector. Top-10
    // ascending; exact integers end to end, so the oracle reproduces
    // scores bit-for-bit.
    "q79_pq_adc" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = labelCentroids(e)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(Ann.quantizeL)
      Ann.pqAdcTopK(Ann.pqEncodeInt(e, "vec_id", "embedding", cents),
                    "vec_id", cents, qv, k = 10)
        .orderBy(col("adc"), col("vec_id"))
    }),

    // The full IVF-PQ search: nprobe cell pruning (q51's convention) →
    // ADC over PQ codes for the survivors (q79's tables) → exact
    // integer-L2 re-rank of only the 3k best ADC candidates. The
    // canonical 100 TB ANN read path: cells prune partitions, the scan
    // touches codes not vectors, and full vectors are read for a
    // constant number of rows.
    "q80_ivfpq_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = labelCentroids(e)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(Ann.quantizeL)
      val indexed = Ann.pqEncodeInt(
        Ann.ivfAssignInt(e, "embedding", cents), "vec_id", "embedding", cents)
      Ann.ivfPqTopK(indexed, "vec_id", "embedding", cents, cents, qv,
                    k = 10, nprobe = 2, rerankFactor = 3)
        .orderBy(col("d2"), col("vec_id"))
    }),

    // BM25-RANKED full-text search (q39's match semantics + real
    // ranking): exact rational BM25 (k1=6/5, b=3/4, rational IDF) —
    // one map pass for per-term tf, a 1-row corpus-stats aggregate
    // broadcast back, TakeOrderedAndProject top-k. Corpus never
    // shuffles, no explode to a (doc, term) table.
    "q81_bm25_rank" -> ((s, dir) => {
      Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
                      "stream window", k = 10)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // BM25 with LUCENE-PARITY log IDF: same tf normalization as q81
    // but idf = log2fp(2N+2) - log2fp(2df+1) in exact fixed-point
    // integer algebra (FixedPoint.withLog2 — the digit-extraction
    // recurrence runs ONLY on the 1-row stats aggregate; the oracle
    // replays it as a recursive CTE). Log base is a constant factor,
    // so ranking matches ln-IDF Lucene/ES exactly.
    "q89_bm25_log_rank" -> ((s, dir) => {
      Search.bm25LogTopK(t(s, dir, "documents"), "doc_id", "text",
                         "stream window", k = 10)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // PHRASE SEARCH SERVED FROM THE STORED INDEX: q109's exact
    // consecutive-token match answered from the persisted postings —
    // the probe reads only the phrase terms' tb= buckets (directory
    // pruning), the corpus text is never touched. Shares the stored
    // index (and its build-once gating) with q175; oracle = q109's
    // verbatim.
    "q181_phrase_search_stored" -> ((s, dir) => {
      Search.phraseOccurrencesStored(s, storedPostingsPath(s, dir),
                                     "doc_id", "table scan")
        .orderBy(col("doc_id"))
    }),

    // BM25 SERVED FROM THE STORED INDEX: q89's ranking answered from
    // the persisted postings (term-bucket-pruned candidate scan) and
    // the norms sidecar (per-doc lengths + N/T — the corpus text is
    // never touched). Build-once per JVM; the bench median times the
    // probe. Oracle = q89's SQL verbatim: a correct lexical server is
    // indistinguishable from the inline scan.
    "q175_bm25_stored" -> ((s, dir) => {
      Search.bm25LogTopKStored(s, storedPostingsPath(s, dir), "doc_id",
                               "stream window", k = 10)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // N-GRAM LM FLUENCY: bigram LM (add-one smoothing) trained on the
    // train split; every doc scored by mean scaled transition
    // probability — the CCNet-style perplexity filter with the
    // transcendental stripped (exact integers both engines).
    "q82_lm_fluency" -> ((s, dir) => {
      TextStats.lmFluency(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // TOKENIZE-TO-IDS: frequency-ranked train-split vocabulary applied
    // to every doc; id sequence audited via scalar md5.
    "q76_tokenize_ids" -> ((s, dir) => {
      TextStats.tokenizeToIds(t(s, dir, "documents"), "doc_id", "text", minCount = 2)
        .orderBy(col("doc_id"))
    }),

    // OOV-RATE scoring: train-split vocabulary (min 2 occurrences) →
    // per-doc out-of-vocabulary token count — the CCNet-style filter.
    "q72_oov_rate" -> ((s, dir) => {
      TextStats.oovSignals(t(s, dir, "documents"), "doc_id", "text", minCount = 2)
        .orderBy(col("doc_id"))
    }),

    // PII REDACTION: scrub emails/URLs/IPs to placeholder tokens with
    // exact audit counts — the pre-training cleaning pass. Patterns are
    // the Java∩RE2 dialect subset so the oracle matches bit-for-bit.
    "q67_redact_pii" -> ((s, dir) => {
      TextStats.redactPii(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_email"), col("n_url"), col("n_ip"),
                md5(col("redacted")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // Sequence PACKING: docs → fixed-token-budget training sequences,
    // hash-bucketed so the running-sum window parallelizes (no global
    // sort) and the packing is reproducible across cluster sizes.
    "q66_pack_sequences" -> ((s, dir) => {
      TextStats.packSequences(t(s, dir, "documents"), "doc_id", "text",
                              budget = 512, buckets = 32)
        .orderBy(col("doc_id"))
    }),

    // PACKING EFFICIENCY: the audit for q66/--pack — per training
    // sequence, how many docs landed in it and what fraction of the
    // token budget they fill (per-mille, integer division; >1000 on
    // the straddling doc the running-sum assignment allows). The
    // report that sizes budget/buckets before a 100 TB export ships.
    "q165_packing_efficiency" -> ((s, dir) => {
      TextStats.packSequences(t(s, dir, "documents"), "doc_id", "text",
                              budget = 512, buckets = 32)
        .groupBy(col("seq_no"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .withColumn("fill_permille", expr("(n_tokens * 1000) div 512"))
        .orderBy(col("seq_no"))
    }),

    // TF-IDF top terms per doc (keyword extraction): exact integer
    // scores (tf·10⁶ div df), lexicographic ties — two map-combined
    // aggregations + one window rank, hash-identical in DuckDB.
    "q65_tfidf_topterms" -> ((s, dir) => {
      TextStats.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // Multimodal feature extraction (stub tier): metadata-derived
    // feature vector per payload — the stand-in for a vision encoder
    // whose OUTPUT CONTRACT (fixed-width feature columns feeding the
    // embedding store) is the part the engine owns. Emitted as scalar
    // columns (Arrow list columns are engine-fragile in the gate).
    "q63_feature_extract" -> ((s, dir) => {
      val f = Multimodal.featureStub(
        Multimodal.decodeStub(
          Multimodal.toBinaryTable(t(s, dir, "documents"), "doc_id", "text")))
      f.select(col("doc_id") +:
          (1 to 6).map(i => element_at(col("features"), i).as(s"f$i")): _*)
        .orderBy(col("doc_id"))
    }),

    // Multi-table LSH ANN (OR-construction): 4 independent 8-plane
    // sign-LSH tables; a candidate matches if ANY table buckets it with
    // the query — recall compounds 1-(1-p^b)^L for the same per-table
    // scan. The serving config between q37's single table and exact
    // q29. Oracle bakes all 32 hyperplanes as SQL literals, like q37.
    "q64_ann_lsh_multi" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queryVec = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val bucketed = Ann.lshBucketsMulti(e, "embedding", nTables = 4, nPlanes = 8)
      Ann.lshTopKMulti(bucketed, "vec_id", "embedding", queryVec, k = 10,
                       nTables = 4, nPlanes = 8)
        .orderBy(col("dot").desc, col("vec_id"))
    }),

    // DECONTAMINATION: test-split docs sharing ≥2 winnowing
    // fingerprints (q44) with a train-split doc under the q58
    // deterministic split — the benchmark-leakage scan a training
    // pipeline runs before shipping a split. Bucket-join on the fp,
    // df-capped, pair expansion confined to buckets.
    "q61_decontaminate" -> ((s, dir) => {
      Dedup.contaminationPairs(t(s, dir, "documents"), "doc_id", "text",
          Dedup.splitAssign(col("doc_id")), dfCap = 100, minShared = 2)
        .orderBy(col("test_id"), col("train_id"))
    }),

    // SPAN-LEVEL decontamination: q61 names the leaking test docs; this
    // emits the exact token spans covered by train-shared 3-shingles
    // (gaps-and-islands merge) — the surgical cut list.
    "q83_decontaminate_spans" -> ((s, dir) => {
      Dedup.contaminationSpans(t(s, dir, "documents"), "doc_id", "text",
          Dedup.splitAssign(col("doc_id")), dfCap = 100)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // BLOOM decontamination prefilter: q83's train shingle set folded
    // into an 8192-bit Bloom probed as a literal-array column — zero
    // joins on the test corpus (the 100 TB shape: benchmark side = 1
    // KiB of driver state, corpus pass = plain scan). n_hits >=
    // the exact match count per doc, never misses — the exact span
    // pass runs only on these survivors.
    "q94_bloom_decontaminate" -> ((s, dir) => {
      Dedup.bloomContaminationScan(t(s, dir, "documents"), "doc_id", "text",
          Dedup.splitAssign(col("doc_id")), dfCap = 100)
        .orderBy(col("doc_id"))
    }),

    // BPE MERGE INDUCTION: the round-1 merge-candidate table a BPE
    // trainer ranks — adjacent char-pair counts weighted by word
    // frequency, computed VOCAB-side (the corpus pays one word-count
    // aggregate; the per-char work is bounded by |vocab|). Top 20
    // under a total order.
    "q95_bpe_merges" -> ((s, dir) => {
      TextStats.bpePairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    }),

    // CURATION FUNNEL: the pre-training attrition report — total →
    // quality gate (q26) → +repetition gate (q69) → exact-dedup
    // keepers (q22's digests), all four counts in ONE aggregate.
    "q96_curation_funnel" -> ((s, dir) => {
      Curation.curationFunnel(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("stage"))
    }),

    // SOURCE OVERLAP MATRIX: distinct df-capped shingle hashes shared
    // per source pair — the mixture-contamination diagnostic. Pair
    // expansion bounded by source count per hash, never corpus size.
    "q97_source_overlap" -> ((s, dir) => {
      Dedup.sourceOverlapMatrix(t(s, dir, "documents"), "source",
                                "doc_id", "text", dfCap = 100)
        .orderBy(col("source_a"), col("source_b"))
    }),

    // DUPLICATE N-GRAM FRACTION: per-doc share of shingle occurrences
    // carried by >=2 distinct docs — the Gopher-family cross-doc
    // duplication filter signal, exact integer percentage.
    "q98_dup_ngram_fraction" -> ((s, dir) => {
      Dedup.duplicateShingleFraction(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // SLIDING-WINDOW chunker: overlapping 100-char windows at stride
    // 60 — consecutive chunks share 40 chars of retrieval context;
    // codegen-native substring arithmetic, no UDF, no shuffle.
    "q99_sliding_chunks" -> ((s, dir) => {
      Chunkers.slidingChunks(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("chunk_number"))
    }),

    // ORDERED EVENT FUNNEL: view -> click-after-view ->
    // purchase-after-click, strict event-time order per user. ONE
    // shuffle (user partition); the three stage times stack as window
    // aggregates over the same partitioning — each later stage reads
    // the earlier column, no self-joins; the oracle uses the
    // join-based formulation instead.
    "q104_event_funnel" -> ((s, dir) => {
      eventFunnel(t(s, dir, "events")).orderBy(col("stage"))
    }),

    // CHANGELOG APPLICATION: fold a derived I/U/D changelog into an
    // orders snapshot through the tombstone-aware merge — the oracle
    // computes the final state DIRECTLY from the generating
    // predicates, so the hash match proves the merge machinery.
    "q108_changelog_apply" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val snapshot = o.filter(col("o_orderkey") % 3 =!= 0)
      val ins = o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      val upd = o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("cents", col("cents") + 100L)
        .withColumn("op", lit("U")).withColumn("seq", lit(2L))
      val del = o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(3L))
      Tables.applyChangelog(snapshot, ins.unionByName(upd).unionByName(del),
                            Seq("o_orderkey"), "op", Seq(col("seq")))
        .orderBy(col("o_orderkey"))
    }),

    // PHRASE SEARCH: exact consecutive-token match via the positional
    // anchor-vote algebra — occurrences + first position per doc. The
    // oracle is INDEPENDENT algebra: non-overlapping replace-count on
    // a space-doubled canonical token string (equal because the
    // phrase's distinct terms admit no self-overlap).
    "q109_phrase_search" -> ((s, dir) => {
      Search.phraseOccurrences(t(s, dir, "documents"), "doc_id", "text",
                               "table scan")
        .orderBy(col("doc_id"))
    }),

    // CROSS-DOC DUPLICATED SPANS: the ExactSubstr-family self-scan —
    // maximal token spans covered by 5-shingles occurring in >= 2
    // distinct docs. Names the duplicated REGIONS (boilerplate,
    // templates) a surgical trim cuts, where keep-one dedup drops
    // whole docs. Oracle replays the same positioned-shingle +
    // shared-set + gaps-and-islands algebra.
    "q110_duplicated_spans" -> ((s, dir) => {
      Dedup.crossDocDuplicateSpans(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // MIXTURE ALLOCATION: the data-mixing budget solve — per-source
    // allocation = min(inventory, budget*weight), sampling rate, and
    // the deficit an under-stocked source cannot fill. k-row algebra
    // after ONE map-side token aggregate; weights shared with the
    // oracle builder so the two sides cannot drift.
    "q111_mixture_allocation" -> ((s, dir) => {
      Curation.mixtureAllocation(t(s, dir, "documents"), "source", "text",
                                 MixtureWeightsPpm, MixtureBudgetTokens)
        .orderBy(col("source"))
    }),

    // SQ8 SCALAR-QUANTIZED top-k: the FAISS-SQ compression tier —
    // per-dim (min,max) train, byte codes, midpoint reconstruction
    // folded to ONE native integer dot over the compressed column
    // (weights 2*q_d*r_d + a constant; the vector column is never
    // read at scan time). Oracle replays train/encode/score in SQL.
    "q112_sq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val mm = Ann.sqTrain(e, "embedding")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      val enc = Ann.sqEncode(e, "vec_id", "embedding", mm)
      Ann.sqTopK(enc, "vec_id", mm, qv, k = 10)
        .withColumn("rnk", row_number().over(
            Window.orderBy(col("approx_num").desc, col("vec_id"))).cast("long"))
        .select(col("rnk"), col("vec_id"), col("approx_num"))
    }),

    // FILTERED vector search (pre-filter strategy): metadata predicate
    // pushed to the scan, exact dots only on the matching sliver —
    // recall 1.0 by construction; the IVF post-filter strategy with
    // nprobe escalation is spec-gated (FilteredAnnSpec).
    "q113_filtered_knn" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      Ann.filteredTopKInt(e, "vec_id", "embedding",
                          col("label") === 3, qv, k = 10)
        .withColumn("rnk", row_number().over(
            Window.orderBy(col("dot").desc, col("vec_id"))).cast("long"))
        .select(col("rnk"), col("vec_id"), col("dot"))
    }),

    // VALUE OUTLIERS: the ingest anomaly gate — 3-sigma deviations per
    // event type with the z-test cleared of division AND sqrt:
    // (n*v - S)^2 > 9*(n*Q - S^2), exact decimal algebra both engines.
    "q114_value_outliers" -> ((s, dir) => {
      valueOutliers(t(s, dir, "events"), "event_type", "value")
        .orderBy(col("event_id"))
    }),

    // 7-DAY MOVING REVENUE: the RANGE-frame window (6 PRECEDING over
    // the day NUMBER, so calendar gaps shrink the frame instead of
    // silently widening it the way a ROWS frame does). The corpus
    // reduces map-side to |days| rows first; the frame runs on that
    // bounded table (deliberate bounded single-partition window, same
    // contract as q102). Exact integer cents; ma = floor(sum7/n7).
    "q115_moving_revenue" -> ((s, dir) => {
      movingDailyRevenue(t(s, dir, "events")).orderBy(col("day"))
    }),

    // PER-SOURCE KL DIVERGENCE: which source's language drifts from
    // the corpus blend — fixed-point bits via the log2 recurrence,
    // exact integers both engines; the corpus pays one (source, token)
    // aggregate, everything after is vocab-bounded.
    "q116_source_kl" -> ((s, dir) => {
      TextStats.sourceKlDivergence(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))
    }),

    // EMBEDDING COHESION: per-label centroid spread vs nearest-other-
    // centroid separation — the space-quality report before trusting
    // labels for blocking/voting. Exact integers; the oracle replays
    // centroid floor-means, intra distances, and the k^2 inter table.
    "q117_label_cohesion" -> ((s, dir) => {
      Ann.labelCohesion(t(s, dir, "embeddings"), "vec_id", "embedding",
                        "label")
        .orderBy(col("label"))
    }),

    // CMS JOIN-SIZE ESTIMATE: |orders ⋈ lineitem| from two d·w-row
    // sketches — the planning-time statistic, one-sided by
    // construction (est >= true); the TRUE size sits beside it, q93's
    // truth-next-to-estimate convention.
    "q118_join_size_cms" -> ((s, dir) => {
      import graft.text.Profile
      val ok = t(s, dir, "orders")
        .select(col("o_orderkey").cast("string").as("k"))
      val lk = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("string").as("k"))
      val est = Profile.cmsJoinSizeEstimate(
        Profile.cmsSketch(ok, "k"), Profile.cmsSketch(lk, "k"))
      val truth = ok.join(lk, Seq("k"))
        .agg(count(lit(1)).as("true_join_size"))
      est.crossJoin(broadcast(truth))
    }),

    // WEIGHTED SAMPLE (A-ES): length-proportional top-50 by the
    // fixed-point ln(u)/w key — deterministic, engine-exact; heavier
    // docs draw keys nearer zero. TakeOrdered, no corpus shuffle.
    "q119_weighted_sample" -> ((s, dir) => {
      Curation.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars",
                              k = 50)
        .withColumn("rnk", row_number().over(
            Window.orderBy(col("key_fp").desc, col("doc_id"))).cast("long"))
        .select(col("rnk"), col("doc_id"), col("weight"), col("key_fp"))
    }),

    // LAST-TOUCH ATTRIBUTION: each purchase credits the most recent
    // preceding click/view by the same user — one user-partitioned
    // window (last ... ignoreNulls over the strict past), then a
    // 3-row report. Ties on ts break by event_id: a total order both
    // engines agree on.
    "q120_attribution" -> ((s, dir) => {
      lastTouchAttribution(t(s, dir, "events")).orderBy(col("attributed_to"))
    }),

    // FORWARD AS-OF: each click matched to the user's NEXT purchase
    // at-or-after it (time-to-conversion) — the symmetric primitive of
    // q50, same union-tag-window plan mirrored; oracle is the naive
    // LATERAL inequality formulation (independent algebra).
    "q121_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOf.joinForward(clicks, purchases, "user_id", "ts",
                                       Seq("event_id", "ts"), "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"),
                (unix_micros(col("asof_ts")) - unix_micros(col("ts")))
                  .as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // EXACT GROUPED QUANTILES: rank-selection p25/p50/p75 per type —
    // the oracle uses quantile_disc, a DIFFERENT algorithm sharing
    // only the ceil(p*n) convention: a genuinely independent check.
    "q122_grouped_quantiles" -> ((s, dir) => {
      groupedQuantiles(t(s, dir, "events"), "event_type", "value")
        .orderBy(col("event_type"))
    }),

    // SALTED JOIN: the skew-safe shuffle join — big side salted over 8
    // buckets, small side replicated once per salt, joined on
    // (key, salt). The oracle is the PLAIN join: salting must be
    // result-invariant by construction. Integer cents so partial-sum
    // order can't matter.
    "q123_salted_join" -> ((s, dir) => {
      val ord = t(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"))
      graft.io.Skew.saltedJoin(ord, cust, Seq("c_custkey"), "cents",
                               buckets = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("c_nationkey"))
    }),

    // GRADIENT BOOSTING, 2 ROUNDS: the L2 boosting outer loop over
    // depth-1 trees — global-mean start, per-round best stump on the
    // CURRENT residuals, truncated-integer leaf fits, post-round SSE
    // trace. Exactly the XGBoost loop at shrinkage 1 in exact integer
    // algebra; the oracle unrolls both rounds as generated CTEs.
    "q131_boost_stumps" -> ((s, dir) => {
      graft.learn.Learn.boostStumps(
          boostEventFeatures(s, dir),
          Seq("user_mod7", "hour_of_day"), "cents", rounds = 2)
        .orderBy(col("round"))
    }),

    // PSEUDO-RELEVANCE FEEDBACK: RM3-style query expansion — seed
    // retrieval on the literal terms, top-TF-IDF expansion terms mined
    // from the seed docs, re-retrieval under the expanded set. The
    // vocabulary-mismatch fix, exact integers, every cut
    // TakeOrderedAndProject over map-combined aggregations.
    "q164_prf_expansion" -> ((s, dir) => {
      Search.prfTopK(t(s, dir, "documents"), "doc_id", "text",
                     "stream window", seedK = 3, expand = 2, k = 10)
        .orderBy(col("rnk"))
    }),

    // BOOSTED INFERENCE: q131's trained additive model APPLIED — the
    // fitted prediction per feature cell plus the exact residual SSE,
    // closing the train→score loop on the verified surface. The model
    // folds into one literal when-chain; scoring is a map-side pass +
    // one feature-cell aggregation.
    "q163_boost_inference" -> ((s, dir) => {
      graft.learn.Learn.boostFittedValues(
          boostEventFeatures(s, dir),
          Seq("user_mod7", "hour_of_day"), "cents", rounds = 2)
        .orderBy(col("user_mod7"), col("hour_of_day"))
    }),

    // BOOSTED INFERENCE FROM THE STORED MODEL: q163's twin served from
    // the PERSISTED artifact (train once per JVM, score from the
    // rounds-sized model frame — the q141/q175 stored-serving
    // convention). A correct stored model is indistinguishable from
    // inline training, so the oracle is q163's SQL verbatim.
    "q182_boost_serve" -> ((s, dir) => {
      graft.learn.Learn.boostScoreCells(
          boostEventFeatures(s, dir),
          Seq("user_mod7", "hour_of_day"), "cents",
          storedBoostModel(s, dir))
        .orderBy(col("user_mod7"), col("hour_of_day"))
    }),

    // TEXT MATCH FROM THE STORED POSTINGS INDEX: q39's ES-match
    // semantics served as a pruned index probe (the q175/q181
    // convention — the corpus text is never opened; oracle shared
    // verbatim with q39).
    "q183_text_match_stored" -> ((s, dir) => {
      Search.textMatchStored(s, storedPostingsPath(s, dir), "doc_id",
                             "stream window")
        .orderBy(col("doc_id"))
    }),

    // METADATA SEARCH SERVED FROM THE INDEX — the reference's
    // `GET /documents/search/metadata` shape: candidate ids off the
    // stored postings probe, then the metadata-filtered store row
    // fetch (semi-join — ids never widen the scan).
    "q184_metadata_search_stored" -> ((s, dir) => {
      val ids = Search.textMatchStored(s, storedPostingsPath(s, dir),
                                       "doc_id", "stream window")
      t(s, dir, "documents").filter(col("lang") === "en")
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // INCREMENTAL DISTINCT SKETCH: q90's report served from the STORED
    // register state after a 3-batch incremental fold (read state +
    // merge delta + rewrite per batch — register max / occurrence sum,
    // both exact). Incremental maintenance must be indistinguishable
    // from a full recompute: oracle = q90's SQL verbatim.
    "q185_incremental_sketch" -> ((s, dir) => {
      graft.text.Profile.sketchFromState(
          storedProfileState(s, dir)._1, "source")
        .orderBy(col("source"))
    }),

    // INCREMENTAL LENGTH PROFILE: q87's quantiles served from the
    // stored log2 histogram after the same 3-batch fold (counts are
    // additive). Oracle = q87's SQL verbatim.
    "q186_incremental_length_profile" -> ((s, dir) => {
      graft.text.Profile.histogramQuantiles(
          storedProfileState(s, dir)._2, "source", Seq(50, 90, 99))
        .orderBy(col("source"))
    }),

    // INCREMENTAL CMS: q93's heavy-hitter report probed against the
    // STORED counter state after the same 3-batch fold (counters are
    // additive — the third mergeable law). Oracle = q93's SQL verbatim.
    "q187_incremental_cms" -> ((s, dir) => {
      val (_, top) = cmsHeavyHitterProbes(s, dir)
      graft.text.Profile.cmsEstimate(storedProfileState(s, dir)._3, top,
                                     "token")
        .orderBy(col("true_cnt").desc, col("token").asc)
    }),

    // SUBTRACTIVE LENGTH PROFILE: the DELETION side of the mergeable-
    // histogram law (the Main delete / demotion fold): batch 2's delta
    // is subtracted from the fully-folded stored state — counts are
    // additive, so the result must be INDISTINGUISHABLE from a one-shot
    // histogram over the remaining corpus (oracle = q87's SQL over
    // `documents` minus batch 2). Zero rows drop exactly like a rescan.
    "q188_subtractive_length_profile" -> ((s, dir) => {
      val hist = storedProfileState(s, dir)._2
      val b2 = t(s, dir, "documents")
        .filter(graft.dedup.Dedup.hashBucket(col("doc_id"), 3) === 2)
      val remaining = graft.text.Profile.mergeHistograms("source",
          hist,
          graft.text.Profile.lengthHistogram(b2, "source", "n_chars")
            .withColumn("cnt", -col("cnt")))
        .filter(col("cnt") =!= 0L)
      graft.text.Profile.histogramQuantiles(remaining, "source", Seq(50, 90, 99))
        .orderBy(col("source"))
    }),

    // SUBTRACTIVE CMS: the same deletion law for the Count-Min state —
    // batch 2's counters subtract exactly, and probing the remaining
    // sketch for the REMAINING corpus's top-20 answers bit-identically
    // to a one-shot sketch that never saw batch 2.
    "q189_subtractive_cms" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__b", graft.dedup.Dedup.hashBucket(col("doc_id"), 3))
      def toks(d: DataFrame) = d.select(
        explode(filter(split(lower(col("text")), "\\W+"), x => x =!= ""))
          .as("token"))
      val remaining = graft.text.Profile.mergeCmsSketches(
          storedProfileState(s, dir)._3,
          graft.text.Profile.cmsSketch(toks(docs.filter(col("__b") === 2)),
                                       "token")
            .withColumn("cnt", -col("cnt")))
        .filter(col("cnt") =!= 0L)
      val top = toks(docs.filter(col("__b") =!= 2))
        .groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("token").asc)
        .limit(20)
      graft.text.Profile.cmsEstimate(remaining, top, "token")
        .orderBy(col("true_cnt").desc, col("token").asc)
    }),

    // ZIPF SLOPE FROM THE STORED VOCAB: q169's corpus-health scalar
    // served from the incrementally-folded term-frequency state (term
    // counts are additive — the zipf family's mergeable form) instead
    // of re-tokenizing the corpus. Oracle = q169's SQL verbatim.
    "q190_zipf_stored_vocab" -> ((s, dir) =>
      TextStats.zipfSlopeFromVocab(storedProfileState(s, dir)._4)),

    // SHARDED-REGISTER COLLAPSE LAW: the register state built under a
    // doc-shard dimension (the layout `Main delete` exploits to
    // rebuild ONE shard's registers exactly — ProfileState.RegShards)
    // collapses by register-wise max across shards to the UNSHARDED
    // state bit-for-bit: max is associative over any partition of the
    // docs. Oracle = q90's SQL verbatim — the sharding must be
    // invisible to the served report.
    "q191_sharded_register_collapse" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(
        col("source"),
        graft.dedup.Dedup.hashBucket(col("doc_id"),
          graft.text.ProfileState.RegShards).as("shard"),
        explode(filter(split(lower(coalesce(col("text"), lit(""))), "\\W+"),
                       t => t =!= "")).as("__tok"))
      val sharded = graft.text.Profile
        .sketchStateBy(toks, Seq("shard", "source"), "__tok")
      graft.text.Profile.sketchFromState(
          graft.text.Profile.mergeSketchStatesBy(Seq("source"),
                                                 sharded.drop("shard")),
          "source")
        .orderBy(col("source"))
    }),

    // UNICODE NFC NORMALIZATION: the canonical-composition pass every
    // training pipeline runs before dedup/tokenization — precomposed
    // and decomposed encodings of the same visible text must hash
    // identically. The corpus text is ASCII (NFC = identity, the fast
    // path), so every row gets a DECOMPOSED suffix (e+U+0301, U+212B,
    // A+U+030A — all stable singleton/canonical compositions) and the
    // engine must compose it; DuckDB's utf8proc nfc_normalize is the
    // independent oracle, compared through codepoint counts + md5.
    "q132_nfc_normalize" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"), lit(" cafe\u0301 \u212B A\u030A")).as("raw"))
      raw.select(
          col("doc_id"),
          length(col("raw")).cast("long").as("n_raw"),
          length(graft.functions.NormalizeExpressions.nfcNormalize(col("raw")))
            .cast("long").as("n_nfc"),
          md5(graft.functions.NormalizeExpressions.nfcNormalize(col("raw")))
            .as("nfc_md5"))
        .orderBy(col("doc_id"))
    }),

    // TEMPLATE-HUB PAGERANK: power iteration over the shingle-share
    // near-dup graph in exact fixed point — a doc boilerplate-linked
    // to many others collects rank from all of them, so the top rows
    // name the corpus's template centers. 3 rounds, d=0.85, every
    // division truncating: one exact answer, no epsilon.
    "q130_template_rank" -> ((s, dir) => {
      val edges = Dedup.shingleShareEdges(t(s, dir, "documents"),
                                          "doc_id", "text")
      graft.operators.Graph.pageRank(edges, "doc_a", "doc_b", iters = 3)
        .orderBy(col("pr").desc, col("node"))
    }),

    // TRIANGLE CENSUS: per-node triangle count + local clustering
    // coefficient over the q130 near-dup graph, degree-oriented so no
    // template hub can explode the wedge join (Suri & Vassilvitskii
    // WWW'11 — O(m^{3/2}) regardless of skew). High coefficient =
    // mirror/template clique; high degree + low coefficient =
    // boilerplate glue — the shape split PageRank alone cannot draw.
    "q171_triangle_census" -> ((s, dir) => {
      val edges = Dedup.shingleShareEdges(t(s, dir, "documents"),
                                          "doc_id", "text")
      graft.operators.Graph.triangleCounts(edges, "doc_a", "doc_b")
        .orderBy(col("node"))
    }),

    // ZIPF SLOPE: the rank-frequency log-log regression in exact
    // division-free rationals over fixed-point logs — see
    // TextStats.zipfSlope.
    "q169_zipf_slope" -> ((s, dir) =>
      TextStats.zipfSlope(t(s, dir, "documents"), "text")),

    // CLAMPED LABEL PROPAGATION (Zhu & Ghahramani 2002): the
    // weak-supervision pass — a 10% md5-bucket seed set carries
    // trusted lang labels, and each round every unlabeled doc
    // adjacent (shingle-share near-dup graph, q130's edges) to
    // labeled docs takes the majority neighbor label (ties to the
    // smallest label), clamped once assigned. `round` = hop distance
    // from the seeds; unreached docs stay null — the report says
    // exactly how far a labeling budget reaches through the corpus.
    "q168_label_propagation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = Dedup.shingleShareEdges(docs, "doc_id", "text")
      val seeds = docs.filter(Dedup.hashBucket(col("doc_id"), 100) < 10)
        .select(col("doc_id"), col("lang"))
      val lab = graft.operators.Graph.labelPropagate(
          edges, "doc_a", "doc_b", seeds, "doc_id", "lang", iters = 2)
      docs.select(col("doc_id"))
        .join(lab.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("plabel"), col("round"))
        .orderBy(col("doc_id"))
    }),

    // REGRESSION STUMP: the variance-reduction split (the regression-
    // tree inner loop) — per-feature best threshold by fixed-point
    // gain S_L^2/n_L + S_R^2/n_R over strict-prefix cumulants, with
    // the fitted leaf means. Uniform cents carry no real signal; the
    // report still names each feature's best cut deterministically
    // (and the spec proves recovery on planted structure).
    "q129_regression_stump" -> ((s, dir) => {
      val feats = t(s, dir, "events").select(
        expr("user_id % 7").cast("long").as("user_mod7"),
        hour(col("ts")).cast("long").as("hour_of_day"),
        round(col("value") * 100).cast("long").as("cents"))
      graft.learn.Learn.trainRegressionStump(
          feats, Seq("user_mod7", "hour_of_day"), "cents")
        .orderBy(col("feat"))
    }),

    // CUSUM DRIFT SCAN: the changepoint statistic over daily revenue —
    // n-scaled cumulative deviation (division-free), full trace + the
    // arg-max flag. Uniform synthetic revenue has no planted shift;
    // the scan still names the largest-drift day deterministically.
    "q127_cusum_drift" -> ((s, dir) => {
      cusumDrift(t(s, dir, "events")).orderBy(col("day"))
    }),

    // DAILY DISTINCT USERS, SKETCHED: the q90 HLL register algebra
    // grouped by DAY — the time-series form of the mergeable
    // distinct-count sketch, with the exact count beside it (q93's
    // truth-next-to-estimate convention).
    "q128_daily_distinct_hll" -> ((s, dir) => {
      import graft.text.Profile
      val ev = t(s, dir, "events").select(
        to_date(col("ts")).as("day"), col("user_id").cast("string").as("uid"))
      Profile.distinctSketch(ev, "day", "uid")
        .join(ev.groupBy(col("day"))
                .agg(countDistinct(col("uid")).as("true_distinct")),
              Seq("day"))
        .orderBy(col("day"))
    }),

    // CUMULATIVE DISTINCT CURVE: "distinct users seen BY day d" for
    // every d from the running union of daily HLL registers —
    // per-bucket running max, delta-aggregated so no day×bucket grid
    // ever materializes; exact cumulative count (running first-seen
    // sum) beside the estimate. The growth report a 100 TB event log
    // answers from register algebra, never an expanding distinct.
    "q173_cumulative_distinct_hll" -> ((s, dir) => {
      import graft.text.Profile
      val ev = t(s, dir, "events").select(
        to_date(col("ts")).as("day"), col("user_id").cast("string").as("uid"))
      Profile.cumulativeDistinct(ev, "day", "uid").orderBy(col("day"))
    }),

    // ROLLING 7-DAY ACTIVE USERS: the WAU curve from register algebra
    // — window union = per-bucket max over a CALENDAR range frame
    // (gap days age keys out), the day×bucket grid bounded by
    // calendar × 256, exact trailing count beside the estimate via
    // the linear explode-forward trick.
    "q180_rolling_active_users" -> ((s, dir) => {
      import graft.text.Profile
      val ev = t(s, dir, "events").select(
        to_date(col("ts")).as("day"), col("user_id").cast("string").as("uid"))
      Profile.rollingDistinct(ev, "day", "uid", windowDays = 7)
        .orderBy(col("day"))
    }),

    // RETENTION COHORTS: users grouped by first-seen day, activity
    // counted at each day offset, retention per-mille truncating —
    // the cohort table every large-scale event pipeline reports. One
    // (uid, day) distinct, one cohort groupBy, one join back.
    "q174_retention_cohorts" -> ((s, dir) => {
      val ua = t(s, dir, "events").select(
        to_date(col("ts")).as("day"), col("user_id").as("uid")).distinct()
      val cohort = ua.groupBy(col("uid")).agg(min(col("day")).as("cohort_day"))
      val sizes = cohort.groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("cohort_users"))
      ua.join(cohort, Seq("uid"))
        .select(col("cohort_day"),
                datediff(col("day"), col("cohort_day")).cast("long")
                  .as("day_offset"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("active_users"))
        .join(sizes, Seq("cohort_day"))
        .withColumn("retention_pm",
                    expr("1000 * active_users div cohort_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // SKETCH SET ALGEBRA: vocabulary overlap between every source
    // pair from the q90 HLL registers alone — union exact on the
    // sketch (register-wise max IS the union's sketch), intersection
    // by inclusion–exclusion clamped at 0, Jaccard per-mille
    // truncating. 256 register rows per source answer what an exact
    // distinct-intersection would shuffle the whole vocabulary for.
    "q170_sketch_overlap" -> ((s, dir) => {
      import graft.text.Profile
      val toks = t(s, dir, "documents").select(
        col("source"),
        explode(filter(split(lower(coalesce(col("text"), lit(""))), "\\W+"),
                       tk => tk =!= "")).as("__tok"))
      Profile.sketchOverlap(Profile.hllRegisters(toks, "source", "__tok"),
                            "source")
        .orderBy(col("g_a"), col("g_b"))
    }),

    // SPELLING SUGGESTION: exact Levenshtein-1 "did you mean" from
    // the corpus vocabulary via SymSpell delete-variant equi-joins —
    // no edit-distance DP, no candidate scan. Probes are the top-20
    // frequent terms (len ≥ 5) with their middle character deleted —
    // deterministic misspellings derived from the corpus itself.
    // Candidates rank by (tf desc, term), top 3 per probe.
    "q172_spell_suggest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = docs.select(
          explode(filter(split(lower(coalesce(col("text"), lit(""))), "\\W+"),
                         tk => tk =!= "")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      val probes = vocab.filter(length(col("tok")) >= 5)
        .orderBy(col("tf").desc, col("tok")).limit(20)
        .select(expr(
          "concat(substring(tok, 1, CAST(length(tok) / 2 AS INT)), " +
          "substring(tok, CAST(length(tok) / 2 AS INT) + 2, length(tok)))")
          .as("probe"))
        .distinct()
      Search.spellSuggest(docs, "text", probes, "probe", k = 3)
        .orderBy(col("probe"), col("rnk"))
    }),

    // HYBRID RETRIEVAL by RECIPROCAL-RANK FUSION: the q81 BM25 bag
    // ranking and the q109 exact-phrase ranking for the same query,
    // fused as sum of 10^6 div (60 + rank) — agreement wins without
    // ever comparing incomparable raw scores. Both legs rank top-20
    // with the (score desc, doc_id) total order; bounded single-
    // partition rank windows on the 20-row lists are deliberate.
    "q126_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val lex = Search.bm25TopK(docs, "doc_id", "text", "table scan", k = 20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      val phr = Search.phraseOccurrences(docs, "doc_id", "text", "table scan")
        .orderBy(col("n_occurrences").desc, col("doc_id")).limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("n_occurrences").desc, col("doc_id"))).cast("long"))
      Search.rrfFuse(Seq(lex.select(col("doc_id"), col("rnk")),
                         phr.select(col("doc_id"), col("rnk"))),
                     "doc_id", "rnk", k = 10)
        .orderBy(col("rrf_score").desc, col("doc_id"))
    }),

    // STUMP TRAINING: the exact greedy split finder (GBDT inner loop)
    // — per-feature optimal (threshold, direction) by training error
    // via prefix sums over the value histogram. Label is the derived
    // separable target cents >= 5000 (the synthetic corpus carries no
    // organic signal): the trainer must recover threshold 50 on the
    // binned feature with err 0 and report the noise feature at
    // minority-class err.
    "q125_stump_split" -> ((s, dir) => {
      val feats = t(s, dir, "events")
        .select(round(col("value") * 100).cast("long").as("cents"),
                col("user_id"))
        .select(expr("cents div 100").as("cents_div100"),
                expr("user_id % 7").cast("long").as("user_mod7"),
                when(col("cents") >= 5000, 1L).otherwise(-1L).as("y"))
      graft.learn.Learn.trainStump(
          feats, Seq("cents_div100", "user_mod7"), "y")
        .orderBy(col("feat"))
    }),

    // FUZZY NEAR-DUP: blocked record linkage by edit distance — the
    // typo-robust complement to the shingle family. Both engines run
    // the same normalize → block → length-prefilter → levenshtein
    // algebra; levenshtein itself is the independently-implemented
    // piece.
    "q124_fuzzy_neardup" -> ((s, dir) => {
      Dedup.fuzzyNearDup(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Z-ORDER layout statistics: events bucketed to a 256x256 grid,
    // clustered by the Morton interleave, per-4096-z-block min/max of
    // BOTH dimensions — the footer stats that let either predicate
    // prune. The oracle replays the interleave from the same
    // generated sum-of-terms SQL.
    "q107_zorder_stats" -> ((s, dir) => {
      import graft.operators.ZOrder
      val g = t(s, dir, "events")
        .select((col("user_id") % 256).cast("long").as("xb"),
                (abs(col("event_id")) % 256).cast("long").as("yb"))
      ZOrder.blockStats(g, "xb", "yb", bits = 8, blockSize = 4096)
        .orderBy(col("block"))
    }),

    // INCREMENTAL AGGREGATE MAINTENANCE: the stored per-(day, type)
    // aggregate absorbs the newest day's partials by union +
    // re-aggregate — the oracle recomputes directly from raw events,
    // so the hash match proves the merge algebra exact.
    "q106_incremental_agg" -> ((s, dir) => {
      incrementalEventAgg(t(s, dir, "events"))
        .orderBy(col("day"), col("event_type"))
    }),

    // PEAK CONCURRENCY: per day, the max number of simultaneously
    // active q31 sessions and when it was first reached — a
    // day-partitioned sweep line with carry-in, never the quadratic
    // interval self-join.
    "q105_peak_concurrency" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sessions = t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
               unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum(col("new_s")).over(w))
        .groupBy(col("user_id"), col("session_no"))
        .agg(min(unix_micros(col("ts"))).as("start_us"),
             max(unix_micros(col("ts"))).as("end_us"))
      peakConcurrency(sessions).orderBy(col("day"))
    }),

    // DECONTAMINATION APPLIED: rebuild each test doc with q83's leaked
    // token spans cut out — kept/removed counts + the digest of the
    // canonical cleaned form (fully-cut docs keep a NULL digest).
    "q103_decontaminate_apply" -> ((s, dir) => {
      Dedup.applyContaminationCuts(t(s, dir, "documents"), "doc_id", "text",
          Dedup.splitAssign(col("doc_id")), dfCap = 100)
        .orderBy(col("doc_id"))
    }),

    // VOCABULARY COVERAGE CURVE: the vocab size covering 50/90/99% of
    // token occurrences — via the frequency-of-frequencies histogram
    // (tiny), never a global vocab sort. Exact integer boundary math.
    "q102_vocab_coverage" -> ((s, dir) => {
      graft.text.Profile.vocabCoverage(t(s, dir, "documents"), "text")
        .orderBy(col("threshold"))
    }),

    // CONTENT-DEFINED chunking: rolling 16-char-window md5 cuts mod
    // 64 — edits only rewrite chunks up to the first surviving cut,
    // the storage-dedup property fixed-width lacks. Pure array
    // algebra, zero shuffles.
    "q101_cdc_chunks" -> ((s, dir) => {
      Chunkers.cdcChunks(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("chunk_number"))
    }),

    // kNN LABEL VOTE: majority label among the 5 nearest other
    // vectors (exact integer dots, ties to the smallest label) vs the
    // held-out vector's own label — the embedding-space quality probe.
    "q100_knn_label_vote" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("qid"), Ann.intVec(col("embedding")).as("qv"),
                col("label").cast("long").as("true_label"))
      Ann.knnLabelVote(e, "vec_id", "embedding", "label",
                       queries.select(col("qid"), col("qv")), "qid", "qv", k = 5)
        .join(queries.select(col("qid").as("query_id"), col("true_label")),
              Seq("query_id"))
        .withColumn("correct", col("pred_label") === col("true_label"))
        .orderBy(col("query_id"))
    }),

    // HARD NEGATIVE MINING — for each anchor, the k nearest vectors
    // with a DIFFERENT label: the negatives a contrastive objective
    // learns the most from (random negatives saturate the loss). Same
    // broadcast-anchors/one-corpus-scan shape as batch kNN.
    "q154_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("qid"), Ann.intVec(col("embedding")).as("qv"),
                col("label").as("ql"))
      Ann.hardNegatives(e, "vec_id", "embedding", "label",
                        queries, "qid", "qv", "ql", k = 3)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // DOMAIN-RELEVANCE IMPORTANCE WEIGHTS (DSIR-style data selection,
    // exact-integer linearization): hashed word features, target =
    // the src0/src1 slice, every doc scored Σ c_f·(t_f·R − r_f·T) —
    // positive per feature exactly when the target distribution
    // over-represents it. One corpus explode + (doc,feat) agg; the
    // 64-row feature table broadcasts back.
    "q155_domain_relevance" -> ((s, dir) => {
      Curation.domainRelevanceWeights(t(s, dir, "documents"),
          "doc_id", "text", col("source").isin("src0", "src1"), buckets = 64)
        .orderBy(col("doc_id"))
    }),

    // TOP-N-GRAM CHAR FRACTION: the repetition block's char-fraction
    // half (q69 covers the frequency half) — fraction of characters
    // covered by the most common word {2,3,4}-gram (thresholds
    // 0.20/0.18/0.16 as integer rationals). One (doc, n, gram) count
    // shuffle over a 3-size union explode, rank-1 window, pivot.
    "q162_top_ngram_fraction" -> ((s, dir) => {
      TextStats.topNgramSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // TOKENIZER FERTILITY BY LANGUAGE: tokens-per-word of the q145
    // trained tokenizer aggregated per language — the metric that
    // decides whether one tokenizer serves a multilingual corpus or
    // starves a language (high fertility = more tokens per word =
    // less content per context window). Exact integers: per-mille
    // ratio via integer division; one vocab-join pass (q146) + one
    // lang-keyed aggregation.
    "q161_tokenizer_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // train exposes its last round's folded vocab — apply joins
      // against it directly instead of re-deriving the distinct vocab
      // and re-running every merge fold (and the merges collect
      // round-trip disappears with it)
      val (_, vocab) = TextStats.bpeTrainWithVocab(docs, "text", rounds = 3)
      TextStats.bpeApplyVocab(docs, "doc_id", "text", vocab)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_words")).as("n_words"),
             sum(col("n_tokens")).as("n_tokens"))
        .withColumn("tokens_per_kword",
          expr("(n_tokens * 1000) div n_words"))
        .orderBy(col("lang"))
    }),

    // QUALITY-WEIGHTED KEEP-ONE: q60's canonical selection with the
    // survivor chosen by QUALITY (q148's stopword-density score), not
    // length — dedup that improves the corpus instead of just
    // shrinking it (near-dup clusters usually hold a clean original
    // and boilerplate-wrapped copies; min-id/longest keeps whichever
    // landed first). Total order (score desc, id asc) keeps the
    // survivor set unique; candidates come from the STORED signature
    // table (the q133/q134 production posture — bit-identical to the
    // re-shingle path, the corpus pays only the quality scan).
    "q160_keep_best_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextStats.qualitySignals(docs, "text")
        .withColumn("qscore",
          expr("(n_stopwords * 10000) div greatest(n_tokens, 1)"))
      Dedup.keepOneFromSigs(scored, "doc_id", col("qscore"),
                            storedSigs(s, dir))
        .select(col("doc_id"), col("comp"), col("qscore"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // MAXSIM LATE INTERACTION: multi-vector retrieval — docs are bags
    // of 10 vectors (vec_id div 10), the query is doc 0's bag, score =
    // Σ_q max_d dot. The query bag broadcasts; corpus scanned once;
    // map-combined max+sum aggregations; TakeOrderedAndProject cut.
    "q158_maxsim_late_interaction" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val docs = e.select(expr("vec_id div 10").as("doc"), col("embedding"))
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qi"), Ann.intVec(col("embedding")).as("qv"))
      Ann.maxSimTopK(docs, "doc", "embedding", queries, "qi", "qv", k = 10)
        .orderBy(col("rnk"))
    }),

    // MATRYOSHKA OVERLAP: per query, how much of the full-dim exact
    // top-10 the first-16-dims ranking retains — the eval that decides
    // whether a truncated tier can front the index.
    "q159_matryoshka_overlap" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").cast("long"), col("embedding"))
        .collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).map(Ann.quantizeL).toSeq))
        .toSeq.sortBy(_._1)
      Ann.truncatedOverlapAtK(e, "vec_id", "embedding", queries,
                              k = 10, dims = 16)
        .orderBy(col("query_id"))
    }),

    // DEDUP THRESHOLD SWEEP: the sensitivity report for the single
    // most consequential curation knob — per Jaccard gate t ∈
    // {50..90}%, how many candidate pairs and distinct docs the cut
    // implicates, ALL tiers from ONE df-capped pair-count pass (the
    // q166 convention: adding a gate adds a predicate, never a
    // shingle pass). Gates as cross-multiplied integer rationals:
    // J ≥ t/100 ⇔ 100·inter ≥ t·(na+nb−inter).
    "q179_dedup_threshold_sweep" -> ((s, dir) => {
      val pc = Dedup.ngramPairCounts(t(s, dir, "documents"), "doc_id",
                                     "text", "lang", dfCap = 20)
        .localCheckpoint(true)
      val ths = Seq(50L, 60L, 70L, 80L, 90L)
      val gated = pc.select(col("a_id"), col("b_id"), col("inter"),
                            col("na"), col("nb"),
                            explode(typedLit(ths)).as("t_pct"))
        .filter(col("inter") * 100 >=
                col("t_pct") * (col("na") + col("nb") - col("inter")))
      // ONE aggregation serves both outputs (was two passes over the
      // pin + two joins): each gated pair contributes exactly two
      // exploded endpoint rows, so n_pairs = rows div 2 exactly
      val agg = gated
        .select(col("t_pct"),
                explode(array(col("a_id"), col("b_id"))).as("d"))
        .groupBy(col("t_pct"))
        .agg(expr("count(1) div 2").as("n_pairs"),
             countDistinct(col("d")).as("n_docs"))
      s.range(1).select(explode(typedLit(ths)).as("t_pct"))
        .join(agg, Seq("t_pct"), "left")
        .select(col("t_pct"),
                coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
                coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy(col("t_pct"))
    }),

    // PMI COLLOCATIONS: the phrase-mining pass — adjacent word pairs
    // co-occurring far beyond their parts' prediction, ranked by the
    // exp-free integer rational 10⁶·c_xy·N div (c_x·c_y) (log is
    // monotone — identical order, no transcendental), positional
    // marginals, hapax guard at c_xy ≥ 5, top-20.
    "q178_pmi_collocations" -> ((s, dir) =>
      TextStats.pmiCollocations(t(s, dir, "documents"), "text",
                                minCount = 5, k = 20)),

    // SIGN RANDOM-PROJECTION OVERLAP: q159's truncation question for
    // embeddings NOT trained matryoshka-style — a ±1 md5-derived
    // projection (Achlioptas/JL) mixes every input dimension into each
    // of 16 outputs, so dot products survive ANY coordinate layout;
    // overlap@10 vs the full-dim exact ranking, exact integers.
    "q176_sign_projection_overlap" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").cast("long"), col("embedding"))
        .collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).map(Ann.quantizeL).toSeq))
        .toSeq.sortBy(_._1)
      Ann.signProjectionOverlapAtK(e, "vec_id", "embedding", queries,
                                   k = 10, rDims = 16)
        .orderBy(col("query_id"))
    }),

    // GOPHER RULE BUNDLE: the named heuristic battery (word count,
    // mean word length, symbol/bullet/ellipsis ratios, alpha-word
    // share, function-word floor) as per-doc flags + the conjunction —
    // every ratio an exact-integer cross-multiplication. Pure per-row
    // algebra, fused into the scan.
    "q157_gopher_rules" -> ((s, dir) => {
      TextStats.gopherRules(t(s, dir, "documents"), "doc_id", "text",
                            minWords = 50, maxWords = 100000)
        .orderBy(col("doc_id"))
    }),

    // CLUSTER-BALANCED SAMPLE: the q136 trained quantizer's cells as
    // the strata — at most 10 vectors per discovered cluster, smallest
    // ids first, so the sample covers embedding space evenly instead
    // of echoing cluster skew. One group-key shuffle after assignment;
    // rank<=cap pushes map-side (WindowGroupLimit).
    "q156_balanced_sample" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // trainer as q136; the lazy assignment reads its own projection
      val cents = Ann.withIntVec(e, "vec_id", "embedding")(
        Ann.kmeansFitInt(_, k = 8, rounds = 2))
      val asg = Ann.assignMinL2Int(
        e.withColumn("__iv", Ann.intVec(col("embedding"))), "__iv", cents)
      Curation.balancedSample(
          asg.select(col("cell"), col("vec_id")),
          "cell", "vec_id", cap = 10)
        .orderBy(col("cell"), col("rk"))
    }),

    // S9 — PPTX conversion gate, same byte-exact contract as q56's
    // DOCX: wrap each document's text into a real minimal PPTX (one
    // slide per line), extract back through zip + DOM, chunk; the
    // oracle chunks the ORIGINAL text, so slide ordering, XML escaping
    // and the per-slide join must all roundtrip exactly.
    "q84_pptx_roundtrip" -> ((s, dir) => {
      import graft.ingest.Office
      // zip+XML per doc is the corpus pass — spread a too-narrow scan
      // across the session's cores first (identity at scale)
      val extracted = graft.io.Tables.spread(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), Office.pptxOf(col("text")).as("pptx"))
        .select(col("doc_id"), Office.pptxTextOf(col("pptx")).as("text"))
      Chunkers.chunkDocuments(extracted, "doc_id", "text",
          ChunkerConfig(strategy = Strategy.FixedWidth))
        .select(col("doc_id"), col("chunk_id"), col("content"),
                col("chunk_number").cast("long").as("chunk_number"),
                col("total_chunks").cast("long").as("total_chunks"))
        .orderBy(col("doc_id"), col("chunk_number"))
    }),

    // S9 — XLSX conversion gate (shared-strings part, one string per
    // line), the third OOXML format the reference ingests first-class;
    // identical contract to q56/q84.
    "q85_xlsx_roundtrip" -> ((s, dir) => {
      import graft.ingest.Office
      // zip+XML per doc is the corpus pass — spread a too-narrow scan
      // across the session's cores first (identity at scale)
      val extracted = graft.io.Tables.spread(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), Office.xlsxOf(col("text")).as("xlsx"))
        .select(col("doc_id"), Office.xlsxTextOf(col("xlsx")).as("text"))
      Chunkers.chunkDocuments(extracted, "doc_id", "text",
          ChunkerConfig(strategy = Strategy.FixedWidth))
        .select(col("doc_id"), col("chunk_id"), col("content"),
                col("chunk_number").cast("long").as("chunk_number"),
                col("total_chunks").cast("long").as("total_chunks"))
        .orderBy(col("doc_id"), col("chunk_number"))
    }),

    // IMAGE PERCEPTUAL near-dup (dHash): per doc, generate a block-
    // pattern PNG whose pattern id is doc_id%16 but whose brightness
    // (offset) AND resolution both vary per doc — byte-wise all 500
    // files differ — then REAL-decode and dHash (Codecs.dhash8: box-
    // average to 8×8, 56 neighbour-comparison bits). The hash must
    // cancel brightness and resolution, collapsing the corpus to its
    // 16 perceptual identities; dedup is then ONE groupBy-shuffle on
    // the 56-bit key (window: cluster size + min-id canonical), never
    // a pairwise image compare. The oracle recomputes the hash from
    // the generator formula in pure SQL — the decode+hash must land on
    // exactly the algebraic value.
    "q86_image_dhash" -> ((s, dir) => {
      import graft.multimodal.Codecs
      import org.apache.spark.sql.expressions.Window
      val p = (col("doc_id") % 16).cast("int")
      val off = expr("CAST((doc_id DIV 16) % 5 AS INT)")
      val w = (lit(8) * (lit(2) + col("doc_id") % 3)).cast("int")
      val h = (lit(8) * (lit(2) + (col("doc_id") * 5) % 4)).cast("int")
      val win = Window.partitionBy(col("dhash"))
      t(s, dir, "documents")
        .select(col("doc_id"), Codecs.pngPatternOf(w, h, p, off).as("png"))
        .select(col("doc_id"), Codecs.dhashOf(col("png")).as("dhash"))
        .select(col("doc_id"), col("dhash"),
                count(lit(1)).over(win).as("cluster_sz"),
                min(col("doc_id")).over(win).as("canonical_id"))
        .withColumn("is_canonical",
                    (col("doc_id") === col("canonical_id")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // Corpus length profile via the mergeable log2-histogram sketch
    // (Profile.lengthProfile): per-source doc count + p50/p90/p99
    // lower bounds. The heavy scan reduces to a (source, bin≤64)
    // groupBy — kilobytes of shuffle at any corpus size — and the
    // quantile resolution is exact integer algebra over the sketch,
    // reproducible under any merge order (unlike percentile_approx).
    "q87_length_profile" -> ((s, dir) => {
      graft.text.Profile.lengthProfile(
          t(s, dir, "documents"), "source", "n_chars")
        .orderBy(col("source"))
    }),

    // DISTINCT-COUNT SKETCH (HyperLogLog registers, exact md5-bit
    // algebra): distinct tokens per source WITHOUT count(distinct)'s
    // every-distinct-value shuffle — registers are max-combined
    // map-side, the shuffle carries ≤256 rows per source, and the
    // estimate (raw harmonic-mean HLL, ±6.5% at m=256) is pure integer
    // algebra the oracle reproduces bit-for-bit.
    "q90_distinct_sketch" -> ((s, dir) => {
      graft.text.Profile.distinctTokenProfile(
          t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))
    }),

    // DETERMINISTIC TRAINING-ORDER shuffle: one fixed md5 permutation
    // of the corpus, materialized as (shard, pos) — ONE shuffle keyed
    // by shard + per-shard local sort, never a global sort. Re-seeded
    // per epoch via the salt.
    "q91_training_order" -> ((s, dir) => {
      graft.text.Curation.trainingOrder(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))
    }),

    // COUNT-MIN frequency sketch: d=4 × w=1024 counters over the
    // corpus tokens (counters ADD — map-side combined, the shuffle
    // carries ≤4096 rows at any corpus size), probed here for the
    // exact top-20 tokens so truth and estimate sit side by side (the
    // exact pass is verify-scale scaffolding; at 100 TB only the
    // sketch runs). est_cnt >= true_cnt always — CMS error is
    // one-sided.
    "q93_cms_heavy_hitters" -> ((s, dir) => {
      val (toks, top) = cmsHeavyHitterProbes(s, dir)
      val sketch = graft.text.Profile.cmsSketch(toks, "token")
      graft.text.Profile.cmsEstimate(sketch, top, "token")
        .orderBy(col("true_cnt").desc, col("token").asc)
    }),

    // TOKEN ENTROPY quality signal: Shannon diversity per doc in exact
    // fixed-point algebra (FixedPoint log2 over the (doc, token) count
    // table — the oracle replays the recurrence as a recursive CTE).
    // Explode is map-side; one repartition(doc_id) satisfies the
    // token-count aggregate, the per-doc window AND the final
    // aggregate — a single exchange end to end.
    "q92_token_entropy" -> ((s, dir) => {
      TextStats.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // AUDIO PERCEPTUAL near-dup (q86's contract for sound): per doc, a
    // REAL WAV whose ramp pattern is doc_id%12 but whose volume varies
    // per doc — byte-wise distinct files — then real decode +
    // 16-window energy fingerprint (Codecs.audioFingerprint; a uniform
    // gain scales every window sum equally, so the 15 comparison bits
    // cancel it). The corpus collapses to its 12 recordings; dedup is
    // ONE groupBy shuffle on the fingerprint. Oracle recomputes the
    // window-energy algebra from the generator formula in SQL.
    "q88_audio_fingerprint" -> ((s, dir) => {
      import graft.multimodal.Codecs
      import org.apache.spark.sql.expressions.Window
      val p = (col("doc_id") % 12).cast("int")
      val g = expr("CAST(1 + (doc_id DIV 12) % 3 AS INT)")
      val win = Window.partitionBy(col("fp"))
      t(s, dir, "documents")
        .select(col("doc_id"), Codecs.wavPatternOf(lit(320), p, g).as("wav"))
        .select(col("doc_id"), Codecs.audioFingerprintOf(col("wav")).as("fp"))
        .select(col("doc_id"), col("fp"),
                count(lit(1)).over(win).as("cluster_sz"),
                min(col("doc_id")).over(win).as("canonical_id"))
        .withColumn("is_canonical",
                    (col("doc_id") === col("canonical_id")).cast("long"))
        .orderBy(col("doc_id"))
    })
  )

  // ---------------------------------------------------------------- oracles

  /** q111's mixture config — one definition for the query AND the
    * oracle's VALUES literal, so the two sides cannot drift. src0-4
    * carry weight (src0/src1 deliberately over-weighted past their
    * inventories to exercise the deficit path); the rest report 0.
    */
  private val MixtureWeightsPpm: Seq[(String, Long)] = Seq(
    "src0" -> 300000L, "src1" -> 200000L, "src2" -> 100000L,
    "src3" -> 50000L, "src4" -> 50000L)
  private val MixtureBudgetTokens = 10000L

  private val Toks =
    """list_filter(string_split_regex(text, '\s+'), t -> t <> '')"""

  private def shingleSql(toksExpr: String): String =
    s"""list_transform(generate_series(1, greatest(len($toksExpr)-2, 0)),
        i -> $toksExpr[i] || ' ' || $toksExpr[i+1] || ' ' || $toksExpr[i+2])"""

  /** The q153 oracle: MMR's greedy selection unrolled step by step
    * (the q131 unrolled-rounds pattern — each step is a CTE pair:
    * `s$i` picks the argmax of rel − red over the not-yet-selected
    * pool, `p$i` accumulates the selection), generated from the SAME
    * k/poolSize the Spark side uses so the two cannot drift. All
    * integer: quantized dots, λ=1/2 folded into rel − red, ties
    * (score desc, id asc).
    */
  private def mmrOracleSql(k: Int, pool: Int): String = {
    def dot(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, 64), " +
        s"i -> $a.v[i] * $b.v[i])) AS BIGINT)"
    // redundancy via a cand × selected join + max per candidate (a
    // correlated scalar subquery can't reach `c` from inside the dot
    // lambda in DuckDB)
    val steps = (2 to k).map { i =>
      s"""r$i AS (
            SELECT c.vec_id, any_value(c.v) AS v, c.rel,
                   max(${dot("c", "s")}) AS red
            FROM cand c, p${i - 1} s
            WHERE c.vec_id NOT IN (SELECT vec_id FROM p${i - 1})
            GROUP BY c.vec_id, c.rel),
          s$i AS (SELECT * FROM r$i ORDER BY rel - red DESC, vec_id LIMIT 1),
          p$i AS (SELECT * FROM p${i - 1} UNION ALL SELECT * FROM s$i)"""
    }.mkString(",\n          ")
    val emit = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rnk, vec_id, rel, red FROM s$i")
      .mkString("\n            UNION ALL ")
    s"""WITH iv AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          qv AS (SELECT v FROM iv WHERE vec_id = 0),
          cand AS (
            SELECT b.vec_id, b.v, ${dot("a", "b")} AS rel
            FROM qv a, iv b
            ORDER BY rel DESC, b.vec_id LIMIT $pool),
          s1 AS (SELECT vec_id, v, rel, CAST(0 AS BIGINT) AS red
                 FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
          p1 AS (SELECT * FROM s1),
          $steps
          SELECT rnk, vec_id, rel, red FROM (
            $emit
          ) ORDER BY rnk"""
  }

  /** One unrolled boosting round for the q131 oracle: the stump-train
    * histogram + cumulants + fixed-point gain + global argmax, then
    * leaf means, prediction update, and post-round SSE — the exact
    * algebra `Learn.boostStumps` runs, suffixed `$i`, reading residuals
    * from `$prev` (columns: features, y, pred, r). Generated per round
    * from the SAME feature list the Spark side uses, so the two sides
    * cannot drift.
    */
  private def boostRoundSql(i: Int, prev: String, feats: Seq[String],
                            gainScale: Long): String = {
    val stack = feats.map(f => s"SELECT '$f' AS feat, $f AS v, r FROM $prev")
      .mkString("\n UNION ALL ")
    val vsel = "CASE " +
      feats.map(f => s"WHEN w$i.feat = '$f' THEN $prev.$f").mkString(" ") +
      " END"
    val keep = feats.map(f => s"a$i.$f").mkString(", ")
    s"""s$i AS ($stack),
       g$i AS (SELECT feat, v, count(*) AS cnt, sum(r) AS sy
               FROM s$i GROUP BY 1, 2),
       c$i AS (SELECT feat, v,
                      coalesce(sum(cnt) OVER w, 0) AS nL,
                      coalesce(sum(sy) OVER w, 0) AS sL,
                      sum(cnt) OVER (PARTITION BY feat) AS n,
                      sum(sy) OVER (PARTITION BY feat) AS s
               FROM g$i
               WINDOW w AS (PARTITION BY feat ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)),
       sc$i AS (SELECT feat, v, nL, n - nL AS nR, sL, s - sL AS sR
                FROM c$i),
       sg$i AS (SELECT feat, v,
                  (CASE WHEN nL = 0 THEN 0
                        ELSE CAST(sL AS HUGEINT) * sL * $gainScale // nL END)
                + (CASE WHEN nR = 0 THEN 0
                        ELSE CAST(sR AS HUGEINT) * sR * $gainScale // nR END)
                    AS gain
                FROM sc$i),
       b$i AS (SELECT feat, v,
                      row_number() OVER (ORDER BY gain DESC, feat, v) AS rn
               FROM sg$i),
       w$i AS (SELECT feat, v AS thr FROM b$i WHERE rn = 1),
       a$i AS (SELECT $prev.*, $vsel AS vsel, w$i.thr AS thr
               FROM $prev, w$i),
       l$i AS (SELECT coalesce(sum(CASE WHEN vsel < thr THEN r END), 0) AS sL,
                      count(CASE WHEN vsel < thr THEN 1 END) AS nL,
                      coalesce(sum(CASE WHEN vsel >= thr THEN r END), 0) AS sR,
                      count(CASE WHEN vsel >= thr THEN 1 END) AS nR
               FROM a$i),
       m$i AS (SELECT CASE WHEN nL = 0 THEN 0 ELSE sL // nL END AS mL,
                      CASE WHEN nR = 0 THEN 0 ELSE sR // nR END AS mR,
                      nL, nR
               FROM l$i),
       u$i AS (SELECT $keep, a$i.y,
                      a$i.pred + CASE WHEN a$i.vsel < a$i.thr
                                      THEN m$i.mL ELSE m$i.mR END AS pred
               FROM a$i, m$i),
       q$i AS (SELECT sum((y - pred) * (y - pred)) AS sse FROM u$i),
       rr$i AS (SELECT *, y - pred AS r FROM u$i)"""
  }

  /** The full q131 oracle: base features + `rounds` unrolled rounds +
    * the per-round trace union.
    */
  /** Shared WITH-prefix of the boosting oracles: base features, the
    * truncating global mean, and `rounds` unrolled rounds ending in
    * the per-row table `rr{rounds}` (features, y, pred, r).
    */
  private def boostPrefixSql(feats: Seq[String], rounds: Int,
                             gainScale: Long): String = {
    val roundsSql = (1 to rounds)
      .map(i => boostRoundSql(i, if (i == 1) "rr0" else s"rr${i - 1}",
                              feats, gainScale))
      .mkString(",\n")
    s"""WITH e AS (
          SELECT CAST(user_id % 7 AS BIGINT) AS user_mod7,
                 CAST(hour(ts) AS BIGINT) AS hour_of_day,
                 CAST(round(value * 100) AS BIGINT) AS y
          FROM events),
        p0 AS (SELECT sum(y) // count(*) AS p FROM e),
        rr0 AS (SELECT e.*, p0.p AS pred, e.y - p0.p AS r FROM e, p0),
        $roundsSql"""
  }

  /** The q163 boosted-inference oracle — shared VERBATIM by q163
    * (inline train-then-score) and q182 (scoring under the STORED
    * model): a correct persisted model is indistinguishable from
    * inline training.
    */
  private lazy val BoostInferenceOracle: String =
    s"""${boostPrefixSql(Seq("user_mod7", "hour_of_day"), rounds = 2,
                         gainScale = 1000L)}
        SELECT user_mod7, hour_of_day,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(max(pred) AS BIGINT) AS pred,
               CAST(sum(r * r) AS BIGINT) AS sse
        FROM rr2 GROUP BY 1, 2 ORDER BY 1, 2"""

  private def boostOracleSql(feats: Seq[String], rounds: Int,
                             gainScale: Long): String = {
    val trace = (1 to rounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS round, w$i.feat,
                 CAST(w$i.thr AS BIGINT) AS threshold,
                 CAST(m$i.nL AS BIGINT) AS n_left,
                 CAST(m$i.nR AS BIGINT) AS n_right,
                 CAST(m$i.mL AS BIGINT) AS mean_left,
                 CAST(m$i.mR AS BIGINT) AS mean_right,
                 CAST(q$i.sse AS BIGINT) AS sse_after
          FROM w$i, m$i, q$i""").mkString("\n UNION ALL ")
    s"""${boostPrefixSql(feats, rounds, gainScale)}
       $trace ORDER BY round"""
  }

  /** One BPE training round as DuckDB CTEs over the double-delimited
    * symbol string `v{r-1}`: parse symbols, count adjacent pairs, pick
    * the best (cnt DESC, lft ASC, rgt ASC), merge it with one
    * non-overlapping `replace` (see the q145 pattern note).
    */
  private def bpeRoundSql(r: Int): String =
    s"""sy$r AS (
          SELECT f, list_filter(string_split(s, chr(1)), x -> x <> '') AS sy
          FROM v${r - 1}),
        p$r AS (
          SELECT sy[i] AS lft, sy[i+1] AS rgt, f
          FROM (SELECT f, sy, unnest(generate_series(1, len(sy)-1)) AS i
                FROM sy$r WHERE len(sy) >= 2)),
        b$r AS (
          SELECT lft, rgt, CAST(sum(f) AS BIGINT) AS cnt
          FROM p$r GROUP BY 1, 2
          ORDER BY cnt DESC, lft ASC, rgt ASC LIMIT 1),
        v$r AS (
          SELECT v.w, v.f,
                 replace(v.s, chr(1)||b.lft||chr(1)||chr(1)||b.rgt||chr(1),
                         chr(1)||b.lft||b.rgt||chr(1)) AS s
          FROM v${r - 1} v, b$r b)"""

  /** Shared q59/q60 oracle scaffold: q24's LSH candidate pairs →
    * transitive closure via recursive CTE → min reachable id per node
    * (≡ min-label connected components) → every document labeled,
    * singletons self-assigned. Deliberately a DIFFERENT algorithm than
    * the Spark side's pointer-jumping loop — the two must agree.
    */
  /** The q171 degree-oriented triangle algebra as a WITH-tail over an
    * edge CTE holding distinct (u, v) pairs with u < v: degrees,
    * lower-(deg,id)→higher orientation, wedge join at the smallest
    * vertex, closing-edge check, per-node counts and per-mille
    * coefficient. Shared by q171 (shingle-share edges) and q177
    * (stored-signature LSH edges).
    */
  private def triangleTailSql(ed: String): String =
    s"""deg AS (SELECT n, count(*) AS deg
                FROM (SELECT u AS n FROM $ed UNION ALL SELECT v FROM $ed)
                GROUP BY 1),
          orient AS (
            SELECT CASE WHEN da.deg < db.deg
                          OR (da.deg = db.deg AND $ed.u < $ed.v)
                        THEN $ed.u ELSE $ed.v END AS src,
                   CASE WHEN da.deg < db.deg
                          OR (da.deg = db.deg AND $ed.u < $ed.v)
                        THEN $ed.v ELSE $ed.u END AS dst,
                   greatest(da.deg, db.deg) AS ddeg
            FROM $ed JOIN deg da ON da.n = $ed.u JOIN deg db ON db.n = $ed.v),
          wedges AS (
            SELECT a.src AS x, a.dst AS y, b.dst AS z
            FROM orient a JOIN orient b ON a.src = b.src
            WHERE a.ddeg < b.ddeg OR (a.ddeg = b.ddeg AND a.dst < b.dst)),
          tris AS (
            SELECT x, y, z FROM wedges w
            WHERE EXISTS (SELECT 1 FROM orient t
                          WHERE t.src = w.y AND t.dst = w.z)),
          tcnt AS (SELECT n, count(*) AS tri
                   FROM (SELECT x AS n FROM tris UNION ALL
                         SELECT y FROM tris UNION ALL SELECT z FROM tris)
                   GROUP BY 1)
         SELECT deg.n AS node, CAST(deg.deg AS BIGINT) AS deg,
                CAST(coalesce(tri, 0) AS BIGINT) AS tri_cnt,
                CAST(CASE WHEN deg.deg >= 2
                          THEN 2000 * coalesce(tri, 0)
                               // (deg.deg * (deg.deg - 1))
                          ELSE 0 END AS BIGINT) AS cc_pm
         FROM deg LEFT JOIN tcnt ON tcnt.n = deg.n
         ORDER BY node"""

  /** q24's LSH candidate-pair CTEs alone (sh → sigs → pairs, u < v
    * distinct) — the edge set of the stored-signature graph, shared by
    * the CC closure below and the q177 triangle tail.
    */
  private def minhashPairsSql: String =
    s"""sh AS (
          SELECT doc_id, ${shingleSql("toks")} AS s
          FROM (SELECT doc_id, $Toks AS toks FROM documents)
          WHERE len(toks) >= 3),
        sigs AS (
          SELECT doc_id, band, min(substr(md5(g), band*8 + 1, 8)) AS sig
          FROM sh, unnest(s) AS u(g),
               (SELECT unnest(generate_series(0, 3)) AS band) bb
          GROUP BY doc_id, band),
        pairs AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM sigs a JOIN sigs b
            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""

  private def ccLabelsSql: String =
    s"""$minhashPairsSql,
        edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        reach(id, r) AS (
          SELECT DISTINCT u, u FROM edges
          UNION
          SELECT rc.id, e.v FROM reach rc JOIN edges e ON e.u = rc.r),
        lab AS (
          SELECT d.doc_id, coalesce(m.comp, d.doc_id) AS comp
          FROM documents d
          LEFT JOIN (SELECT id, min(r) AS comp FROM reach GROUP BY id) m
            ON m.id = d.doc_id)"""

  val oracles: Map[String, String] = Map(

    "q59_dup_clusters" ->
      s"""WITH RECURSIVE $ccLabelsSql
          SELECT doc_id, comp FROM lab ORDER BY doc_id""",

    // q148: q26's stopword signal in basis points, q122's row_number
    // quantile per source, the gate applied row-wise.
    "q148_adaptive_quality" ->
      s"""WITH s AS (
            SELECT doc_id, source,
                   CAST(len(list_filter($Toks,
                     w -> list_contains(['the','a','an','of','to','and','in','is','it','that'],
                                        lower(w)))) * 10000 AS BIGINT)
                   // greatest(CAST(len($Toks) AS BIGINT), 1) AS score
            FROM documents),
          r AS (
            SELECT doc_id, source, score,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY score, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM s),
          c AS (
            SELECT source,
                   max(CASE WHEN rn = (1*n + 3) // 4 THEN score END) AS cutoff
            FROM r GROUP BY source)
          SELECT r.doc_id, r.source, r.score, c.cutoff,
                 r.score >= c.cutoff AS kept
          FROM r JOIN c USING (source) ORDER BY r.doc_id""",

    // q147: the q138/q141 trained-stack replay generalized per query —
    // every stage window-partitioned by query_id, the ADC join gated
    // on each query's OWN probe set, per-query cut and re-rank.
    "q147_batch_stored_search" ->
      s"""$TrainedStackCtes,
          encd AS (
            SELECT i.vec_id, i.sub, c.cell,
                   row_number() OVER (PARTITION BY i.vec_id, i.sub ORDER BY
                     CAST(list_sum(list_transform(generate_series(1, 8),
                       j -> (i.s[j]-c.cv[j])*(i.s[j]-c.cv[j]))) AS BIGINT) ASC,
                     c.cell ASC) AS rn
            FROM ivs i JOIN pcen2 c ON c.sub = i.sub),
          asg AS (
            SELECT vec_id, cell FROM (
              SELECT iv.vec_id, t.cell,
                     row_number() OVER (PARTITION BY iv.vec_id ORDER BY
                       CAST(list_sum(list_transform(generate_series(1, 64),
                         i -> iv.v[i] * t.cv[i])) AS BIGINT) DESC, t.cell DESC)
                       AS arn
              FROM iv CROSS JOIN cen2 t)
            WHERE arn = 1),
          qs AS (SELECT CAST(vec_id AS BIGINT) AS query_id, v AS qv
                 FROM iv WHERE vec_id < 3),
          rankedc AS (
            SELECT q.query_id, t.cell,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     CAST(list_sum(list_transform(generate_series(1, 64),
                       i -> q.qv[i] * t.cv[i])) AS BIGINT) DESC, t.cell DESC)
                     AS rk
            FROM cen2 t, qs q),
          probes AS (SELECT query_id, cell FROM rankedc WHERE rk <= 2),
          dq AS (
            SELECT q.query_id, c.sub, c.cell,
                   CAST(list_sum(list_transform(generate_series(1, 8),
                     j -> (q.qv[c.sub*8 + j] - c.cv[j])
                          * (q.qv[c.sub*8 + j] - c.cv[j]))) AS BIGINT) AS d2
            FROM pcen2 c, qs q),
          adc AS (
            SELECT dq.query_id, b.vec_id, a.cell,
                   CAST(sum(dq.d2) AS BIGINT) AS adc
            FROM encd b
            JOIN dq ON dq.sub = b.sub AND dq.cell = b.cell
            JOIN asg a ON a.vec_id = b.vec_id
            JOIN probes p ON p.cell = a.cell AND p.query_id = dq.query_id
            WHERE b.rn = 1
            GROUP BY dq.query_id, b.vec_id, a.cell),
          cut AS (
            SELECT query_id, vec_id, cell, adc FROM (
              SELECT query_id, vec_id, cell, adc,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adc ASC, vec_id) AS rn
              FROM adc) WHERE rn <= 30),
          rr AS (
            SELECT c.query_id, c.vec_id, c.cell, c.adc,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> (iv.v[i] - q.qv[i]) * (iv.v[i] - q.qv[i])))
                        AS BIGINT) AS d2
            FROM cut c
            JOIN iv ON iv.vec_id = c.vec_id
            JOIN qs q ON q.query_id = c.query_id)
          SELECT query_id, vec_id, cell, adc, d2 FROM (
            SELECT query_id, vec_id, cell, adc, d2,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d2 ASC, vec_id) AS rd
            FROM rr) WHERE rd <= 10
          ORDER BY query_id, d2, vec_id""",

    // q145: each round over a DOUBLE-DELIMITED symbol string — the
    // |a||b| pattern consumes the inner boundary and one sep of each
    // outer boundary, so DuckDB's non-overlapping replace chains
    // adjacent occurrences exactly like the Spark fold ("aaaa" with
    // pair (a,a) → (aa)(aa), never (aa)(a)(a)).
    "q145_bpe_train" ->
      s"""WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                      t -> t <> '')) AS w
            FROM documents),
          vocab AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
          v0 AS (
            SELECT w, f, chr(1)||chr(1) ||
                   array_to_string(string_split_regex(w, ''),
                                   chr(1)||chr(1)) ||
                   chr(1)||chr(1) AS s
            FROM vocab),
          ${bpeRoundSql(1)},
          ${bpeRoundSql(2)},
          ${bpeRoundSql(3)}
          SELECT CAST(1 AS BIGINT) AS round, lft, rgt, cnt AS pair_count FROM b1
          UNION ALL SELECT CAST(2 AS BIGINT), lft, rgt, cnt FROM b2
          UNION ALL SELECT CAST(3 AS BIGINT), lft, rgt, cnt FROM b3
          ORDER BY round""",

    // q146: the q145 training CTEs (vocab + 3 rounds), then each
    // word's post-merge symbol count joined back to the per-doc word
    // stream.
    "q146_bpe_apply" ->
      s"""WITH dtoks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                      t -> t <> '')) AS w
            FROM documents),
          vocab AS (SELECT w, count(*) AS f FROM dtoks GROUP BY w),
          v0 AS (
            SELECT w, f, chr(1)||chr(1) ||
                   array_to_string(string_split_regex(w, ''),
                                   chr(1)||chr(1)) ||
                   chr(1)||chr(1) AS s
            FROM vocab),
          ${bpeRoundSql(1)},
          ${bpeRoundSql(2)},
          ${bpeRoundSql(3)},
          wn AS (
            SELECT w,
                   len(list_filter(string_split(s, chr(1)), x -> x <> ''))
                     AS n
            FROM v3)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(n) AS BIGINT) AS n_tokens
          FROM dtoks JOIN wn USING (w)
          GROUP BY doc_id ORDER BY doc_id""",

    // q162: every repetition rule replayed — same tokenization, the
    // top gram per (doc, n) by (count desc, gram asc), chars-in-gram
    // as occurrences × non-space gram length, cross-multiplied
    // thresholds; docs shorter than n grams coalesce to 0.
    "q162_top_ngram_fraction" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                               x -> x <> '') AS tk,
                   CAST(length(regexp_replace(lower(text), '\s', '', 'g'))
                        AS BIGINT) AS total_chars
            FROM documents),
          grams AS (
            SELECT doc_id, n, array_to_string(tk[i : i+n-1], ' ') AS g
            FROM (SELECT t.doc_id, nn.n, t.tk,
                         unnest(generate_series(1, len(t.tk) - nn.n + 1)) AS i
                  FROM toks t, (SELECT unnest([2, 3, 4]) AS n) nn
                  WHERE len(t.tk) >= nn.n)),
          cnt AS (SELECT doc_id, n, g, count(*) AS c
                  FROM grams GROUP BY 1, 2, 3),
          top AS (
            SELECT doc_id, n,
                   CAST(c * (length(g) - (n-1)) AS BIGINT) AS tc
            FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                ORDER BY c DESC, g ASC) AS rn
                  FROM cnt) WHERE rn = 1),
          pv AS (
            SELECT doc_id,
                   CAST(coalesce(sum(CASE WHEN n = 2 THEN tc END), 0) AS BIGINT) AS top2_chars,
                   CAST(coalesce(sum(CASE WHEN n = 3 THEN tc END), 0) AS BIGINT) AS top3_chars,
                   CAST(coalesce(sum(CASE WHEN n = 4 THEN tc END), 0) AS BIGINT) AS top4_chars
            FROM top GROUP BY 1)
          SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_words,
                 t.total_chars,
                 coalesce(pv.top2_chars, 0) AS top2_chars,
                 coalesce(pv.top3_chars, 0) AS top3_chars,
                 coalesce(pv.top4_chars, 0) AS top4_chars,
                 coalesce(pv.top2_chars, 0) * 5 <= t.total_chars AS rep2_ok,
                 coalesce(pv.top3_chars, 0) * 50 <= t.total_chars * 9 AS rep3_ok,
                 coalesce(pv.top4_chars, 0) * 25 <= t.total_chars * 4 AS rep4_ok,
                 (coalesce(pv.top2_chars, 0) * 5 <= t.total_chars) AND
                 (coalesce(pv.top3_chars, 0) * 50 <= t.total_chars * 9) AND
                 (coalesce(pv.top4_chars, 0) * 25 <= t.total_chars * 4) AS kept
          FROM toks t LEFT JOIN pv USING (doc_id)
          ORDER BY t.doc_id""",

    // q161: q146's trained-apply CTEs aggregated per language, the
    // per-mille fertility via integer division.
    "q161_tokenizer_fertility" ->
      s"""WITH dtoks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                      t -> t <> '')) AS w
            FROM documents),
          vocab AS (SELECT w, count(*) AS f FROM dtoks GROUP BY w),
          v0 AS (
            SELECT w, f, chr(1)||chr(1) ||
                   array_to_string(string_split_regex(w, ''),
                                   chr(1)||chr(1)) ||
                   chr(1)||chr(1) AS s
            FROM vocab),
          ${bpeRoundSql(1)},
          ${bpeRoundSql(2)},
          ${bpeRoundSql(3)},
          wn AS (
            SELECT w,
                   len(list_filter(string_split(s, chr(1)), x -> x <> ''))
                     AS n
            FROM v3),
          pd AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n) AS BIGINT) AS n_tokens
            FROM dtoks JOIN wn USING (w)
            GROUP BY doc_id)
          SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(pd.n_words) AS BIGINT) AS n_words,
                 CAST(sum(pd.n_tokens) AS BIGINT) AS n_tokens,
                 CAST(sum(pd.n_tokens) * 1000 // sum(pd.n_words) AS BIGINT)
                   AS tokens_per_kword
          FROM pd JOIN documents d USING (doc_id)
          GROUP BY d.lang ORDER BY d.lang""",

    // q144: q59's cluster labels + the q58 md5-bucket split algebra
    // keyed on the COMP label instead of the doc id.
    "q144_leakage_safe_split" ->
      s"""WITH RECURSIVE $ccLabelsSql
          SELECT doc_id, comp,
                 CASE WHEN b < 80 THEN 'train'
                      WHEN b < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id, comp,
                       CAST('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 8)
                            AS BIGINT) % 100 AS b
                FROM lab)
          ORDER BY doc_id""",

    // q133 must agree bit-for-bit with q59 — the stored-signature path
    // changes WHERE the signatures come from, never their values.
    "q133_dup_clusters_stored" ->
      s"""WITH RECURSIVE $ccLabelsSql
          SELECT doc_id, comp FROM lab ORDER BY doc_id""",

    // q48's centroid/assignment CTEs + q30's exact-integer pair filter,
    // with the IVF cell as the blocking key.
    "q62_semantic_neardup" ->
      """WITH iv AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          sums AS (
            SELECT label, i, CAST(sum(v[i]) AS BIGINT) AS s
            FROM iv, (SELECT unnest(generate_series(1, 64)) AS i) ii
            GROUP BY label, i),
          counts AS (SELECT label, count(*) AS n FROM iv GROUP BY label),
          cent AS (
            SELECT s.label AS cell,
                   list(CAST(floor(CAST(s.s AS DOUBLE) / c.n) AS BIGINT) ORDER BY s.i) AS cv
            FROM sums s JOIN counts c ON s.label = c.label
            GROUP BY s.label),
          scored AS (
            SELECT iv.vec_id, cent.cell,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * cent.cv[i])) AS BIGINT) AS sim
            FROM iv CROSS JOIN cent),
          best AS (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
            FROM scored),
          n AS (
            SELECT b.cell, iv.vec_id, iv.v,
                   CAST(list_sum(list_transform(iv.v, x -> x*x)) AS BIGINT) AS n2
            FROM iv JOIN best b ON b.vec_id = iv.vec_id AND b.rn = 1)
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> a.v[i] * b.v[i])) AS BIGINT) AS dot
          FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) > 0
            AND CAST(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) AS HUGEINT)
                  * list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) * 100
                >= CAST(a.n2 AS HUGEINT) * b.n2 * 16
          ORDER BY a_id, b_id""",

    // q167: q62's assignment + pair CTEs (sim carried through as the
    // centroid dot), the edge set closed transitively by q59's
    // recursive-CTE algebra, survivor per comp by (cdot ASC, id ASC).
    "q167_semdedup" ->
      """WITH RECURSIVE iv AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          sums AS (
            SELECT label, i, CAST(sum(v[i]) AS BIGINT) AS s
            FROM iv, (SELECT unnest(generate_series(1, 64)) AS i) ii
            GROUP BY label, i),
          counts AS (SELECT label, count(*) AS n FROM iv GROUP BY label),
          cent AS (
            SELECT s.label AS cell,
                   list(CAST(floor(CAST(s.s AS DOUBLE) / c.n) AS BIGINT) ORDER BY s.i) AS cv
            FROM sums s JOIN counts c ON s.label = c.label
            GROUP BY s.label),
          scored AS (
            SELECT iv.vec_id, cent.cell,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * cent.cv[i])) AS BIGINT) AS sim
            FROM iv CROSS JOIN cent),
          best AS (
            SELECT vec_id, cell, sim,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
            FROM scored),
          n AS (
            SELECT b.cell, b.sim AS cdot, iv.vec_id, iv.v,
                   CAST(list_sum(list_transform(iv.v, x -> x*x)) AS BIGINT) AS n2
            FROM iv JOIN best b ON b.vec_id = iv.vec_id AND b.rn = 1),
          ed AS (
            SELECT a.vec_id AS u, b.vec_id AS w
            FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) > 0
              AND CAST(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) AS HUGEINT)
                    * list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) * 100
                  >= CAST(a.n2 AS HUGEINT) * b.n2 * 16),
          edges AS (SELECT u, w FROM ed UNION ALL SELECT w, u FROM ed),
          reach(id, r) AS (
            SELECT DISTINCT u, u FROM edges
            UNION
            SELECT rc.id, e2.w FROM reach rc JOIN edges e2 ON e2.u = rc.r),
          lab AS (
            SELECT n.vec_id, n.cell, n.cdot,
                   coalesce(m.comp, n.vec_id) AS comp
            FROM n
            LEFT JOIN (SELECT id, min(r) AS comp FROM reach GROUP BY id) m
              ON m.id = n.vec_id)
          SELECT vec_id, cell, comp, cdot,
                 (row_number() OVER (PARTITION BY comp
                                     ORDER BY cdot ASC, vec_id ASC) = 1) AS keep
          FROM lab ORDER BY vec_id""",

    // q149: q62's assignment CTEs, then the ASYMMETRIC corpus×bench
    // join (md5-bucket split, q58's algebra) with the best-match
    // row_number pick (dot DESC, bench_id ASC).
    "q149_embedding_decon" ->
      """WITH iv AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          sums AS (
            SELECT label, i, CAST(sum(v[i]) AS BIGINT) AS s
            FROM iv, (SELECT unnest(generate_series(1, 64)) AS i) ii
            GROUP BY label, i),
          counts AS (SELECT label, count(*) AS n FROM iv GROUP BY label),
          cent AS (
            SELECT s.label AS cell,
                   list(CAST(floor(CAST(s.s AS DOUBLE) / c.n) AS BIGINT) ORDER BY s.i) AS cv
            FROM sums s JOIN counts c ON s.label = c.label
            GROUP BY s.label),
          scored AS (
            SELECT iv.vec_id, cent.cell,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * cent.cv[i])) AS BIGINT) AS sim
            FROM iv CROSS JOIN cent),
          best AS (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
            FROM scored),
          n AS (
            SELECT b.cell, iv.vec_id, iv.v,
                   CAST(list_sum(list_transform(iv.v, x -> x*x)) AS BIGINT) AS n2
            FROM iv JOIN best b ON b.vec_id = iv.vec_id AND b.rn = 1),
          tagged AS (
            SELECT *, CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bkt
            FROM n),
          pairs AS (
            SELECT c.vec_id AS doc_id, b.vec_id AS bench_id,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> c.v[i] * b.v[i])) AS BIGINT) AS dot,
                   c.n2 AS n2c, b.n2 AS n2b
            FROM tagged c JOIN tagged b ON c.cell = b.cell
            WHERE c.bkt < 90 AND b.bkt >= 90),
          hits AS (
            SELECT doc_id, bench_id, dot,
                   row_number() OVER (PARTITION BY doc_id ORDER BY dot DESC, bench_id) AS rn
            FROM pairs
            WHERE dot > 0
              AND CAST(dot AS HUGEINT) * dot * 100 >= CAST(n2c AS HUGEINT) * n2b * 9)
          SELECT doc_id, bench_id, dot FROM hits WHERE rn = 1
          ORDER BY doc_id""",

    // q150: q148's quality CTEs + the q59/q60 cluster scaffold + the
    // q144 comp-keyed split, joined into the per-doc decision row.
    "q150_curation_decision" ->
      s"""WITH RECURSIVE $ccLabelsSql,
          s AS (
            SELECT doc_id, source,
                   CAST(len(list_filter($Toks,
                     w -> list_contains(['the','a','an','of','to','and','in','is','it','that'],
                                        lower(w)))) * 10000 AS BIGINT)
                   // greatest(CAST(len($Toks) AS BIGINT), 1) AS score
            FROM documents),
          r AS (
            SELECT doc_id, source, score,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY score, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM s),
          c AS (
            SELECT source,
                   max(CASE WHEN rn = (1*n + 3) // 4 THEN score END) AS cutoff
            FROM r GROUP BY source),
          keepers AS (
            SELECT l.doc_id, l.comp,
                   (row_number() OVER (PARTITION BY l.comp
                                       ORDER BY d.n_chars DESC, l.doc_id ASC) = 1)
                     AS keeper,
                   CAST('0x' || substr(md5(CAST(l.comp AS VARCHAR)), 1, 8)
                        AS BIGINT) % 100 AS b
            FROM lab l JOIN documents d ON d.doc_id = l.doc_id)
          SELECT r.doc_id, r.source, r.score, c.cutoff, k.comp,
                 CASE WHEN k.b < 80 THEN 'train'
                      WHEN k.b < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 r.score >= c.cutoff AS kept_quality,
                 k.keeper,
                 (r.score >= c.cutoff AND k.keeper) AS selected
          FROM r JOIN c USING (source) JOIN keepers k ON k.doc_id = r.doc_id
          ORDER BY r.doc_id""",

    // q151: the fixed-point log2 recurrence (q89's CTE generator) over
    // ranks 1..10 yields the position gains; exact ranking + label
    // relevance + ideal-ordering IDCG, all in integer algebra.
    "q151_search_ndcg" ->
      s"""WITH RECURSIVE posx AS (
            SELECT CAST(i AS BIGINT) AS rnk, CAST(i + 1 AS BIGINT) AS x
            FROM (SELECT unnest(generate_series(1, 10)) AS i)),
          ${graft.functions.FixedPoint.oracleLog2Cte("posx", "rnk", "x", "l2")},
          g AS (
            SELECT rnk AS i, CAST(${graft.functions.FixedPoint.Scale *
                            graft.functions.FixedPoint.Scale} // l2 AS BIGINT) AS g
            FROM __l2),
          iv AS (
            SELECT vec_id, CAST(label AS BIGINT) AS lbl,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          q AS (SELECT vec_id AS query_id, lbl AS qlbl, v AS qv
                FROM iv WHERE vec_id < 5),
          scored AS (
            SELECT q.query_id, iv.vec_id AS cid,
                   CASE WHEN iv.lbl = q.qlbl THEN 1 ELSE 0 END AS rel,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     j -> iv.v[j] * q.qv[j])) AS BIGINT) AS dot
            FROM iv CROSS JOIN q),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dot DESC, cid) AS rnk
            FROM scored),
          per AS (
            SELECT r.query_id,
                   CAST(coalesce(sum(CASE WHEN r.rnk <= 10
                                          THEN r.rel * gg.g END), 0) AS BIGINT) AS dcg,
                   CAST(sum(r.rel) AS BIGINT) AS n_rel
            FROM ranked r LEFT JOIN g gg ON gg.i = r.rnk
            GROUP BY r.query_id),
          ideal AS (
            SELECT p.query_id, CAST(sum(gg.g) AS BIGINT) AS idcg
            FROM per p JOIN g gg ON gg.i <= least(p.n_rel, 10)
            GROUP BY p.query_id)
          SELECT p.query_id, p.n_rel, p.dcg,
                 CAST(coalesce(i.idcg, 0) AS BIGINT) AS idcg,
                 CAST(CASE WHEN coalesce(i.idcg, 0) > 0
                           THEN (1000000 * p.dcg) // i.idcg
                           ELSE 0 END AS BIGINT) AS ndcg_ppm
          FROM per p LEFT JOIN ideal i USING (query_id)
          ORDER BY p.query_id""",

    // q44's fingerprint CTEs + q58's split buckets; df-cap counts ALL
    // docs carrying the fp (any split), mirroring contaminationPairs.
    "q61_decontaminate" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
            FROM documents),
          hs AS (
            SELECT doc_id,
                   list_transform(
                     list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                     g -> substr(md5(g), 1, 8)) AS h
            FROM toks WHERE len(tk) >= 6),
          minima AS (
            SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, len(h)-3),
                     i -> list_min(h[i:i+3]))) AS fps
            FROM hs),
          fps AS (SELECT doc_id, unnest(fps) AS fp FROM minima),
          sp AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
                  FROM documents)),
          j AS (SELECT f.fp, f.doc_id, s.split FROM fps f JOIN sp s USING (doc_id)),
          capped AS (SELECT fp FROM j GROUP BY fp HAVING count(*) <= 100),
          pairs AS (
            SELECT te.doc_id AS test_id, tr.doc_id AS train_id
            FROM j te
            JOIN j tr ON te.fp = tr.fp AND te.split = 'test' AND tr.split = 'train'
            JOIN capped c ON c.fp = te.fp)
          SELECT test_id, train_id, CAST(count(*) AS BIGINT) AS n_shared
          FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2
          ORDER BY test_id, train_id""",

    // q61's shingle+split conventions with POSITIONS kept; df-capped
    // train hash set; gaps-and-islands span merge — same window algebra
    // as Dedup.contaminationSpans.
    "q83_decontaminate_spans" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
            FROM documents),
          sp AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
                  FROM documents)),
          hs AS (
            SELECT t.doc_id, s.split,
                   list_transform(
                     list_transform(generate_series(1, greatest(len(tk)-2, 0)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                     g -> substr(md5(g), 1, 8)) AS h
            FROM toks t JOIN sp s USING (doc_id)),
          tr AS (
            SELECT h FROM (
              SELECT doc_id, unnest(list_distinct(h)) AS h
              FROM hs WHERE split = 'train')
            GROUP BY h HAVING count(*) <= 100),
          tpos AS (
            SELECT doc_id, i AS pos, h[i] AS h
            FROM (SELECT doc_id, h, unnest(generate_series(1, len(h))) AS i
                  FROM hs WHERE split = 'test')),
          m AS (
            SELECT DISTINCT doc_id, pos, pos + 2 AS e
            FROM tpos WHERE h IN (SELECT h FROM tr)),
          isl AS (
            SELECT doc_id, pos, e,
                   CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          IS NULL
                        OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                        THEN 1 ELSE 0 END AS ni
            FROM m),
          isl2 AS (
            SELECT doc_id, pos, e,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
            FROM isl)
          SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                 CAST(max(e) AS BIGINT) AS span_end,
                 CAST(count(*) AS BIGINT) AS n_shingles
          FROM isl2 GROUP BY doc_id, island
          ORDER BY doc_id, span_start""",

    // q83's shingle/split/df-cap CTEs; the Bloom replayed in the same
    // sign-safe word algebra (32 bits per BIGINT word; double hashing:
    // position j = (h1 + j*(h2|1)) mod 8192 with h1/h2 = md5 bits
    // 0-31 / 32-63 of the shingle hash, the step forced odd so it is
    // coprime with the power-of-two m — ONE digest per probe, matching
    // Dedup.bloomWords/bloomMightContain; words bit_or together,
    // membership = all 4 masks present; empty words are 0 via the
    // left join).
    "q94_bloom_decontaminate" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
            FROM documents),
          sp AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
                  FROM documents)),
          hs AS (
            SELECT t.doc_id, s.split,
                   list_transform(
                     list_transform(generate_series(1, greatest(len(tk)-2, 0)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                     g -> substr(md5(g), 1, 8)) AS h
            FROM toks t JOIN sp s USING (doc_id)),
          tr AS (
            SELECT h FROM (
              SELECT doc_id, unnest(list_distinct(h)) AS h
              FROM hs WHERE split = 'train')
            GROUP BY h HAVING count(*) <= 100),
          js AS (SELECT unnest(generate_series(0, 3)) AS j),
          words AS (
            SELECT CAST(p // 32 AS INTEGER) AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
            FROM (SELECT (CAST('0x' || substr(md5(h), 1, 8) AS BIGINT)
                          + j * (CAST('0x' || substr(md5(h), 9, 8) AS BIGINT) | 1))
                         % 8192 AS p
                  FROM tr, js)
            GROUP BY 1),
          tprobe AS (
            SELECT doc_id, i AS pos, h[i] AS h
            FROM (SELECT doc_id, h, unnest(generate_series(1, len(h))) AS i
                  FROM hs WHERE split = 'test')),
          pk AS (
            SELECT doc_id, pos,
                   (CAST('0x' || substr(md5(h), 1, 8) AS BIGINT)
                    + j * (CAST('0x' || substr(md5(h), 9, 8) AS BIGINT) | 1))
                   % 8192 AS p
            FROM tprobe, js),
          checks AS (
            SELECT k.doc_id, k.pos,
                   bool_and((coalesce(w.bits, 0)
                             & (CAST(1 AS BIGINT) << CAST(k.p % 32 AS INTEGER)))
                            = (CAST(1 AS BIGINT) << CAST(k.p % 32 AS INTEGER))) AS hit
            FROM pk k LEFT JOIN words w ON w.word = CAST(k.p // 32 AS INTEGER)
            GROUP BY 1, 2)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                 CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
          FROM checks GROUP BY doc_id HAVING n_hits > 0 ORDER BY doc_id""",

    // the same vocab-first construction: word frequencies, then 2-char
    // substrings at every position of each distinct word, counts
    // weighted by word frequency.
    "q95_bpe_merges" ->
      """WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                      t -> t <> '')) AS w
            FROM documents),
          vocab AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
          pairs AS (
            SELECT substr(w, i, 2) AS pair, f
            FROM (SELECT w, f, unnest(generate_series(1, len(w)-1)) AS i
                  FROM vocab WHERE len(w) >= 2))
          SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
          FROM pairs GROUP BY pair
          ORDER BY cnt DESC, pair ASC LIMIT 20""",

    // q26's quality predicate + q69's repetition predicate + q22's
    // digests, folded to one aggregate and unpivoted to stage rows.
    "q96_curation_funnel" ->
      s"""WITH qual AS (
            SELECT doc_id, md5(text) AS h,
                   (len($Toks) >= 5 AND length(text) >= 20 AND
                    len(list_filter($Toks,
                      w -> list_contains(['the','a','an','of','to','and','in','is','it','that'],
                                         lower(w)))) * 100 >= len($Toks) * 2)
                     AS quality_ok
            FROM documents),
          ln AS (
            SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
          lc AS (SELECT doc_id, line, count(*) AS c FROM ln GROUP BY doc_id, line),
          lagg AS (
            SELECT doc_id, sum(c) AS n_lines,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup_lines
            FROM lc GROUP BY doc_id),
          tk AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
            FROM documents),
          bg AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i FROM tk)),
          bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram),
          bagg AS (
            SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram_count
            FROM bc GROUP BY doc_id),
          rep AS (
            SELECT d.doc_id,
                   ((coalesce(l.n_lines, 0) = 0 OR
                     coalesce(l.n_dup_lines, 0) * 10 <= coalesce(l.n_lines, 0) * 3) AND
                    (coalesce(b.n_bigrams, 0) = 0 OR
                     coalesce(b.top_bigram_count, 0) * 10 <= coalesce(b.n_bigrams, 0) * 2))
                     AS rep_ok
            FROM documents d
            LEFT JOIN lagg l USING (doc_id)
            LEFT JOIN bagg b USING (doc_id)),
          flags AS (
            SELECT q.doc_id, q.h, q.quality_ok, (q.quality_ok AND r.rep_ok) AS s2
            FROM qual q JOIN rep r USING (doc_id)),
          agg AS (
            SELECT count(*) AS n0,
                   sum(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS n2,
                   count(DISTINCT CASE WHEN s2 THEN h END) AS n3
            FROM flags)
          SELECT stage, CAST(n AS BIGINT) AS n_docs FROM (
            SELECT '0_total' AS stage, n0 AS n FROM agg
            UNION ALL SELECT '1_quality', n1 FROM agg
            UNION ALL SELECT '2_repetition', n2 FROM agg
            UNION ALL SELECT '3_dedup_keeper', n3 FROM agg)
          ORDER BY stage""",

    // q83's shingle hashing, per-doc distinct; the df-cap counts
    // DISTINCT docs (2..100); pairs expand on the distinct
    // (source, hash) table.
    "q97_source_overlap" ->
      """WITH toks AS (
            SELECT source, doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
            FROM documents),
          hs AS (
            SELECT source, doc_id,
                   list_distinct(list_transform(
                     list_transform(generate_series(1, greatest(len(tk)-2, 0)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                     g -> substr(md5(g), 1, 8))) AS h
            FROM toks),
          f AS (SELECT source, doc_id, unnest(h) AS h FROM hs),
          capped AS (
            SELECT h FROM f GROUP BY h
            HAVING count(DISTINCT doc_id) BETWEEN 2 AND 100),
          sf AS (
            SELECT DISTINCT source, h FROM f
            WHERE h IN (SELECT h FROM capped))
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM sf a JOIN sf b ON a.h = b.h AND a.source < b.source
          GROUP BY 1, 2 ORDER BY 1, 2""",

    // shingle OCCURRENCES (not per-doc distinct); df counts DISTINCT
    // carrying docs; integer percentage via //.
    "q98_dup_ngram_fraction" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
            FROM documents),
          hs AS (
            SELECT doc_id,
                   list_transform(
                     list_transform(generate_series(1, greatest(len(tk)-2, 0)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                     g -> substr(md5(g), 1, 8)) AS h
            FROM toks),
          f AS (SELECT doc_id, unnest(h) AS h FROM hs),
          shared AS (
            SELECT h FROM f GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
          agg AS (
            SELECT f.doc_id, count(*) AS n_shingles,
                   sum(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
            FROM f LEFT JOIN shared s ON s.h = f.h
            GROUP BY f.doc_id)
          SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
                 CAST(n_dup AS BIGINT) AS n_dup,
                 CAST((100 * n_dup) // n_shingles AS BIGINT) AS dup_pct
          FROM agg ORDER BY doc_id""",

    // the same window arithmetic: start_i = i*60 + 1, last i =
    // ceil(max(len-100, 0)/60), substr truncates at the end.
    "q99_sliding_chunks" ->
      """SELECT doc_id, CAST(i + 1 AS BIGINT) AS chunk_number,
                CAST(i*60 + 1 AS BIGINT) AS start_pos,
                substr(text, i*60 + 1, 100) AS content
         FROM (SELECT doc_id, text,
                      unnest(generate_series(0,
                        CAST((greatest(length(text) - 100, 0) + 59) // 60 AS INT))) AS i
               FROM documents WHERE length(text) > 0)
         ORDER BY doc_id, chunk_number""",

    // the final state computed DIRECTLY from the generating
    // predicates: %7 deleted, %5 updated (+100 cents), everything
    // else present at its original price — vs the merge machinery.
    "q108_changelog_apply" ->
      """SELECT o_orderkey, o_custkey,
                CAST(CASE WHEN o_orderkey % 5 = 0
                          THEN CAST(round(o_totalprice * 100) AS BIGINT) + 100
                          ELSE CAST(round(o_totalprice * 100) AS BIGINT) END
                     AS BIGINT) AS cents
         FROM orders WHERE o_orderkey % 7 <> 0
         ORDER BY o_orderkey""",

    // INDEPENDENT algebra: canonicalize to single-space tokens, DOUBLE
    // the separators so adjacent occurrences don't share a boundary
    // space, then count by non-overlapping replace; first_pos recovers
    // the token index from the match's character offset (the doubled
    // string has exactly 2 spaces per preceding token). Equal to the
    // position-algebra count because "table scan" has no self-border.
    "q109_phrase_search" -> PhraseSearchOracle,

    // q181: phrase search served from the STORED postings index —
    // identical by construction to the inline scan, so it shares
    // q109's oracle VERBATIM (the q141/q175 convention).
    "q181_phrase_search_stored" -> PhraseSearchOracle,

    // q83's positioned-shingle + islands algebra, self-applied: the
    // shared set is hashes carried by >= 2 DISTINCT docs (within-doc
    // repetition does not count), k=5.
    "q110_duplicated_spans" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
            FROM documents),
          hs AS (
            SELECT doc_id,
                   list_transform(
                     list_transform(generate_series(1, greatest(len(tk)-4, 0)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                            tk[i+3] || ' ' || tk[i+4]),
                     g -> substr(md5(g), 1, 8)) AS h
            FROM toks),
          shared AS (
            SELECT h FROM (
              SELECT doc_id, unnest(list_distinct(h)) AS h FROM hs)
            GROUP BY h HAVING count(*) >= 2),
          pos AS (
            SELECT doc_id, i AS pos, h[i] AS h
            FROM (SELECT doc_id, h, unnest(generate_series(1, len(h))) AS i
                  FROM hs)),
          m AS (
            SELECT doc_id, pos, pos + 4 AS e
            FROM pos WHERE h IN (SELECT h FROM shared)),
          isl AS (
            SELECT doc_id, pos, e,
                   CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          IS NULL
                        OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                        THEN 1 ELSE 0 END AS ni
            FROM m),
          isl2 AS (
            SELECT doc_id, pos, e,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
            FROM isl)
          SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                 CAST(max(e) AS BIGINT) AS span_end,
                 CAST(count(*) AS BIGINT) AS n_shingles
          FROM isl2 GROUP BY doc_id, island
          ORDER BY doc_id, span_start""",

    // same integer algebra; the weights VALUES literal is generated
    // from the SAME Scala constants as the query.
    "q111_mixture_allocation" -> {
      val values = MixtureWeightsPpm
        .map { case (src, w) => s"('$src', $w)" }.mkString(", ")
      s"""WITH w(source, weight_ppm) AS (VALUES $values),
          avail AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
                                            t -> t <> ''))) AS BIGINT)
                     AS tokens_avail
            FROM documents GROUP BY source),
          j AS (
            SELECT a.source, a.n_docs, a.tokens_avail,
                   coalesce(w.weight_ppm, 0) AS wp,
                   (CAST($MixtureBudgetTokens AS BIGINT)
                      * coalesce(w.weight_ppm, 0)) // 1000000
                     AS tgt
            FROM avail a LEFT JOIN w USING (source))
          SELECT source, n_docs, tokens_avail,
                 CAST(wp AS BIGINT) AS weight_ppm,
                 CAST(tgt AS BIGINT) AS target_tokens,
                 CAST(least(tokens_avail, tgt) AS BIGINT) AS allocated_tokens,
                 CAST(CASE WHEN tokens_avail > 0
                           THEN (1000000 * least(tokens_avail, tgt)) // tokens_avail
                           ELSE 0 END AS BIGINT) AS rate_ppm,
                 CAST(tgt - least(tokens_avail, tgt) AS BIGINT) AS deficit
          FROM j ORDER BY source""" },

    // the whole SQ pipeline replayed: 1e-3 integer grid, per-dim
    // min/max, floor-div byte codes, then the SAME folded weighted
    // dot (510-scaled numerator) — exact integers end to end.
    "q112_sq_topk" ->
      """WITH iv AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           FROM embeddings),
         pos AS (SELECT vec_id, v, unnest(generate_series(1, len(v))) AS d FROM iv),
         el AS (SELECT vec_id, d, v[d] AS x FROM pos),
         mm AS (SELECT d, min(x) AS lo, max(x) AS hi FROM el GROUP BY d),
         qv AS (SELECT d, x AS q FROM el WHERE vec_id = 0),
         w AS (SELECT mm.d, 2 * q * (hi - lo) AS wt,
                      q * (510 * lo + (hi - lo)) AS c0t
               FROM mm JOIN qv ON qv.d = mm.d),
         codes AS (
           SELECT el.vec_id, el.d,
                  CASE WHEN hi = lo THEN 0
                       ELSE greatest(0, least(255, ((x - lo) * 255) // (hi - lo)))
                  END AS c
           FROM el JOIN mm ON mm.d = el.d),
         sc AS (
           SELECT codes.vec_id,
                  CAST(sum(c * wt) + (SELECT sum(c0t) FROM w) AS BIGINT)
                    AS approx_num
           FROM codes JOIN w ON w.d = codes.d
           GROUP BY codes.vec_id)
         SELECT CAST(row_number() OVER (ORDER BY approx_num DESC, vec_id) AS BIGINT)
                  AS rnk,
                vec_id, approx_num
         FROM sc ORDER BY rnk LIMIT 10""",

    // q29's dot algebra restricted to the label sliver.
    "q113_filtered_knn" ->
      """WITH iv AS (SELECT vec_id, label,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
              FROM embeddings),
          scored AS (
            SELECT b.vec_id,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> a.v[i] * b.v[i])) AS BIGINT) AS dot
            FROM iv a, iv b WHERE a.vec_id = 0 AND b.label = 3)
          SELECT CAST(row_number() OVER (ORDER BY dot DESC, vec_id) AS BIGINT) AS rnk,
                 vec_id, dot
          FROM scored ORDER BY dot DESC, vec_id LIMIT 10""",

    // INDEPENDENT algorithm: DuckDB's quantile_disc aggregate vs the
    // Spark side's window rank selection.
    "q122_grouped_quantiles" ->
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                quantile_disc(CAST(round(value * 100) AS BIGINT), 0.25) AS p25_cents,
                quantile_disc(CAST(round(value * 100) AS BIGINT), 0.50) AS p50_cents,
                quantile_disc(CAST(round(value * 100) AS BIGINT), 0.75) AS p75_cents
         FROM events GROUP BY event_type ORDER BY event_type""",

    // both rounds unrolled as generated CTEs from the SAME feature
    // list and gain scale the Spark side trains with.
    "q131_boost_stumps" ->
      boostOracleSql(Seq("user_mod7", "hour_of_day"), rounds = 2,
                     gainScale = 1000L),

    // q164: all three PRF stages as data-dependent CTEs — seed count
    // ranking, TF-IDF expansion mining (seed terms excluded), expanded
    // re-rank; every cut carries its id/term tiebreaker.
    "q164_prf_expansion" ->
      """WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                      t -> t <> '')) AS term
            FROM documents),
          seed AS (SELECT unnest(['stream', 'window']) AS term),
          top3 AS (
            SELECT doc_id FROM (
              SELECT doc_id, count(*) AS score0
              FROM toks JOIN seed USING (term) GROUP BY 1)
            ORDER BY score0 DESC, doc_id LIMIT 3),
          dfreq AS (SELECT term, count(*) AS df
                    FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
          cand AS (
            SELECT t.term, count(*) AS tf
            FROM toks t JOIN top3 USING (doc_id)
            WHERE t.term NOT IN (SELECT term FROM seed)
            GROUP BY 1),
          expd AS (
            SELECT c.term FROM cand c JOIN dfreq d USING (term)
            ORDER BY c.tf * 1000000 // d.df DESC, c.term LIMIT 2),
          allt AS (SELECT term FROM seed UNION SELECT term FROM expd),
          s3 AS (SELECT doc_id, count(*) AS score
                 FROM toks JOIN allt USING (term) GROUP BY 1),
          r AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                            AS BIGINT) AS rnk,
                       doc_id, CAST(score AS BIGINT) AS score
                FROM s3)
          SELECT rnk, doc_id, score FROM r WHERE rnk <= 10 ORDER BY rnk""",

    // q163: the same unrolled training prefix, final per-row table
    // rr2 grouped by feature cell (pred is feature-determined, so
    // max(pred) is THE cell prediction).
    "q163_boost_inference" -> BoostInferenceOracle,

    // q182: inference served from the STORED model — oracle shared
    // VERBATIM with q163 (the q141/q175 stored-serving convention: a
    // correct persisted artifact is indistinguishable from inline).
    "q182_boost_serve" -> BoostInferenceOracle,

    // the same decomposed suffix (chr() = codepoint in DuckDB:
    // 769 = U+0301 combining acute, 8491 = U+212B angstrom sign,
    // 778 = U+030A combining ring), normalized by utf8proc's NFC —
    // an INDEPENDENT Unicode implementation from the JDK's.
    "q132_nfc_normalize" ->
      """WITH raw AS (
            SELECT doc_id,
                   text || ' cafe' || chr(769) || ' ' || chr(8491) ||
                     ' A' || chr(778) AS raw
            FROM documents)
          SELECT doc_id,
                 CAST(length(raw) AS BIGINT) AS n_raw,
                 CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_nfc,
                 md5(nfc_normalize(raw)) AS nfc_md5
          FROM raw ORDER BY doc_id""",

    // q169: the same top-64 tail, both axes through the q89 log2
    // recurrence, the slope left as the division-free rational.
    "q169_zipf_slope" -> ZipfSlopeOracle,

    // q190: the SAME SQL verbatim — the stored-vocab serving path must
    // be indistinguishable from the one-shot corpus tokenize.
    "q190_zipf_stored_vocab" -> ZipfSlopeOracle,

    // q168: q130's edge CTEs, then two unrolled propagation rounds —
    // majority vote per frontier node (row_number ties plabel ASC),
    // clamped by the NOT-IN anti-join, seeds = md5 bucket < 10.
    "q168_label_propagation" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                               t -> t <> '') AS tk
            FROM documents),
          hs AS (
            SELECT DISTINCT doc_id,
                   substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              || ' ' || tk[i+3] || ' ' || tk[i+4]), 1, 8) AS h
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, greatest(len(tk)-4, 0))) AS i
                  FROM toks)),
          grp AS (SELECT h, count(*) AS df FROM hs GROUP BY 1),
          ed AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                 FROM hs a JOIN hs b USING (h) JOIN grp USING (h)
                 WHERE grp.df BETWEEN 2 AND 20 AND b.doc_id > a.doc_id
                 GROUP BY 1, 2 HAVING count(*) >= 3),
          sym AS (SELECT da AS s, db AS d FROM ed
                  UNION ALL SELECT db, da FROM ed),
          l0 AS (SELECT doc_id AS node, lang AS plabel,
                        CAST(0 AS BIGINT) AS round
                 FROM documents
                 WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                            AS BIGINT) % 100 < 10),
          v1 AS (SELECT sym.d AS node, l0.plabel, count(*) AS n
                 FROM sym JOIN l0 ON l0.node = sym.s GROUP BY 1, 2),
          w1 AS (SELECT node, plabel,
                        row_number() OVER (PARTITION BY node
                                           ORDER BY n DESC, plabel ASC) AS rn
                 FROM v1),
          n1 AS (SELECT node, plabel, CAST(1 AS BIGINT) AS round
                 FROM w1 WHERE rn = 1
                   AND node NOT IN (SELECT node FROM l0)),
          l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM n1),
          v2 AS (SELECT sym.d AS node, l1.plabel, count(*) AS n
                 FROM sym JOIN l1 ON l1.node = sym.s GROUP BY 1, 2),
          w2 AS (SELECT node, plabel,
                        row_number() OVER (PARTITION BY node
                                           ORDER BY n DESC, plabel ASC) AS rn
                 FROM v2),
          n2 AS (SELECT node, plabel, CAST(2 AS BIGINT) AS round
                 FROM w2 WHERE rn = 1
                   AND node NOT IN (SELECT node FROM l1)),
          l2 AS (SELECT * FROM l1 UNION ALL SELECT * FROM n2)
          SELECT d.doc_id, l2.plabel, l2.round
          FROM documents d LEFT JOIN l2 ON l2.node = d.doc_id
          ORDER BY d.doc_id""",

    // q110's shingle-hash space builds the edges; three unrolled
    // power-iteration CTEs replay the same truncating algebra.
    "q130_template_rank" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                               t -> t <> '') AS tk
            FROM documents),
          hs AS (
            SELECT DISTINCT doc_id,
                   substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              || ' ' || tk[i+3] || ' ' || tk[i+4]), 1, 8) AS h
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, greatest(len(tk)-4, 0))) AS i
                  FROM toks)),
          grp AS (SELECT h, count(*) AS df FROM hs GROUP BY 1),
          ed AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
                 FROM hs a JOIN hs b USING (h) JOIN grp USING (h)
                 WHERE grp.df BETWEEN 2 AND 20 AND b.doc_id > a.doc_id
                 GROUP BY 1, 2 HAVING count(*) >= 3),
          sym AS (SELECT da AS s, db AS d FROM ed
                  UNION ALL SELECT db, da FROM ed),
          deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY 1),
          p0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
          i1 AS (SELECT sym.d AS node, sum(p0.pr // deg.deg) AS inflow
                 FROM sym JOIN deg USING (s) JOIN p0 ON p0.node = sym.s
                 GROUP BY 1),
          p1 AS (SELECT deg.s AS node,
                        150000 + 85 * coalesce(inflow, 0) // 100 AS pr
                 FROM deg LEFT JOIN i1 ON i1.node = deg.s),
          i2 AS (SELECT sym.d AS node, sum(p1.pr // deg.deg) AS inflow
                 FROM sym JOIN deg USING (s) JOIN p1 ON p1.node = sym.s
                 GROUP BY 1),
          p2 AS (SELECT deg.s AS node,
                        150000 + 85 * coalesce(inflow, 0) // 100 AS pr
                 FROM deg LEFT JOIN i2 ON i2.node = deg.s),
          i3 AS (SELECT sym.d AS node, sum(p2.pr // deg.deg) AS inflow
                 FROM sym JOIN deg USING (s) JOIN p2 ON p2.node = sym.s
                 GROUP BY 1),
          p3 AS (SELECT deg.s AS node,
                        150000 + 85 * coalesce(inflow, 0) // 100 AS pr
                 FROM deg LEFT JOIN i3 ON i3.node = deg.s)
         SELECT p3.node, CAST(deg.deg AS BIGINT) AS deg,
                CAST(p3.pr AS BIGINT) AS pr
         FROM p3 JOIN deg ON deg.s = p3.node
         ORDER BY pr DESC, node""",

    // q171: q130's edge CTEs, then the same lower-(deg,id)→higher
    // orientation, wedge join at the smallest vertex, and closing-edge
    // check; coefficient = 2000·tri // (deg·(deg−1)) truncating.
    "q171_triangle_census" ->
      s"""WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '') AS tk
            FROM documents),
          hs AS (
            SELECT DISTINCT doc_id,
                   substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              || ' ' || tk[i+3] || ' ' || tk[i+4]), 1, 8) AS h
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, greatest(len(tk)-4, 0))) AS i
                  FROM toks)),
          grp AS (SELECT h, count(*) AS df FROM hs GROUP BY 1),
          ed AS (SELECT a.doc_id AS u, b.doc_id AS v
                 FROM hs a JOIN hs b USING (h) JOIN grp USING (h)
                 WHERE grp.df BETWEEN 2 AND 20 AND b.doc_id > a.doc_id
                 GROUP BY 1, 2 HAVING count(*) >= 3),
          ${triangleTailSql("ed")}""",

    // q177: the same triangle tail over the STORED-signature LSH
    // candidate graph (q59's pairs CTEs) — graph analytics at the
    // production posture: the probe side never re-shingles the corpus,
    // and the oracle replays the signature construction from scratch.
    "q177_triangle_census_sigs" ->
      s"""WITH $minhashPairsSql,
          ${triangleTailSql("pairs")}""",

    // the same strict-prefix cumulants and HUGEINT fixed-point gain.
    "q129_regression_stump" ->
      """WITH e AS (
           SELECT CAST(user_id % 7 AS BIGINT) AS user_mod7,
                  CAST(hour(ts) AS BIGINT) AS hour_of_day,
                  CAST(round(value * 100) AS BIGINT) AS y
           FROM events),
          s AS (SELECT 'user_mod7' AS feat, user_mod7 AS v, y FROM e
                UNION ALL SELECT 'hour_of_day', hour_of_day, y FROM e),
          g AS (SELECT feat, v, count(*) AS cnt, sum(y) AS sy
                FROM s GROUP BY 1, 2),
          c AS (SELECT feat, v, cnt, sy,
                       coalesce(sum(cnt) OVER w, 0) AS nL,
                       coalesce(sum(sy) OVER w, 0) AS sL,
                       sum(cnt) OVER (PARTITION BY feat) AS n,
                       sum(sy) OVER (PARTITION BY feat) AS s
                FROM g
                WINDOW w AS (PARTITION BY feat ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING)),
          sc AS (SELECT feat, v, nL, n - nL AS nR, sL, s - sL AS sR FROM c),
          scored AS (
            SELECT feat, v, nL, nR,
                   (CASE WHEN nL = 0 THEN 0
                         ELSE CAST(sL AS HUGEINT) * sL * 1000000 // nL END)
                 + (CASE WHEN nR = 0 THEN 0
                         ELSE CAST(sR AS HUGEINT) * sR * 1000000 // nR END)
                     AS gain_fp,
                   CASE WHEN nL = 0 THEN 0
                        ELSE CAST(sL AS HUGEINT) * 1000000 // nL END
                     AS mean_left_fp,
                   CASE WHEN nR = 0 THEN 0
                        ELSE CAST(sR AS HUGEINT) * 1000000 // nR END
                     AS mean_right_fp
            FROM sc),
          best AS (SELECT feat, v, gain_fp, nL, nR, mean_left_fp,
                          mean_right_fp,
                          row_number() OVER (PARTITION BY feat
                            ORDER BY gain_fp DESC, v) AS rn
                   FROM scored)
         SELECT feat, CAST(v AS BIGINT) AS threshold,
                CAST(gain_fp AS BIGINT) AS gain_fp,
                CAST(nL AS BIGINT) AS n_left, CAST(nR AS BIGINT) AS n_right,
                CAST(mean_left_fp AS BIGINT) AS mean_left_fp,
                CAST(mean_right_fp AS BIGINT) AS mean_right_fp
         FROM best WHERE rn = 1 ORDER BY feat""",

    // the same n-scaled division-free CUSUM algebra over windows.
    "q127_cusum_drift" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
          c AS (
           SELECT day, cents,
                  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
                  CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cum_cents,
                  CAST(count(*) OVER () AS BIGINT) AS n,
                  CAST(sum(cents) OVER () AS BIGINT) AS s
           FROM daily),
          d AS (SELECT day, k, cents, cum_cents,
                       abs(n * cum_cents - k * s) AS dev
                FROM c),
          p AS (SELECT min(day) AS pk FROM d
                WHERE dev = (SELECT max(dev) FROM d))
         SELECT day, k, cents, cum_cents, CAST(dev AS BIGINT) AS dev,
                CAST(CASE WHEN day = pk THEN 1 ELSE 0 END AS BIGINT)
                  AS is_changepoint
         FROM d, p ORDER BY day""",

    // q90's register construction keyed by DAY over user ids, with the
    // exact count joined beside the estimate.
    "q128_daily_distinct_hll" ->
      s"""WITH ev AS (
            SELECT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS uid
            FROM events),
          h AS (
            SELECT day,
                   CAST('0x' || substr(md5(uid), 1, 2) AS BIGINT) AS bucket,
                   CAST('0x' || substr(md5(uid), 3, 8) AS BIGINT) AS v
            FROM ev),
          r AS (
            SELECT day, bucket,
                   max(CASE WHEN v = 0 THEN 33
                            ELSE 33 - length(bin(v)) END) AS m_reg,
                   count(*) AS occ
            FROM h GROUP BY 1, 2),
          agg AS (
            SELECT day, sum(occ) AS n_tokens, count(*) AS registers_used,
                   sum(${graft.text.Profile.HllEmptyTerm} >> CAST(m_reg AS INT)) AS dn
            FROM r GROUP BY day),
          tr AS (SELECT day, CAST(count(DISTINCT uid) AS BIGINT)
                          AS true_distinct
                 FROM ev GROUP BY day)
          SELECT agg.day, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(registers_used AS BIGINT) AS registers_used,
                 CAST(${graft.text.Profile.HllNum}
                        // (dn + (256 - registers_used) * ${graft.text.Profile.HllEmptyTerm})
                        // ${graft.text.Profile.HllDen} AS BIGINT) AS est_distinct,
                 true_distinct
          FROM agg JOIN tr ON tr.day = agg.day ORDER BY agg.day""",

    // both legs replayed (q81's rational-IDF BM25 algebra on
    // 'table'/'scan'; q109's doubled-space phrase counting) then the
    // same fixed-point RRF fold.
    "q126_hybrid_rrf" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\W+'),
                               t -> t <> '') AS toks
            FROM documents),
          base AS (
            SELECT doc_id, len(toks) AS dl,
                   len(list_filter(toks, t -> t = 'table')) AS tf0,
                   len(list_filter(toks, t -> t = 'scan')) AS tf1
            FROM toks),
          stats AS (
            SELECT sum(dl) AS T, count(*) AS N,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
            FROM base),
          clamped AS (
            SELECT doc_id, dl, least(tf0, 1048576) AS tf0,
                   least(tf1, 1048576) AS tf1
            FROM base),
          scored AS (
            SELECT b.doc_id,
                   (10000 * (2*(N - df0) + 1) * 22 * tf0 * T)
                     // ((2*df0 + 1) * (10*T*tf0 + 3*T + 9*b.dl*N))
                 + (10000 * (2*(N - df1) + 1) * 22 * tf1 * T)
                     // ((2*df1 + 1) * (10*T*tf1 + 3*T + 9*b.dl*N)) AS score
            FROM clamped b, stats),
          lexr AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
            FROM scored WHERE score > 0
            ORDER BY score DESC, doc_id LIMIT 20),
          ph AS (
           SELECT doc_id,
                  ' ' || replace(trim(regexp_replace(lower(text), '\W+', ' ', 'g')),
                                 ' ', '  ') || ' ' AS s
           FROM documents),
          pm AS (
           SELECT doc_id,
                  (length(s) - length(replace(s, ' table  scan ', '')))
                    // length(' table  scan ') AS n_occ
           FROM ph),
          phrr AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY n_occ DESC, doc_id) AS rnk
            FROM pm WHERE n_occ > 0
            ORDER BY n_occ DESC, doc_id LIMIT 20),
          u AS (SELECT doc_id, 1000000 // (60 + rnk) AS c FROM lexr
                UNION ALL
                SELECT doc_id, 1000000 // (60 + rnk) FROM phrr)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score,
                CAST(count(*) AS BIGINT) AS n_lists
         FROM u GROUP BY doc_id
         ORDER BY rrf_score DESC, doc_id LIMIT 10""",

    // the same prefix-sum split algebra over DuckDB windows.
    "q125_stump_split" ->
      """WITH e AS (
           SELECT CAST(round(value*100) AS BIGINT) AS cents,
                  CAST(user_id % 7 AS BIGINT) AS f2
           FROM events),
          l AS (SELECT cents // 100 AS cents_div100, f2 AS user_mod7,
                       CASE WHEN cents >= 5000 THEN 1 ELSE -1 END AS y
                FROM e),
          s AS (SELECT 'cents_div100' AS feat, cents_div100 AS v, y FROM l
                UNION ALL SELECT 'user_mod7', user_mod7, y FROM l),
          g AS (SELECT feat, v,
                       sum(CASE WHEN y=1 THEN 1 ELSE 0 END) AS np,
                       sum(CASE WHEN y=1 THEN 0 ELSE 1 END) AS nn
                FROM s GROUP BY 1, 2),
          c AS (SELECT feat, v, np, nn,
                       sum(np) OVER (PARTITION BY feat ORDER BY v) AS cpLe,
                       sum(nn) OVER (PARTITION BY feat ORDER BY v) AS cnLe,
                       sum(np) OVER (PARTITION BY feat) AS tp,
                       sum(nn) OVER (PARTITION BY feat) AS tn
                FROM g),
          r AS (SELECT feat, v AS threshold, 'ge' AS direction,
                       (cpLe - np) + (tn - cnLe + nn) AS err FROM c
                UNION ALL
                SELECT feat, v, 'lt',
                       (tp - cpLe + np) + (cnLe - nn) FROM c),
          best AS (SELECT feat, threshold, direction, err,
                          row_number() OVER (PARTITION BY feat
                            ORDER BY err, threshold, direction) AS rn
                   FROM r)
         SELECT feat, CAST(threshold AS BIGINT) AS threshold, direction,
                CAST(err AS BIGINT) AS err
         FROM best WHERE rn = 1 ORDER BY feat""",

    // the same blocked-linkage algebra over DuckDB's own levenshtein
    // implementation.
    "q124_fuzzy_neardup" ->
      """WITH k AS (
           SELECT doc_id,
                  substr(regexp_replace(lower(text), '\W', '', 'g'), 1, 32)
                    AS key
           FROM documents),
          f AS (SELECT doc_id, key, substr(key, 1, 6) AS blk
                FROM k WHERE len(key) >= 6),
          c AS (SELECT blk FROM f GROUP BY blk HAVING count(*) <= 1000),
          fb AS (SELECT f.* FROM f JOIN c USING (blk))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(levenshtein(a.key, b.key) AS BIGINT) AS edits
         FROM fb a JOIN fb b ON b.blk = a.blk AND b.doc_id > a.doc_id
         WHERE abs(len(a.key) - len(b.key)) <= 6
           AND levenshtein(a.key, b.key) <= 6
         ORDER BY doc_a, doc_b""",

    // the PLAIN join — salting is pure plan shaping, so the oracle
    // never sees a salt; any divergence is a salting bug.
    "q123_salted_join" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM orders JOIN customer ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY 1""",

    // the naive LATERAL inequality formulation — a different
    // algorithm, q50's independent-oracle convention mirrored forward.
    "q121_asof_forward" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
              p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, m.event_id AS asof_event_id,
                CAST(epoch_us(m.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
         FROM c LEFT JOIN LATERAL (
           SELECT p.event_id, p.ts FROM p
           WHERE p.user_id = c.user_id AND p.ts >= c.ts
           ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) m ON true
         ORDER BY c.event_id""",

    // the same strict-past IGNORE NULLS window and total order.
    "q120_attribution" ->
      """WITH attr AS (
           SELECT event_type, value,
                  last_value(CASE WHEN event_type IN ('click', 'view')
                                  THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS src
           FROM events)
         SELECT coalesce(src, 'none') AS attributed_to,
                CAST(count(*) AS BIGINT) AS n_purchases,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM attr WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",

    // the same u-draw and key algebra; ONE log recurrence over the
    // distinct u values joined back.
    "q119_weighted_sample" ->
      s"""WITH RECURSIVE base AS (
            SELECT doc_id, greatest(CAST(n_chars AS BIGINT), 1) AS w,
                   CAST('0x' || substr(md5('aes|' || CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) + 1 AS u
            FROM documents),
          xs AS (SELECT DISTINCT u AS k, u AS x FROM base),
          ${graft.functions.FixedPoint.oracleLog2Cte("xs", "k", "x", "l2")},
          keyed AS (
            SELECT b.doc_id, b.w,
                   CAST(((l.l2 - 131072) * 1000000) // b.w AS BIGINT) AS key_fp
            FROM base b JOIN __l2 l ON l.k = b.u)
          SELECT CAST(row_number() OVER (ORDER BY key_fp DESC, doc_id) AS BIGINT)
                   AS rnk,
                 doc_id, w AS weight, key_fp
          FROM keyed ORDER BY key_fp DESC, doc_id LIMIT 50""",

    // the same sketch construction (q93's bucket recipe) on both key
    // columns; estimate = min_j of the row inner product.
    "q118_join_size_cms" ->
      """WITH ok AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
          lk AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
          sa AS (SELECT j.j,
                        CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || '|' || k), 1, 8)
                             AS BIGINT) % 1024 AS bucket,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM ok, (SELECT unnest(generate_series(0, 3)) AS j) j
                 GROUP BY 1, 2),
          sb AS (SELECT j.j,
                        CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || '|' || k), 1, 8)
                             AS BIGINT) % 1024 AS bucket,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM lk, (SELECT unnest(generate_series(0, 3)) AS j) j
                 GROUP BY 1, 2),
          rows_ AS (SELECT sa.j, CAST(sum(sa.cnt * sb.cnt) AS BIGINT) AS e
                    FROM sa JOIN sb ON sb.j = sa.j AND sb.bucket = sa.bucket
                    GROUP BY sa.j),
          -- zero-fill rows with no bucket collisions (absent bucket =
          -- count 0), mirroring the query side
          filled AS (SELECT allj.j, coalesce(rows_.e, 0) AS e
                     FROM (SELECT DISTINCT j FROM sa) allj
                     LEFT JOIN rows_ ON rows_.j = allj.j)
          SELECT CAST(min(e) AS BIGINT) AS est_join_size,
                 (SELECT CAST(count(*) AS BIGINT)
                  FROM ok JOIN lk ON lk.k = ok.k) AS true_join_size
          FROM filled""",

    // centroid floor-means per (label, dim), per-vector squared L2 to
    // the own-label centroid, min inter-centroid squared L2 — the
    // same integer algebra end to end.
    "q117_label_cohesion" ->
      """WITH iv AS (SELECT vec_id, label,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
              FROM embeddings),
          el AS (SELECT vec_id, label, v[d] AS x, d
                 FROM (SELECT vec_id, label, v,
                              unnest(generate_series(1, len(v))) AS d FROM iv)),
          cent AS (SELECT label, d, CAST(sum(x) // count(*) AS BIGINT) AS c
                   FROM el GROUP BY 1, 2),
          d2 AS (SELECT e.vec_id, e.label,
                        CAST(sum((e.x - c.c) * (e.x - c.c)) AS BIGINT) AS dd
                 FROM el e JOIN cent c ON c.label = e.label AND c.d = e.d
                 GROUP BY 1, 2),
          intra AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
                           CAST(sum(dd) // count(*) AS BIGINT) AS avg_intra_d2
                    FROM d2 GROUP BY 1),
          pair AS (SELECT a.label AS la, b.label AS lb,
                          CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS pd
                   FROM cent a JOIN cent b ON a.d = b.d AND a.label <> b.label
                   GROUP BY 1, 2),
          inter AS (SELECT la AS label, min(pd) AS min_inter_d2 FROM pair GROUP BY 1)
          SELECT CAST(i.label AS BIGINT) AS label, i.n_vectors,
                 i.avg_intra_d2, t.min_inter_d2
          FROM intra i JOIN inter t ON t.label = i.label
          ORDER BY label""",

    // the same count algebra + ONE log recurrence over the DISTINCT
    // argument values (c ∪ Ct ∪ Ns ∪ N) joined back four ways —
    // q92's DISTINCT-over-UNION-ALL convention under WITH RECURSIVE.
    "q116_source_kl" ->
      s"""WITH RECURSIVE toks AS (
            SELECT source,
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
            FROM documents),
          counts AS (
            SELECT source, tok, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2),
          persrc AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM counts GROUP BY 1),
          pertok AS (
            SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM counts GROUP BY 1),
          tot AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM persrc),
          xs AS (
            SELECT DISTINCT k, x FROM (
              SELECT c AS k, c AS x FROM counts
              UNION ALL SELECT ct, ct FROM pertok
              UNION ALL SELECT ns, ns FROM persrc
              UNION ALL SELECT n, n FROM tot)),
          ${graft.functions.FixedPoint.oracleLog2Cte("xs", "k", "x", "l2")},
          terms AS (
            SELECT c.source,
                   c.c * (lc.l2 + ln.l2 - lns.l2 - lct.l2) AS term
            FROM counts c
            JOIN pertok pt ON pt.tok = c.tok
            JOIN persrc ps ON ps.source = c.source
            CROSS JOIN tot
            JOIN __l2 lc ON lc.k = c.c
            JOIN __l2 lct ON lct.k = pt.ct
            JOIN __l2 lns ON lns.k = ps.ns
            JOIN __l2 ln ON ln.k = tot.n)
          SELECT t.source, ps.ns AS n_tokens,
                 CAST(CAST(sum(t.term) AS BIGINT) // ps.ns AS BIGINT) AS kl_fp
          FROM terms t JOIN persrc ps ON ps.source = t.source
          GROUP BY t.source, ps.ns
          ORDER BY t.source""",

    // the same day-number RANGE frame.
    "q115_moving_revenue" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
                  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
           FROM events WHERE event_type = 'purchase'
           GROUP BY 1, 3),
         win AS (
           SELECT day, cents,
                  CAST(sum(cents) OVER r AS BIGINT) AS cents_7d,
                  CAST(count(*) OVER r AS BIGINT) AS days_present
           FROM daily
           WINDOW r AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT day, cents, cents_7d, days_present,
                CAST(cents_7d // days_present AS BIGINT) AS avg_cents_7d
         FROM win ORDER BY day""",

    // same cleared z-test in HUGEINT.
    "q114_value_outliers" ->
      """WITH e AS (SELECT event_id, event_type,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events),
          st AS (SELECT event_type, count(*) AS n, sum(cents) AS s,
                        sum(cents * cents) AS q
                 FROM e GROUP BY event_type)
          SELECT event_id, e.event_type, cents
          FROM e JOIN st USING (event_type)
          WHERE (n*cents - s)*(n*cents - s) > 9*(n*q - s*s)
          ORDER BY event_id""",

    // the interleave replayed from the SAME generated sum-of-terms
    // SQL (zValueSql) — the two sides cannot drift.
    "q107_zorder_stats" -> {
      val z = graft.operators.ZOrder.zValueSql("xb", "yb", bits = 8)
      s"""WITH g AS (
            SELECT CAST(user_id % 256 AS BIGINT) AS xb,
                   CAST(abs(event_id) % 256 AS BIGINT) AS yb
            FROM events),
          zt AS (SELECT xb, yb, $z AS z FROM g)
          SELECT CAST(z // 4096 AS BIGINT) AS block,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(min(xb) AS BIGINT) AS x_min, CAST(max(xb) AS BIGINT) AS x_max,
                 CAST(min(yb) AS BIGINT) AS y_min, CAST(max(yb) AS BIGINT) AS y_max
          FROM zt GROUP BY 1 ORDER BY block"""
    },

    // the DIRECT full recompute from raw events — checking the
    // Spark side's union-of-partials merge.
    "q106_incremental_agg" ->
      """SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_value_cents
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",

    // q31's session CTEs; the same day-partitioned sweep with
    // carry-in; peak tie -> earliest ts via the join-back min.
    "q105_peak_concurrency" ->
      """WITH lagged AS (
            SELECT user_id, event_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
            FROM events),
          flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN pts IS NULL OR epoch_us(ts) - epoch_us(pts) > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM lagged),
          sess AS (
            SELECT user_id, event_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
            FROM flagged),
          s2 AS (
            SELECT user_id, session_no,
                   min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
            FROM sess GROUP BY 1, 2),
          b AS (
            SELECT start_us AS ts, 1 AS delta FROM s2
            UNION ALL SELECT end_us, -1 FROM s2),
          b2 AS (SELECT ts, delta, ts // 86400000000 AS day FROM b),
          dc AS (SELECT day, sum(delta) AS dd FROM b2 GROUP BY day),
          carry AS (
            SELECT day,
                   coalesce(sum(dd) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
            FROM dc),
          runs AS (
            SELECT b2.day, b2.ts,
                   c.carry + sum(b2.delta) OVER (PARTITION BY b2.day
                     ORDER BY b2.ts ASC, b2.delta DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
            FROM b2 JOIN carry c USING (day)),
          pk AS (SELECT day, max(run) AS peak FROM runs GROUP BY day)
          SELECT CAST(p.day AS BIGINT) AS day, CAST(p.peak AS BIGINT) AS peak,
                 CAST(min(r.ts) AS BIGINT) AS peak_at_us
          FROM pk p JOIN runs r ON r.day = p.day AND r.run = p.peak
          GROUP BY 1, 2 ORDER BY day""",

    // the JOIN-based funnel formulation (vs the Spark window stack):
    // each stage's min ts strictly after the previous stage's.
    "q104_event_funnel" ->
      """WITH v AS (
            SELECT user_id, min(ts) AS tv FROM events
            WHERE event_type = 'view' GROUP BY 1),
          c AS (
            SELECT e.user_id, min(e.ts) AS tc
            FROM events e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1),
          p AS (
            SELECT e.user_id, min(e.ts) AS tp
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1)
          SELECT stage, CAST(n AS BIGINT) AS n_users FROM (
            SELECT '1_view' AS stage, count(*) AS n FROM v
            UNION ALL SELECT '2_click', count(*) FROM c
            UNION ALL SELECT '3_purchase', count(*) FROM p)
          ORDER BY stage""",

    // q83's span CTEs verbatim, then the token stream anti-joined on
    // (doc, pos-in-span) and rebuilt in pos order (string_agg ORDER
    // BY); fully-cut docs keep NULL digests via the left join.
    "q103_decontaminate_apply" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
            FROM documents),
          sp AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
                  FROM documents)),
          hs AS (
            SELECT t.doc_id, s.split,
                   list_transform(
                     list_transform(generate_series(1, greatest(len(tk)-2, 0)),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                     g -> substr(md5(g), 1, 8)) AS h
            FROM toks t JOIN sp s USING (doc_id)),
          tr AS (
            SELECT h FROM (
              SELECT doc_id, unnest(list_distinct(h)) AS h
              FROM hs WHERE split = 'train')
            GROUP BY h HAVING count(*) <= 100),
          tpos AS (
            SELECT doc_id, i AS pos, h[i] AS h
            FROM (SELECT doc_id, h, unnest(generate_series(1, len(h))) AS i
                  FROM hs WHERE split = 'test')),
          m AS (
            SELECT DISTINCT doc_id, pos, pos + 2 AS e
            FROM tpos WHERE h IN (SELECT h FROM tr)),
          isl AS (
            SELECT doc_id, pos, e,
                   CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          IS NULL
                        OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                        THEN 1 ELSE 0 END AS ni
            FROM m),
          isl2 AS (
            SELECT doc_id, pos, e,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
            FROM isl),
          spans AS (
            SELECT doc_id, min(pos) AS s, max(e) AS e
            FROM isl2 GROUP BY doc_id, island),
          tt AS (
            SELECT t.doc_id, t.tk FROM toks t JOIN sp s USING (doc_id)
            WHERE s.split = 'test'),
          tp AS (
            SELECT doc_id, i AS pos, tk[i] AS tok
            FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
                  FROM tt)),
          kept AS (
            SELECT p.doc_id, p.pos, p.tok FROM tp p
            WHERE NOT EXISTS (SELECT 1 FROM spans s
                              WHERE s.doc_id = p.doc_id
                                AND p.pos BETWEEN s.s AND s.e)),
          keptagg AS (
            SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY doc_id),
          orig AS (SELECT doc_id, count(*) AS n_tokens FROM tp GROUP BY doc_id)
          SELECT o.doc_id, CAST(o.n_tokens AS BIGINT) AS n_tokens,
                 CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
                 CAST(o.n_tokens - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
                 k.clean_md5
          FROM orig o LEFT JOIN keptagg k USING (doc_id)
          ORDER BY o.doc_id""",

    // the same histogram algebra: cumulative token mass over f desc,
    // boundary group found per threshold, exact partial intake.
    "q102_vocab_coverage" ->
      """WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                      t -> t <> '')) AS w
            FROM documents),
          vocab AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
          hist AS (SELECT f, count(*) AS m FROM vocab GROUP BY f),
          cum AS (
            SELECT f, m,
                   sum(m) OVER (ORDER BY f DESC) AS cumTok,
                   sum(f*m) OVER (ORDER BY f DESC) AS cumMass,
                   sum(f*m) OVER () AS total
            FROM hist),
          c2 AS (SELECT *, cumTok - m AS prevTok, cumMass - f*m AS prevMass
                 FROM cum),
          th AS (SELECT unnest([50, 90, 99]) AS threshold),
          cand AS (
            SELECT t.threshold, c.f, c.total, c.cumMass,
                   c.prevTok + (t.threshold * c.total - 100*c.prevMass + 100*c.f - 1)
                               // (100*c.f) AS k
            FROM c2 c, th t
            WHERE 100 * c.cumMass >= t.threshold * c.total),
          pick AS (
            SELECT threshold, k, f, total,
                   row_number() OVER (PARTITION BY threshold
                                      ORDER BY cumMass) AS rn
            FROM cand)
          SELECT CAST(threshold AS BIGINT) AS threshold,
                 CAST(k AS BIGINT) AS vocab_size,
                 CAST(f AS BIGINT) AS boundary_freq,
                 CAST(total AS BIGINT) AS total_tokens
          FROM pick WHERE rn = 1 ORDER BY threshold""",

    // the same cut algebra: trailing-16-window rolling polynomial hash
    // (base 1000003 mod 2^32 — CdcExpressions.CdcCuts; 257 was degenerate: 257 ≡ 1 mod 64 made the rule an order-independent additive checksum), recomputed here as
    // the direct Σ codepoint·1000003^(16−j) sum with the 16 coefficients
    // baked (max term sum < 2^57, inside BIGINT); the text end
    // appended, spans from consecutive boundaries.
    "q101_cdc_chunks" ->
      """WITH base AS (
            SELECT doc_id, text, length(text) AS len
            FROM documents WHERE length(text) > 0),
          cuts AS (
            SELECT doc_id, text, len,
                   list_append(
                     list_filter(generate_series(16, greatest(len, 16)),
                       i -> i <= len AND
                            (CAST(unicode(substr(text, i - 15, 1)) AS BIGINT) * 1393333803 +
                             CAST(unicode(substr(text, i - 14, 1)) AS BIGINT) * 474194425 +
                             CAST(unicode(substr(text, i - 13, 1)) AS BIGINT) * 3593305363 +
                             CAST(unicode(substr(text, i - 12, 1)) AS BIGINT) * 3503535345 +
                             CAST(unicode(substr(text, i - 11, 1)) AS BIGINT) * 3368458939 +
                             CAST(unicode(substr(text, i - 10, 1)) AS BIGINT) * 72493609 +
                             CAST(unicode(substr(text, i - 9, 1)) AS BIGINT) * 2992458019 +
                             CAST(unicode(substr(text, i - 8, 1)) AS BIGINT) * 3986661281 +
                             CAST(unicode(substr(text, i - 7, 1)) AS BIGINT) * 1071616587 +
                             CAST(unicode(substr(text, i - 6, 1)) AS BIGINT) * 272515929 +
                             CAST(unicode(substr(text, i - 5, 1)) AS BIGINT) * 3865227315 +
                             CAST(unicode(substr(text, i - 4, 1)) AS BIGINT) * 1525764945 +
                             CAST(unicode(substr(text, i - 3, 1)) AS BIGINT) * 583896283 +
                             CAST(unicode(substr(text, i - 2, 1)) AS BIGINT) * 3573587337 +
                             CAST(unicode(substr(text, i - 1, 1)) AS BIGINT) * 1000003 +
                             CAST(unicode(substr(text, i, 1)) AS BIGINT)) % 4294967296 % 64 = 0),
                     len) AS b0
            FROM base),
          bnds AS (
            SELECT doc_id, text, list_sort(list_distinct(b0)) AS bnds FROM cuts),
          ch AS (
            SELECT doc_id, text, bnds, unnest(generate_series(1, len(bnds))) AS k
            FROM bnds),
          rows_ AS (
            SELECT doc_id, k,
                   CASE WHEN k = 1 THEN 1 ELSE bnds[k-1] + 1 END AS s,
                   bnds[k] AS e, text
            FROM ch)
          SELECT doc_id, CAST(k AS BIGINT) AS chunk_number,
                 CAST(s AS BIGINT) AS start_pos,
                 substr(text, s, e - s + 1) AS content
          FROM rows_ ORDER BY doc_id, chunk_number""",

    // q100's scored scan, label-filtered instead of self-filtered.
    "q154_hard_negatives" ->
      """WITH iv AS (
            SELECT vec_id, label,
                   list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          q AS (SELECT vec_id AS query_id, label AS ql, v AS qv
                FROM iv WHERE vec_id % 97 = 0),
          scored AS (
            SELECT q.query_id, iv.vec_id, CAST(iv.label AS BIGINT) AS label,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * q.qv[i])) AS BIGINT) AS dot
            FROM iv CROSS JOIN q
            WHERE iv.label <> q.ql),
          r AS (SELECT query_id, vec_id, dot, label,
                       CAST(row_number() OVER (PARTITION BY query_id
                                          ORDER BY dot DESC, vec_id) AS BIGINT) AS rnk
                FROM scored)
          SELECT query_id, rnk, vec_id, dot, label
          FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""",

    // q155: the full weight algebra replayed — md5-bucketed word
    // features, target/rest marginals from the same (doc,feat) counts,
    // w_f = t_f·R − r_f·T, per-doc Σ c·w.
    "q155_domain_relevance" ->
      """WITH toks AS (
            SELECT doc_id, source IN ('src0', 'src1') AS is_target,
                   unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                      t -> t <> '')) AS term
            FROM documents),
          f AS (
            SELECT doc_id, is_target,
                   CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 64 AS feat
            FROM toks),
          dc AS (SELECT doc_id, is_target, feat, count(*) AS c
                 FROM f GROUP BY 1, 2, 3),
          cnt AS (
            SELECT feat,
                   CAST(sum(CASE WHEN is_target THEN c ELSE 0 END) AS BIGINT) AS t_f,
                   CAST(sum(CASE WHEN is_target THEN 0 ELSE c END) AS BIGINT) AS r_f
            FROM dc GROUP BY 1),
          tot AS (SELECT CAST(sum(t_f) AS BIGINT) AS t_tot,
                         CAST(sum(r_f) AS BIGINT) AS r_tot FROM cnt),
          w AS (SELECT feat, t_f * r_tot - r_f * t_tot AS w FROM cnt, tot)
          SELECT dc.doc_id, CAST(sum(dc.c) AS BIGINT) AS n_tokens,
                 CAST(sum(dc.c * w.w) AS BIGINT) AS score
          FROM dc JOIN w USING (feat)
          GROUP BY 1 ORDER BY doc_id""",

    // q157: every Gopher rule replayed — same tokenization (\s+ split,
    // non-empty), sum of word lengths as non-whitespace char count,
    // non-overlapping regexp counts for # and ellipsis, per-rule
    // cross-multiplied rationals.
    "q157_gopher_rules" ->
      """WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               w -> w <> '') AS toks,
                   string_split(text, chr(10)) AS lines, text
            FROM documents),
          m AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(length(regexp_replace(text, '\s', '', 'g'))
                        AS BIGINT) AS sum_word_len,
                   CAST(len(list_filter(toks,
                        w -> regexp_matches(w, '[A-Za-z]')))
                        AS BIGINT) AS n_alpha,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(list_filter(lines,
                        l -> regexp_matches(l, '^[-*]')))
                        AS BIGINT) AS n_bullet,
                   CAST(len(list_filter(lines,
                        l -> regexp_matches(l, '\.\.\.$')))
                        AS BIGINT) AS n_ellipsis,
                   CAST(len(regexp_extract_all(text, '#')) +
                        len(regexp_extract_all(text, '\.\.\.'))
                        AS BIGINT) AS n_symbols,
                   CAST((CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'the') THEN 1 ELSE 0 END) +
                        (CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'be') THEN 1 ELSE 0 END) +
                        (CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'to') THEN 1 ELSE 0 END) +
                        (CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'of') THEN 1 ELSE 0 END) +
                        (CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'and') THEN 1 ELSE 0 END) +
                        (CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'that') THEN 1 ELSE 0 END) +
                        (CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'have') THEN 1 ELSE 0 END) +
                        (CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'with') THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_stop_hits
            FROM base)
          SELECT doc_id, n_words, sum_word_len, n_alpha, n_lines, n_bullet,
                 n_ellipsis, n_symbols, n_stop_hits,
                 n_words >= 50 AND n_words <= 100000 AS words_ok,
                 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
                   AS word_len_ok,
                 n_symbols * 10 <= n_words AS symbol_ok,
                 n_bullet * 10 <= n_lines * 9 AS bullet_ok,
                 n_ellipsis * 10 <= n_lines * 3 AS ellipsis_ok,
                 n_alpha * 10 >= n_words * 8 AS alpha_ok,
                 n_stop_hits >= 2 AS stopword_ok,
                 (n_words >= 50 AND n_words <= 100000) AND
                 (3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words) AND
                 (n_symbols * 10 <= n_words) AND
                 (n_bullet * 10 <= n_lines * 9) AND
                 (n_ellipsis * 10 <= n_lines * 3) AND
                 (n_alpha * 10 >= n_words * 8) AND
                 (n_stop_hits >= 2) AS kept
          FROM m ORDER BY doc_id""",

    // q158: the MaxSim algebra replayed — per-(doc, query-vector) max
    // dot, per-doc sum, top 10 by (score desc, doc).
    "q158_maxsim_late_interaction" ->
      """WITH iv AS (
            SELECT vec_id,
                   list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          d AS (SELECT vec_id // 10 AS doc, v FROM iv),
          q AS (SELECT vec_id AS qi, v AS qv FROM iv WHERE vec_id < 10),
          dots AS (
            SELECT d.doc, q.qi,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> d.v[i] * q.qv[i])) AS BIGINT) AS dot
            FROM d CROSS JOIN q),
          mx AS (SELECT doc, qi, max(dot) AS m FROM dots GROUP BY 1, 2),
          sc AS (SELECT doc, CAST(sum(m) AS BIGINT) AS score
                 FROM mx GROUP BY 1),
          r AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, doc)
                            AS BIGINT) AS rnk,
                       CAST(doc AS BIGINT) AS doc, score
                FROM sc)
          SELECT rnk, doc, score FROM r WHERE rnk <= 10 ORDER BY rnk""",

    // q159: both rankings replayed — full 64-dim and first-16-dim
    // integer dots, top-10 each (dot desc, vec_id), intersection
    // counted per query; starved queries kept at 0.
    "q159_matryoshka_overlap" ->
      """WITH iv AS (
            SELECT vec_id,
                   list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          qs AS (SELECT CAST(vec_id AS BIGINT) AS query_id, v AS qv
                 FROM iv WHERE vec_id < 5),
          sc AS (
            SELECT q.query_id, iv.vec_id,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * q.qv[i])) AS BIGINT) AS dot_full,
                   CAST(list_sum(list_transform(generate_series(1, 16),
                     i -> iv.v[i] * q.qv[i])) AS BIGINT) AS dot_trunc
            FROM iv CROSS JOIN qs q),
          rf AS (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dot_full DESC, vec_id) AS rn_f,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dot_trunc DESC, vec_id) AS rn_t
            FROM sc),
          h AS (SELECT query_id, count(*) AS n FROM rf
                WHERE rn_f <= 10 AND rn_t <= 10 GROUP BY 1)
          SELECT q.query_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_overlap
          FROM qs q LEFT JOIN h USING (query_id)
          ORDER BY query_id""",

    // q179: q152's lang-blocked df-capped pair kernel, the five gates
    // as cross-multiplied rationals over one pair table, zero-filled
    // tiers kept.
    "q179_dedup_threshold_sweep" ->
      s"""WITH sh AS (
            SELECT lang, doc_id, list_distinct(${shingleSql("toks")}) AS s
            FROM (SELECT lang, doc_id, $Toks AS toks FROM documents)
            WHERE len(toks) >= 3),
          e AS (SELECT lang, doc_id, len(s) AS n, unnest(s) AS g FROM sh),
          capped AS (
            SELECT lang, g FROM e GROUP BY lang, g
            HAVING count(*) BETWEEN 2 AND 20),
          p AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   min(a.n) AS na, min(b.n) AS nb, count(*) AS inter
            FROM e a
            JOIN e b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
            JOIN capped c ON c.lang = a.lang AND c.g = a.g
            GROUP BY 1, 2),
          th AS (SELECT unnest([50, 60, 70, 80, 90]) AS t_pct),
          gated AS (
            SELECT th.t_pct, p.a_id, p.b_id
            FROM p CROSS JOIN th
            WHERE p.inter * 100 >= th.t_pct * (p.na + p.nb - p.inter)),
          np AS (SELECT t_pct, count(*) AS n_pairs FROM gated GROUP BY 1),
          nd AS (SELECT t_pct, count(DISTINCT d) AS n_docs
                 FROM (SELECT t_pct, a_id AS d FROM gated
                       UNION ALL SELECT t_pct, b_id FROM gated)
                 GROUP BY 1)
          SELECT CAST(th.t_pct AS BIGINT) AS t_pct,
                 CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
                 CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
          FROM th LEFT JOIN np USING (t_pct) LEFT JOIN nd USING (t_pct)
          ORDER BY t_pct""",

    // q178: the same bigram event space (positional marginals, pair
    // total), HUGEINT fixed-point ratio, hapax gate, (score desc, w1,
    // w2) top-20.
    "q178_pmi_collocations" ->
      """WITH toks AS (
            SELECT list_filter(string_split_regex(lower(text), '\W+'),
                               t -> t <> '') AS tk
            FROM documents),
          pairs AS (
            SELECT tk[i] AS w1, tk[i+1] AS w2
            FROM (SELECT tk,
                         unnest(generate_series(1, greatest(len(tk)-1, 0))) AS i
                  FROM toks)),
          cbi AS (SELECT w1, w2, count(*) AS c_xy FROM pairs
                  GROUP BY 1, 2 HAVING count(*) >= 5),
          cx AS (SELECT w1, count(*) AS c_x FROM pairs GROUP BY 1),
          cy AS (SELECT w2, count(*) AS c_y FROM pairs GROUP BY 1),
          n AS (SELECT count(*) AS N FROM pairs)
          SELECT b.w1, b.w2, CAST(b.c_xy AS BIGINT) AS c_xy,
                 CAST((1000000::HUGEINT * b.c_xy * n.N)
                      // (c_x::HUGEINT * c_y) AS BIGINT) AS pmi_fp
          FROM cbi b JOIN cx USING (w1) JOIN cy USING (w2), n
          ORDER BY pmi_fp DESC, w1, w2 LIMIT 20""",

    // q176: the same ±1 plane table spliced as literals (the sign-LSH
    // oracle convention), corpus and query vectors projected by the
    // identical Σ s(j,i)·v[i] sums, both rankings replayed.
    "q176_sign_projection_overlap" -> {
      val signs = graft.search.Ann.planeSigns(16, 64)
      val projList = (0 until 16).map { j =>
        "(" + (0 until 64).map(i => s"(${signs(j)(i)})*v[${i + 1}]")
          .mkString(" + ") + ")"
      }.mkString(",\n                    ")
      s"""WITH iv AS (
            SELECT vec_id,
                   list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          pv AS (
            SELECT vec_id, v,
                   [$projList] AS p
            FROM iv),
          qs AS (SELECT CAST(vec_id AS BIGINT) AS query_id, v AS qv, p AS qp
                 FROM pv WHERE vec_id < 5),
          sc AS (
            SELECT q.query_id, pv.vec_id,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> pv.v[i] * q.qv[i])) AS BIGINT) AS dot_full,
                   CAST(list_sum(list_transform(generate_series(1, 16),
                     j -> pv.p[j] * q.qp[j])) AS BIGINT) AS dot_proj
            FROM pv CROSS JOIN qs q),
          rf AS (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dot_full DESC, vec_id) AS rn_f,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY dot_proj DESC, vec_id) AS rn_p
            FROM sc),
          h AS (SELECT query_id, count(*) AS n FROM rf
                WHERE rn_f <= 10 AND rn_p <= 10 GROUP BY 1)
          SELECT q.query_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_overlap
          FROM qs q LEFT JOIN h USING (query_id)
          ORDER BY query_id"""
    },

    // q54's exact integer dots with the self row excluded; votes over
    // rnk<=5; argmax (votes desc, label asc).
    "q100_knn_label_vote" ->
      """WITH iv AS (
            SELECT vec_id, label,
                   list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          q AS (SELECT vec_id AS query_id, CAST(label AS BIGINT) AS true_label, v AS qv
                FROM iv WHERE vec_id % 97 = 0),
          scored AS (
            SELECT q.query_id, iv.vec_id, CAST(iv.label AS BIGINT) AS nl,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * q.qv[i])) AS BIGINT) AS dot
            FROM iv CROSS JOIN q
            WHERE iv.vec_id <> q.query_id),
          r AS (SELECT query_id, nl,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dot DESC, vec_id) AS rnk
                FROM scored),
          votes AS (
            SELECT query_id, nl, count(*) AS votes
            FROM r WHERE rnk <= 5 GROUP BY 1, 2),
          pick AS (
            SELECT query_id, nl AS pred_label, votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY votes DESC, nl) AS pr
            FROM votes)
          SELECT p.query_id, p.pred_label, CAST(p.votes AS BIGINT) AS votes,
                 qq.true_label, (p.pred_label = qq.true_label) AS correct
          FROM pick p JOIN q qq USING (query_id)
          WHERE p.pr = 1 ORDER BY p.query_id""",

    "q60_dedup_keep_one" ->
      s"""WITH RECURSIVE $ccLabelsSql
          SELECT l.doc_id, l.comp,
                 (row_number() OVER (PARTITION BY l.comp
                                     ORDER BY d.n_chars DESC, l.doc_id ASC) = 1)
                   AS keep
          FROM lab l JOIN documents d ON d.doc_id = l.doc_id
          ORDER BY l.doc_id""",

    // q160: q60's cluster scaffold with the survivor ranked by q148's
    // quality score instead of n_chars.
    "q160_keep_best_quality" ->
      s"""WITH RECURSIVE $ccLabelsSql,
          s AS (
            SELECT doc_id,
                   CAST(len(list_filter($Toks,
                     w -> list_contains(['the','a','an','of','to','and','in','is','it','that'],
                                        lower(w)))) * 10000 AS BIGINT)
                   // greatest(CAST(len($Toks) AS BIGINT), 1) AS qscore
            FROM documents)
          SELECT l.doc_id, l.comp, s.qscore,
                 (row_number() OVER (PARTITION BY l.comp
                                     ORDER BY s.qscore DESC, l.doc_id ASC) = 1)
                   AS keep
          FROM lab l JOIN s USING (doc_id)
          ORDER BY l.doc_id""",

    // q134 ≡ q60 through the stored signature table (see q133).
    "q134_keep_one_stored" ->
      s"""WITH RECURSIVE $ccLabelsSql
          SELECT l.doc_id, l.comp,
                 (row_number() OVER (PARTITION BY l.comp
                                     ORDER BY d.n_chars DESC, l.doc_id ASC) = 1)
                   AS keep
          FROM lab l JOIN documents d ON d.doc_id = l.doc_id
          ORDER BY l.doc_id""",

    // q135: Lloyd's replayed round for round — seeds = 8 smallest
    // vec_ids, per-round argmin-L2² assignment (ties to the smallest
    // cell, matching Spark's struct array_min) + floor-mean update
    // (emptied cells keep their previous centroid via the UNION
    // branch). Exact integer algebra end to end.
    "q135_kmeans_train" ->
      s"""$KmeansCtes
          SELECT t.cell, CAST(q.i AS BIGINT) AS d, t.cv[q.i] AS c
          FROM cen2 t, dimsq q
          ORDER BY cell, d""",

    // q136: one more E-step over q135's final centroids, counted per
    // cell (kmeansRoundSql(3) also emits upd3/cen3 — unreferenced, so
    // DuckDB never evaluates them).
    "q136_kmeans_cells" ->
      s"""$KmeansCtes,
          ${kmeansRoundSql(3, "cen2")}
          SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
          FROM asg3 GROUP BY cell ORDER BY cell""",

    // q156: q136's trained assignment (asg3), capped per cell by
    // ascending vec_id rank.
    "q156_balanced_sample" ->
      s"""$KmeansCtes,
          ${kmeansRoundSql(3, "cen2")},
          rk AS (
            SELECT cell, CAST(vec_id AS BIGINT) AS vec_id,
                   CAST(row_number() OVER (PARTITION BY cell
                                           ORDER BY vec_id) AS BIGINT) AS rk
            FROM asg3)
          SELECT cell, vec_id, rk
          FROM rk WHERE rk <= 10 ORDER BY cell, rk""",

    // q137: the per-subspace trainer replayed — final codebooks
    // composed back to full-dims entries: dim d belongs to subspace
    // (d-1)//8, position ((d-1) mod 8)+1 of its codeword.
    "q137_pq_train" ->
      s"""$PqTrainCtes
          SELECT t.cell, CAST(q.i AS BIGINT) AS d,
                 t.cv[CAST((q.i-1) % 8 AS INT) + 1] AS c
          FROM pcen2 t, dimsq q
          WHERE t.sub = (q.i-1) // 8
          ORDER BY cell, d""",

    // q140: train over the md5-bucket <50 sample (ivt), then one full
    // E-step over the WHOLE grid — kmeansRoundSql(3, …, src = "iv").
    "q140_kmeans_sampled" ->
      s"""WITH $TrainBaseCtes,
          ivt AS (
            SELECT vec_id, v FROM iv
            WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 100 < 50),
          cen0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                     AS cell,
                   v AS cv
            FROM (SELECT vec_id, v FROM ivt ORDER BY vec_id LIMIT 8)),
          ${kmeansRoundSql(1, "cen0", "ivt")},
          ${kmeansRoundSql(2, "cen1", "ivt")},
          ${kmeansRoundSql(3, "cen2", "iv")}
          SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
          FROM asg3 GROUP BY cell ORDER BY cell""",

    // q139: the farthest-point seed stages replayed, then the same two
    // Lloyd's rounds as q135 over the fp seed table.
    "q139_kmeans_fp_train" ->
      s"""WITH $TrainBaseCtes,
          $FpSeedCtes,
          ${kmeansRoundSql(1, "cen0fp")},
          ${kmeansRoundSql(2, "cen1")}
          SELECT t.cell, CAST(q.i AS BIGINT) AS d, t.cv[q.i] AS c
          FROM cen2 t, dimsq q
          ORDER BY cell, d""",

    // q138: q80's prune→ADC→re-rank replay, with cen2/pcen2 (both
    // trainers' final tables) in place of the label-mean centroid CTE.
    // Conventions per stage: coarse assignment & cell ranking = max
    // dot, ties to the HIGHER cell (ivfAssignInt/rankCells); PQ encode
    // = min L2², ties to the SMALLER codeword; ADC cut and re-rank
    // ascending with vec_id tie-break.
    "q138_trained_search" -> TrainedSearchOracle,

    // q141 probes the STORED index: a correct stored probe is
    // indistinguishable from the in-memory stack, so the oracle is
    // q138's SQL verbatim (see TrainedSearchOracle).
    "q141_trained_search_stored" -> TrainedSearchOracle,

    // q143: the trained quantizer (cen2), max-dot assignment and
    // probe-cell ranking (both ties to the HIGHER cell — the
    // ivfAssignInt/rankCells conventions), exact vs probed top-10 per
    // query, hit counts via the id intersection; starved queries kept
    // at 0 through the left join.
    "q143_ann_recall" ->
      s"""$KmeansCtes,
          qs AS (SELECT CAST(vec_id AS BIGINT) AS query_id, v AS qv
                 FROM iv WHERE vec_id < 5),
          asg AS (
            SELECT vec_id, cell FROM (
              SELECT iv.vec_id, t.cell,
                     row_number() OVER (PARTITION BY iv.vec_id ORDER BY
                       CAST(list_sum(list_transform(generate_series(1, 64),
                         i -> iv.v[i] * t.cv[i])) AS BIGINT) DESC, t.cell DESC)
                       AS arn
              FROM iv CROSS JOIN cen2 t)
            WHERE arn = 1),
          rankedc AS (
            SELECT q.query_id, t.cell,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                     CAST(list_sum(list_transform(generate_series(1, 64),
                       i -> q.qv[i] * t.cv[i])) AS BIGINT) DESC, t.cell DESC)
                     AS rk
            FROM cen2 t, qs q),
          probes AS (SELECT query_id, cell FROM rankedc WHERE rk <= 2),
          sc AS (
            SELECT q.query_id, iv.vec_id, a.cell,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * q.qv[i])) AS BIGINT) AS dot
            FROM iv CROSS JOIN qs q JOIN asg a ON a.vec_id = iv.vec_id),
          exact AS (
            SELECT query_id, vec_id FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dot DESC, vec_id) AS rn
              FROM sc) WHERE rn <= 10),
          approx AS (
            SELECT query_id, vec_id FROM (
              SELECT s.query_id, s.vec_id,
                     row_number() OVER (PARTITION BY s.query_id
                                        ORDER BY s.dot DESC, s.vec_id) AS rn
              FROM sc s JOIN probes p
                ON p.query_id = s.query_id AND p.cell = s.cell)
            WHERE rn <= 10),
          hits AS (
            SELECT e.query_id, count(*) AS n
            FROM exact e JOIN approx a
              ON a.query_id = e.query_id AND a.vec_id = e.vec_id
            GROUP BY e.query_id)
          SELECT q.query_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits
          FROM qs q LEFT JOIN hits h ON h.query_id = q.query_id
          ORDER BY q.query_id""",

    // q142: BOTH trainings replayed in one statement via the tagged
    // round CTEs (o/n prefixes), then the one-sided chamfer — min
    // shift over new centroids per old cell, ties to the smaller new
    // cell id.
    "q142_centroid_drift" ->
      s"""WITH $TrainBaseCtes,
          ivo AS (
            SELECT vec_id, v FROM iv
            WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 100 < 50),
          ivn AS (
            SELECT vec_id, v FROM iv
            WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 100 >= 50),
          ceno0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                     AS cell,
                   v AS cv
            FROM (SELECT vec_id, v FROM ivo ORDER BY vec_id LIMIT 8)),
          ${kmeansRoundSql(1, "ceno0", "ivo", "o")},
          ${kmeansRoundSql(2, "ceno1", "ivo", "o")},
          cenn0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                     AS cell,
                   v AS cv
            FROM (SELECT vec_id, v FROM ivn ORDER BY vec_id LIMIT 8)),
          ${kmeansRoundSql(1, "cenn0", "ivn", "n")},
          ${kmeansRoundSql(2, "cenn1", "ivn", "n")},
          drift AS (
            SELECT o.cell, n.cell AS nearest_cell,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> (o.cv[i]-n.cv[i])*(o.cv[i]-n.cv[i]))) AS BIGINT)
                     AS shift_d2
            FROM ceno2 o CROSS JOIN cenn2 n)
          SELECT cell, nearest_cell, shift_d2 FROM (
            SELECT cell, nearest_cell, shift_d2,
                   row_number() OVER (PARTITION BY cell
                                      ORDER BY shift_d2 ASC, nearest_cell ASC)
                     AS rn
            FROM drift)
          WHERE rn = 1 ORDER BY cell""",

    "q21_chunk_fixed" ->
      """SELECT doc_id, 'chunk_' || CAST(i AS VARCHAR) AS chunk_id,
                substr(text, (i-1)*100+1, 100) AS content,
                CAST(i AS BIGINT) AS chunk_number,
                CAST(ceil(length(text)/100.0) AS BIGINT) AS total_chunks
         FROM (SELECT doc_id, text,
                      unnest(generate_series(1, CAST(ceil(length(text)/100.0) AS INT))) AS i
               FROM documents)
         ORDER BY doc_id, chunk_number""",

    "q22_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY text_md5""",

    // df-capped gram buckets (mirrors Dedup.ngramJaccardPairs dfCap=20):
    // inter counts only grams shared by 2..20 docs in the block; na/nb
    // stay full distinct-shingle counts.
    "q23_ngram_jaccard" ->
      s"""WITH sh AS (
            SELECT source, doc_id, list_distinct(${shingleSql("toks")}) AS s
            FROM (SELECT source, doc_id, $Toks AS toks FROM documents
                  WHERE source IN ('src0', 'src1'))
            WHERE len(toks) >= 3),
          e AS (SELECT source, doc_id, len(s) AS n, unnest(s) AS g FROM sh),
          capped AS (
            SELECT source, g FROM e GROUP BY source, g
            HAVING count(*) BETWEEN 2 AND 20),
          p AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n AS na, b.n AS nb
            FROM e a
            JOIN e b ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
            JOIN capped c ON c.source = a.source AND c.g = a.g)
          SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS inter,
                 CAST(min(na) + min(nb) - count(*) AS BIGINT) AS uni
          FROM p GROUP BY a_id, b_id
          HAVING count(*) * 2 >= min(na) + min(nb) - count(*)
          ORDER BY a_id, b_id""",

    // q23's bucket replay with lang blocking and the containment gate:
    // inter / least(na, nb) >= 9/10 as a pure integer comparison.
    "q152_containment_neardup" ->
      s"""WITH sh AS (
            SELECT lang, doc_id, list_distinct(${shingleSql("toks")}) AS s
            FROM (SELECT lang, doc_id, $Toks AS toks FROM documents)
            WHERE len(toks) >= 3),
          e AS (SELECT lang, doc_id, len(s) AS n, unnest(s) AS g FROM sh),
          capped AS (
            SELECT lang, g FROM e GROUP BY lang, g
            HAVING count(*) BETWEEN 2 AND 20),
          p AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   min(a.n) AS na, min(b.n) AS nb, count(*) AS inter
            FROM e a
            JOIN e b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
            JOIN capped c ON c.lang = a.lang AND c.g = a.g
            GROUP BY 1, 2)
          SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
                 CAST(least(na, nb) AS BIGINT) AS n_small
          FROM p WHERE inter * 10 >= least(na, nb) * 9
          ORDER BY a_id, b_id""",

    // q166: the shared pair-count CTEs gated by EITHER relation, the
    // union closed transitively (q59's recursive-CTE algebra — a
    // deliberately different algorithm than Spark's pointer jumping).
    "q166_multi_relation_clusters" ->
      s"""WITH RECURSIVE sh AS (
            SELECT lang, doc_id, list_distinct(${shingleSql("toks")}) AS s
            FROM (SELECT lang, doc_id, $Toks AS toks FROM documents)
            WHERE len(toks) >= 3),
          e AS (SELECT lang, doc_id, len(s) AS n, unnest(s) AS g FROM sh),
          capped AS (
            SELECT lang, g FROM e GROUP BY lang, g
            HAVING count(*) BETWEEN 2 AND 20),
          p AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   min(a.n) AS na, min(b.n) AS nb, count(*) AS inter
            FROM e a
            JOIN e b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
            JOIN capped c ON c.lang = a.lang AND c.g = a.g
            GROUP BY 1, 2),
          ed AS (
            SELECT a_id AS u, b_id AS v FROM p
            WHERE inter * 2 >= (na + nb - inter)
               OR inter * 10 >= least(na, nb) * 9),
          edges AS (SELECT u, v FROM ed UNION ALL SELECT v, u FROM ed),
          reach(id, r) AS (
            SELECT DISTINCT u, u FROM edges
            UNION
            SELECT rc.id, e2.v FROM reach rc JOIN edges e2 ON e2.u = rc.r),
          lab AS (
            SELECT d.doc_id, coalesce(m.comp, d.doc_id) AS comp
            FROM documents d
            LEFT JOIN (SELECT id, min(r) AS comp FROM reach GROUP BY id) m
              ON m.id = d.doc_id)
          SELECT doc_id, comp FROM lab ORDER BY doc_id""",

    "q24_minhash_lsh" ->
      s"""WITH sh AS (
            SELECT doc_id, ${shingleSql("toks")} AS s
            FROM (SELECT doc_id, $Toks AS toks FROM documents)
            WHERE len(toks) >= 3),
          sigs AS (
            SELECT doc_id, band, min(substr(md5(g), band*8 + 1, 8)) AS sig
            FROM sh, unnest(s) AS u(g),
                 (SELECT unnest(generate_series(0, 3)) AS band) bb
            GROUP BY doc_id, band)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 count(DISTINCT a.band) AS n_bands
          FROM sigs a JOIN sigs b
            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
          GROUP BY 1, 2 ORDER BY a_id, b_id""",

    // q24's signature pipeline, restricted to odd×even cross pairs.
    "q73_incremental_dedup" ->
      s"""WITH sh AS (
            SELECT doc_id, ${shingleSql("toks")} AS s
            FROM (SELECT doc_id, $Toks AS toks FROM documents)
            WHERE len(toks) >= 3),
          sigs AS (
            SELECT doc_id, band, min(substr(md5(g), band*8 + 1, 8)) AS sig
            FROM sh, unnest(s) AS u(g),
                 (SELECT unnest(generate_series(0, 3)) AS band) bb
            GROUP BY doc_id, band),
          x AS (
            SELECT least(n.doc_id, o.doc_id) AS a_id,
                   greatest(n.doc_id, o.doc_id) AS b_id, n.band
            FROM sigs n JOIN sigs o
              ON n.band = o.band AND n.sig = o.sig
            WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0)
          SELECT a_id, b_id, count(DISTINCT band) AS n_bands
          FROM x GROUP BY a_id, b_id ORDER BY a_id, b_id""",

    "q25_simhash" ->
      s"""WITH toks AS (
            SELECT doc_id, unnest(list_distinct($Toks)) AS tok FROM documents),
          votes AS (
            SELECT doc_id, j,
                   sum(CASE WHEN strpos('89abcdef', substr(md5(tok), j+1, 1)) > 0
                            THEN 1 ELSE -1 END) AS v
            FROM toks, (SELECT unnest(generate_series(0, 15)) AS j) jj
            GROUP BY doc_id, j)
          SELECT doc_id,
                 CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT)
                   AS simhash
          FROM votes GROUP BY doc_id ORDER BY doc_id""",

    "q26_text_quality" ->
      s"""SELECT doc_id,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(len($Toks) AS BIGINT) AS n_tokens,
                 CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                   AS n_bpe_tokens,
                 CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT)
                   AS n_punct,
                 CAST(len(list_filter($Toks,
                   w -> list_contains(['the','a','an','of','to','and','in','is','it','that'],
                                      lower(w)))) AS BIGINT) AS n_stopwords,
                 (n_tokens >= 5 AND n_chars >= 20 AND n_stopwords*100 >= n_tokens*2) AS quality_ok
         FROM documents ORDER BY doc_id""",

    "q27_langid" -> {
      val markers = TextStats.LangMarkers.map { case (lang, ws) =>
        s"""CAST(len(list_filter($Toks,
             w -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], lower(w)))) AS BIGINT)
             AS score_$lang"""
      }.mkString(",\n")
      // fold argmax exactly as the Spark side: strictly-greater wins
      val langs = TextStats.LangMarkers.map(_._1)
      val foldPred = langs.zipWithIndex.foldLeft(("'und'", "CAST(0 AS BIGINT)")) {
        case ((bl, bs), (lang, _)) =>
          (s"(CASE WHEN score_$lang > $bs THEN '$lang' ELSE $bl END)",
           s"(CASE WHEN score_$lang > $bs THEN score_$lang ELSE $bs END)")
      }._1
      s"""SELECT doc_id, lang, $markers, $foldPred AS pred_lang
          FROM documents ORDER BY doc_id"""
    },

    "q28_fingerprint" ->
      """SELECT md5(array_to_string(list_filter(string_split_regex(lower(text), '\s+'),
                                                t -> t <> ''), ' ')) AS fp,
                min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY fp""",

    "q29_knn_dot" ->
      """WITH iv AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
              FROM embeddings),
          scored AS (
            SELECT b.vec_id,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> a.v[i] * b.v[i])) AS BIGINT) AS dot
            FROM iv a, iv b WHERE a.vec_id = 0)
          SELECT CAST(row_number() OVER (ORDER BY dot DESC, vec_id) AS BIGINT) AS rnk,
                 vec_id, dot
          FROM scored ORDER BY dot DESC, vec_id LIMIT 10""",

    // the greedy MMR selection unrolled (generator above) — k and pool
    // sizes shared with the Spark registration.
    "q153_mmr_rerank" -> mmrOracleSql(k = 5, pool = 20),

    "q30_embed_neardup" ->
      """WITH iv AS (SELECT label, vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
              FROM embeddings),
          n AS (SELECT label, vec_id, v,
                       CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2 FROM iv)
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> a.v[i] * b.v[i])) AS BIGINT) AS dot
          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) > 0
            AND CAST(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) AS HUGEINT)
                  * list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])) * 100
                >= CAST(a.n2 AS HUGEINT) * b.n2 * 16
          ORDER BY a_id, b_id""",

    "q31_sessions" ->
      """WITH lagged AS (
            SELECT user_id, event_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
            FROM events),
          flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN pts IS NULL OR epoch_us(ts) - epoch_us(pts) > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM lagged),
          sess AS (
            SELECT user_id, event_id, ts,
                   CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                     AS session_no
            FROM flagged)
          SELECT user_id, session_no, count(*) AS n_events,
                 CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
                 CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_us
          FROM sess GROUP BY 1, 2 ORDER BY user_id, session_no""",

    "q32_job_latest" ->
      """SELECT job_id, status, CAST(epoch_us(ts) AS BIGINT) AS updated_us FROM (
           SELECT user_id % 50 AS job_id,
                  CASE WHEN event_type = 'purchase' THEN 'completed'
                       WHEN event_type = 'error' THEN 'failed'
                       WHEN event_type = 'signup' THEN 'queued'
                       ELSE 'running' END AS status,
                  ts,
                  row_number() OVER (PARTITION BY user_id % 50
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY job_id""",

    "q33_multimodal_meta" ->
      """SELECT doc_id,
                CASE WHEN substr(text, 1, 4) = '%PDF' THEN 'application/pdf'
                     WHEN substr(text, 1, 6) IN ('GIF87a', 'GIF89a') THEN 'image/gif'
                     ELSE 'text/plain' END AS mime,
                CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                CAST(64 + byte_len % 1856 AS BIGINT) AS width,
                CAST(64 + (byte_len * 7) % 1016 AS BIGINT) AS height,
                CAST(1 + byte_len % 30 AS BIGINT) AS n_frames,
                CAST(least(width, floor(width * 256 / greatest(height, 1)), 256) AS BIGINT) AS fit_w,
                CAST(least(height, floor(height * 256 / greatest(width, 1)), 256) AS BIGINT) AS fit_h
         FROM documents ORDER BY doc_id""",

    "q34_frame_sample" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame_no FROM (
           SELECT doc_id,
                  unnest(generate_series(1, 1 + CAST(octet_length(encode(text)) AS INT) % 30, 5)) AS f
           FROM documents)
         ORDER BY doc_id, frame_no""",

    "q35_cache_key" ->
      """SELECT vec_id,
                sha256(concat_ws('|',
                  to_json(list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))),
                  'nomic', '', '10')) AS cache_key
         FROM embeddings ORDER BY vec_id""",

    "q38_chunk_stats" ->
      """SELECT CAST(i AS BIGINT) AS chunk_number, count(*) AS n_chunks,
                CAST(min(length(c)) AS BIGINT) AS min_len,
                CAST(max(length(c)) AS BIGINT) AS max_len,
                CAST(sum(length(c)) AS BIGINT) AS sum_len,
                avg(length(c)) AS avg_len
         FROM (SELECT substr(text, (i-1)*100+1, 100) AS c, i FROM
                (SELECT doc_id, text,
                        unnest(generate_series(1, CAST(ceil(length(text)/100.0) AS INT))) AS i
                 FROM documents))
         GROUP BY 1 ORDER BY chunk_number""",

    "q39_text_match" -> TextMatchOracle,

    // q183: text match served from the STORED postings index — oracle
    // shared VERBATIM with q39 (the q175/q181 stored-serving
    // convention: a correct index probe is indistinguishable from the
    // corpus scan).
    "q183_text_match_stored" -> TextMatchOracle,

    // q184: the metadata-search endpoint — q39's token predicate ∧ the
    // metadata equality filter, the index-candidates + row-fetch shape.
    "q184_metadata_search_stored" ->
      """SELECT doc_id, lang FROM documents
         WHERE lang = 'en' AND list_has_any(
           list_distinct(list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '')),
           ['stream', 'window'])
         ORDER BY doc_id""",

    "q40_corpus_stats" ->
      s"""WITH quality AS (
            SELECT doc_id, lang, text,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len($Toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter($Toks,
                     w -> list_contains(['the','a','an','of','to','and','in','is','it','that'],
                                        lower(w)))) AS BIGINT) AS n_stopwords
            FROM documents),
          gated AS (
            SELECT * FROM quality
            WHERE n_tokens >= 5 AND n_chars >= 20 AND n_stopwords*100 >= n_tokens*2),
          keepers AS (
            SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text))
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM gated WHERE doc_id IN (SELECT doc_id FROM keepers)
          GROUP BY lang ORDER BY lang""",

    "q41_simhash_pairs" ->
      s"""WITH toks AS (
            SELECT source, doc_id, unnest(list_distinct($Toks)) AS tok FROM documents),
          votes AS (
            SELECT source, doc_id, j,
                   sum(CASE WHEN strpos('89abcdef', substr(md5(tok), j+1, 1)) > 0
                            THEN 1 ELSE -1 END) AS v
            FROM toks, (SELECT unnest(generate_series(0, 31)) AS j) jj
            GROUP BY source, doc_id, j),
          sig AS (
            SELECT source, doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT)
                     AS sh
            FROM votes GROUP BY source, doc_id)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
          FROM sig a JOIN sig b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh, b.sh)) <= 3
          ORDER BY a_id, b_id""",

    "q42_profile" ->
      """SELECT count(*) AS n_rows,
                count(DISTINCT l_orderkey) AS n_orders,
                count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps,
                CAST(min(l_quantity) AS BIGINT) AS min_qty,
                CAST(max(l_quantity) AS BIGINT) AS max_qty
         FROM lineitem""",

    "q43_centroids" ->
      """WITH iv AS (
            SELECT CAST(label AS BIGINT) AS label,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          ex AS (
            SELECT label, i, v[i] AS x
            FROM iv, (SELECT unnest(generate_series(1, 64)) AS i) ii),
          counts AS (SELECT label, count(*) AS n_vectors FROM iv GROUP BY label)
          SELECT e.label, c.n_vectors, CAST(e.i AS BIGINT) AS dim,
                 CAST(sum(e.x) AS BIGINT) AS s
          FROM ex e JOIN counts c ON e.label = c.label
          GROUP BY e.label, c.n_vectors, e.i
          ORDER BY e.label, dim""",

    "q44_winnow" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
            FROM documents),
          hs AS (
            SELECT doc_id,
                   list_transform(
                     list_transform(generate_series(1, len(tk)-2),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                     g -> substr(md5(g), 1, 8)) AS h
            FROM toks WHERE len(tk) >= 6),
          minima AS (
            SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, len(h)-3),
                     i -> list_min(h[i:i+3]))) AS fps
            FROM hs)
          SELECT doc_id, unnest(fps) AS fp FROM minima
          ORDER BY doc_id, fp""",

    "q45_salted_agg" ->
      """SELECT event_type,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q46_cube" ->
      """SELECT event_type, user_bucket, count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket, value
               FROM events)
         GROUP BY CUBE (event_type, user_bucket)
         ORDER BY event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST""",

    "q47_pivot" ->
      """SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         FROM events GROUP BY 1 ORDER BY user_bucket""",

    // the oracle chunks the ORIGINAL text — identical output proves the
    // PDF generate→extract roundtrip is exact (same SQL as q21).
    "q49_pdf_roundtrip" ->
      """SELECT doc_id, 'chunk_' || CAST(i AS VARCHAR) AS chunk_id,
                substr(text, (i-1)*100+1, 100) AS content,
                CAST(i AS BIGINT) AS chunk_number,
                CAST(ceil(length(text)/100.0) AS BIGINT) AS total_chunks
         FROM (SELECT doc_id, text,
                      unnest(generate_series(1, CAST(ceil(length(text)/100.0) AS INT))) AS i
               FROM documents)
         ORDER BY doc_id, chunk_number""",

    "q57_metadata_filter" ->
      """SELECT event_id, event_type, user_id FROM events
         WHERE json_extract_string(props, '$.k') = '42'
         ORDER BY event_id""",

    // same md5-hex buckets (DuckDB casts '0x…' strings to BIGINT; Spark
    // conv(hex,16,10) — both unsigned on 8 hex digits).
    "q58_split_sample" ->
      """WITH d AS (
            SELECT lang,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|sample'), 1, 8) AS BIGINT) % 100 AS sb
            FROM documents)
          SELECT lang,
                 CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
                 count(*) AS n_docs,
                 CAST(sum(CASE WHEN sb < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
          FROM d GROUP BY 1, 2 ORDER BY lang, split""",

    // oracle chunks the ORIGINAL text — identical output proves the
    // DOCX generate→extract roundtrip is exact (same SQL as q21/q49).
    "q56_docx_roundtrip" ->
      """SELECT doc_id, 'chunk_' || CAST(i AS VARCHAR) AS chunk_id,
                substr(text, (i-1)*100+1, 100) AS content,
                CAST(i AS BIGINT) AS chunk_number,
                CAST(ceil(length(text)/100.0) AS BIGINT) AS total_chunks
         FROM (SELECT doc_id, text,
                      unnest(generate_series(1, CAST(ceil(length(text)/100.0) AS INT))) AS i
               FROM documents)
         ORDER BY doc_id, chunk_number""",

    // q84/q85: same contract as q56 — the oracle chunks the ORIGINAL
    // text; identical output proves the PPTX / XLSX generate→extract
    // roundtrips are exact.
    "q84_pptx_roundtrip" ->
      """SELECT doc_id, 'chunk_' || CAST(i AS VARCHAR) AS chunk_id,
                substr(text, (i-1)*100+1, 100) AS content,
                CAST(i AS BIGINT) AS chunk_number,
                CAST(ceil(length(text)/100.0) AS BIGINT) AS total_chunks
         FROM (SELECT doc_id, text,
                      unnest(generate_series(1, CAST(ceil(length(text)/100.0) AS INT))) AS i
               FROM documents)
         ORDER BY doc_id, chunk_number""",

    "q85_xlsx_roundtrip" ->
      """SELECT doc_id, 'chunk_' || CAST(i AS VARCHAR) AS chunk_id,
                substr(text, (i-1)*100+1, 100) AS content,
                CAST(i AS BIGINT) AS chunk_number,
                CAST(ceil(length(text)/100.0) AS BIGINT) AS total_chunks
         FROM (SELECT doc_id, text,
                      unnest(generate_series(1, CAST(ceil(length(text)/100.0) AS INT))) AS i
               FROM documents)
         ORDER BY doc_id, chunk_number""",

    // recomputes the dHash from the block-pattern generator formula in
    // pure SQL (gray(bx,by) = ((p*7+bx*13+by*31+bx*by*3)%29)*8+offset;
    // bit = right neighbour strictly brighter) — the Spark side's REAL
    // PNG encode→decode→box-average→compare must land on exactly this
    // algebraic value, and the brightness/resolution variation must
    // cancel to the same 16 perceptual clusters.
    "q86_image_dhash" ->
      """WITH cells AS (
           SELECT d.doc_id, yy.yy, xx.xx,
                  (((d.doc_id % 16) * 7 + xx.xx * 13 + yy.yy * 31
                    + xx.xx * yy.yy * 3) % 29) * 8 AS g,
                  (((d.doc_id % 16) * 7 + (xx.xx + 1) * 13 + yy.yy * 31
                    + (xx.xx + 1) * yy.yy * 3) % 29) * 8 AS gr
           FROM documents d,
                (SELECT unnest(generate_series(0, 7)) AS yy) yy,
                (SELECT unnest(generate_series(0, 6)) AS xx) xx),
         hashes AS (
           SELECT doc_id,
                  CAST(sum(CASE WHEN gr > g
                           THEN (CAST(1 AS BIGINT) << (yy * 7 + xx))
                           ELSE 0 END) AS BIGINT) AS dhash
           FROM cells GROUP BY doc_id),
         cl AS (
           SELECT doc_id, dhash,
                  count(*) OVER (PARTITION BY dhash) AS cluster_sz,
                  min(doc_id) OVER (PARTITION BY dhash) AS canonical_id
           FROM hashes)
         SELECT doc_id, dhash, CAST(cluster_sz AS BIGINT) AS cluster_sz,
                canonical_id,
                CAST(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END
                     AS BIGINT) AS is_canonical
         FROM cl ORDER BY doc_id""",

    // the same log2-bin + cumulative-count integer algebra as
    // Profile.lengthProfile (bin = bit length via bin(); quantile bin =
    // first with 100*cum >= p*n; bound = 1 << (bin-1)).
    "q87_length_profile" -> LengthProfileOracle,

    // q186: the same quantiles served from the incrementally-folded
    // stored histogram — oracle shared VERBATIM with q87 (incremental
    // maintenance must be indistinguishable from a full recompute).
    "q186_incremental_length_profile" -> LengthProfileOracle,

    // q188/q189: the deletion side of the mergeable laws — the oracle
    // is the ONE-SHOT sketch over the corpus that never contained
    // batch 2 (the engine's md5 bucket split, q58's convention); an
    // exact subtraction is indistinguishable from never having folded
    // the batch in.
    "q188_subtractive_length_profile" ->
      lengthProfileOracleSql(DocsMinusBatch2),
    "q189_subtractive_cms" -> cmsHeavyHittersOracleSql(DocsMinusBatch2),

    // the same md5-bit register construction and harmonic-sum integer
    // algebra as Profile.distinctSketch (register = first md5 byte,
    // rho = 33 - bitlen of the next 32 bits, estimate constants
    // spliced from the same Scala definitions).
    "q90_distinct_sketch" -> DistinctSketchOracle,

    // q185: the same report served from the incrementally-folded
    // stored register state — oracle shared VERBATIM with q90.
    "q185_incremental_sketch" -> DistinctSketchOracle,

    // q191: the doc-sharded register layout collapsed across shards —
    // the sharding must be invisible, so the oracle is q90's VERBATIM.
    "q191_sharded_register_collapse" -> DistinctSketchOracle,

    // q173: q90's register construction per DAY, per-bucket running
    // max as windowed delta events, one day window for the cumulative
    // harmonic sum — same constants, same empty-register baseline.
    "q173_cumulative_distinct_hll" ->
      s"""WITH ev AS (
            SELECT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS uid
            FROM events),
          h AS (
            SELECT day,
                   CAST('0x' || substr(md5(uid), 1, 2) AS BIGINT) AS bucket,
                   CAST('0x' || substr(md5(uid), 3, 8) AS BIGINT) AS v
            FROM ev),
          regs AS (
            SELECT day, bucket,
                   max(CASE WHEN v = 0 THEN 33
                            ELSE 33 - length(bin(v)) END) AS m_reg
            FROM h GROUP BY 1, 2),
          r2 AS (
            SELECT day, bucket,
                   max(m_reg) OVER (PARTITION BY bucket ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS run
            FROM regs),
          r3 AS (
            SELECT day, bucket, run,
                   lag(run) OVER (PARTITION BY bucket ORDER BY day) AS prev
            FROM r2),
          inc AS (
            SELECT day,
                   (${graft.text.Profile.HllEmptyTerm} >> CAST(run AS INT))
                   - CASE WHEN prev IS NULL
                          THEN ${graft.text.Profile.HllEmptyTerm}
                          ELSE (${graft.text.Profile.HllEmptyTerm}
                                >> CAST(prev AS INT)) END AS d_dn,
                   CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS d_used
            FROM r3 WHERE prev IS NULL OR run > prev),
          daily AS (SELECT day, sum(d_dn) AS d_dn, sum(d_used) AS d_used
                    FROM inc GROUP BY 1),
          nu AS (SELECT day, count(*) AS new_keys
                 FROM (SELECT uid, min(day) AS day FROM ev GROUP BY 1)
                 GROUP BY 1),
          base AS (
            SELECT d.day, coalesce(daily.d_dn, 0) AS d_dn,
                   coalesce(daily.d_used, 0) AS d_used,
                   coalesce(nu.new_keys, 0) AS new_keys
            FROM (SELECT DISTINCT day FROM ev) d
            LEFT JOIN daily USING (day) LEFT JOIN nu USING (day)),
          cum AS (
            SELECT day,
                   sum(d_used) OVER w AS cum_registers_used,
                   ${256L * graft.text.Profile.HllEmptyTerm}
                     + sum(d_dn) OVER w AS dn,
                   sum(new_keys) OVER w AS true_cum
            FROM base
            WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW))
          SELECT day, CAST(cum_registers_used AS BIGINT) AS cum_registers_used,
                 CAST(${graft.text.Profile.HllNum} // dn
                      // ${graft.text.Profile.HllDen} AS BIGINT)
                   AS est_cum_distinct,
                 CAST(true_cum AS BIGINT) AS true_cum_distinct
          FROM cum ORDER BY day""",

    // q180: the same day-register construction, day×bucket grid, the
    // calendar RANGE window max, harmonic sum with empty-term fill,
    // and the explode-forward exact trailing count.
    "q180_rolling_active_users" ->
      s"""WITH ev AS (
            SELECT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS uid
            FROM events),
          h AS (
            SELECT day,
                   CAST('0x' || substr(md5(uid), 1, 2) AS BIGINT) AS bucket,
                   CAST('0x' || substr(md5(uid), 3, 8) AS BIGINT) AS v
            FROM ev),
          regs AS (
            SELECT day, bucket,
                   max(CASE WHEN v = 0 THEN 33
                            ELSE 33 - length(bin(v)) END) AS m_reg
            FROM h GROUP BY 1, 2),
          days AS (SELECT DISTINCT day FROM ev),
          grid AS (
            SELECT d.day, b.bucket,
                   CAST(d.day - DATE '1970-01-01' AS BIGINT) AS dnum
            FROM days d CROSS JOIN
                 (SELECT unnest(generate_series(0, 255)) AS bucket) b),
          g2 AS (
            SELECT grid.day, grid.bucket, grid.dnum, regs.m_reg
            FROM grid LEFT JOIN regs
              ON regs.day = grid.day AND regs.bucket = grid.bucket),
          win AS (
            SELECT day, bucket,
                   max(m_reg) OVER (PARTITION BY bucket ORDER BY dnum
                                    RANGE BETWEEN 6 PRECEDING
                                              AND CURRENT ROW) AS mw
            FROM g2),
          agg AS (
            SELECT day,
                   sum(CASE WHEN mw IS NULL
                            THEN ${graft.text.Profile.HllEmptyTerm}
                            ELSE (${graft.text.Profile.HllEmptyTerm}
                                  >> CAST(mw AS INT)) END) AS dnsum,
                   sum(CASE WHEN mw IS NULL THEN 0 ELSE 1 END) AS used
            FROM win GROUP BY 1),
          tx AS (SELECT DISTINCT uid, day FROM ev),
          ex AS (SELECT DISTINCT uid, day + CAST(o AS INT) AS day
                 FROM tx, (SELECT unnest(generate_series(0, 6)) AS o) os),
          truth AS (
            SELECT e.day, count(*) AS true_w
            FROM ex e JOIN days USING (day) GROUP BY 1)
          SELECT agg.day, CAST(agg.used AS BIGINT) AS registers_used,
                 CAST(${graft.text.Profile.HllNum} // dnsum
                      // ${graft.text.Profile.HllDen} AS BIGINT)
                   AS est_window_distinct,
                 CAST(truth.true_w AS BIGINT) AS true_window_distinct
          FROM agg JOIN truth USING (day)
          ORDER BY day""",

    // q174: the same first-seen cohorting, offset in days, per-mille
    // truncating retention.
    "q174_retention_cohorts" ->
      """WITH ua AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS uid
            FROM events),
          cohort AS (SELECT uid, min(day) AS cohort_day FROM ua GROUP BY 1),
          sizes AS (SELECT cohort_day, count(*) AS cohort_users
                    FROM cohort GROUP BY 1),
          act AS (
            SELECT c.cohort_day,
                   CAST(ua.day - c.cohort_day AS BIGINT) AS day_offset,
                   count(*) AS active_users
            FROM ua JOIN cohort c USING (uid)
            GROUP BY 1, 2)
          SELECT act.cohort_day, act.day_offset,
                 CAST(act.active_users AS BIGINT) AS active_users,
                 CAST(s.cohort_users AS BIGINT) AS cohort_users,
                 CAST(1000 * act.active_users // s.cohort_users AS BIGINT)
                   AS retention_pm
          FROM act JOIN sizes s USING (cohort_day)
          ORDER BY cohort_day, day_offset""",

    // q170: q90's register construction per source, then pair algebra
    // — pairs from register co-occupancy, union registers by max,
    // the same harmonic-sum estimate on single and merged registers,
    // inclusion–exclusion intersection clamped at 0.
    "q170_sketch_overlap" ->
      s"""WITH toks AS (
            SELECT source,
                   unnest(list_filter(string_split_regex(lower(text), '\\W+'),
                                      t -> t <> '')) AS tok
            FROM documents),
          h AS (
            SELECT source,
                   CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) AS bucket,
                   CAST('0x' || substr(md5(tok), 3, 8) AS BIGINT) AS v
            FROM toks),
          regs AS (
            SELECT source, bucket,
                   max(CASE WHEN v = 0 THEN 33
                            ELSE 33 - length(bin(v)) END) AS m_reg
            FROM h GROUP BY 1, 2),
          single AS (
            SELECT source,
                   CAST(${graft.text.Profile.HllNum}
                        // (sum(${graft.text.Profile.HllEmptyTerm} >> CAST(m_reg AS INT))
                            + (256 - count(*)) * ${graft.text.Profile.HllEmptyTerm})
                        // ${graft.text.Profile.HllDen} AS BIGINT) AS est
            FROM regs GROUP BY source),
          pairs AS (
            SELECT DISTINCT a.source AS g_a, b.source AS g_b
            FROM regs a JOIN regs b USING (bucket)
            WHERE a.source < b.source),
          contrib AS (
            SELECT p.g_a, p.g_b, r.bucket, r.m_reg
            FROM pairs p JOIN regs r ON r.source = p.g_a
            UNION ALL
            SELECT p.g_a, p.g_b, r.bucket, r.m_reg
            FROM pairs p JOIN regs r ON r.source = p.g_b),
          merged AS (
            SELECT g_a, g_b, bucket, max(m_reg) AS m_reg
            FROM contrib GROUP BY 1, 2, 3),
          u AS (
            SELECT g_a, g_b,
                   CAST(${graft.text.Profile.HllNum}
                        // (sum(${graft.text.Profile.HllEmptyTerm} >> CAST(m_reg AS INT))
                            + (256 - count(*)) * ${graft.text.Profile.HllEmptyTerm})
                        // ${graft.text.Profile.HllDen} AS BIGINT) AS est_union
            FROM merged GROUP BY 1, 2)
          SELECT u.g_a, u.g_b, sa.est AS est_a, sb.est AS est_b, u.est_union,
                 CAST(greatest(0, sa.est + sb.est - u.est_union) AS BIGINT)
                   AS est_intersect,
                 CAST(CASE WHEN u.est_union > 0
                           THEN 1000 * greatest(0, sa.est + sb.est - u.est_union)
                                // u.est_union
                           ELSE 0 END AS BIGINT) AS jaccard_pm
          FROM u JOIN single sa ON sa.source = u.g_a
                 JOIN single sb ON sb.source = u.g_b
          ORDER BY g_a, g_b""",

    // q172: the same delete-variant construction (identity at pos 0,
    // single-character deletes at pos i) on both the vocabulary and
    // the derived probes, the same three distance-1 position rules,
    // and the (tf desc, term) top-3 ranking.
    "q172_spell_suggest" ->
      """WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                      t -> t <> '')) AS tok
            FROM documents),
          vocab AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
          probes AS (
            SELECT DISTINCT
                   substr(tok, 1, length(tok) // 2)
                   || substr(tok, length(tok) // 2 + 2) AS probe
            FROM (SELECT tok FROM vocab WHERE length(tok) >= 5
                  ORDER BY tf DESC, tok LIMIT 20)),
          tvar AS (
            SELECT tok AS term, 0 AS pos, tok AS v FROM vocab
            UNION ALL
            SELECT tok, i, substr(tok, 1, i - 1) || substr(tok, i + 1)
            FROM (SELECT tok, unnest(generate_series(1, length(tok))) AS i
                  FROM vocab)),
          pvar AS (
            SELECT probe, 0 AS pos, probe AS v FROM probes
            UNION ALL
            SELECT probe, i, substr(probe, 1, i - 1) || substr(probe, i + 1)
            FROM (SELECT probe, unnest(generate_series(1, length(probe))) AS i
                  FROM probes)),
          cand AS (
            SELECT DISTINCT p.probe, t.term
            FROM pvar p JOIN tvar t USING (v)
            WHERE p.probe <> t.term
              AND ((p.pos = 0 AND t.pos > 0) OR (p.pos > 0 AND t.pos = 0)
                   OR (p.pos > 0 AND t.pos = p.pos))),
          ranked AS (
            SELECT probe, term, tf,
                   row_number() OVER (PARTITION BY probe
                                      ORDER BY tf DESC, term) AS rnk
            FROM cand JOIN vocab ON vocab.tok = cand.term)
         SELECT probe, CAST(rnk AS BIGINT) AS rnk, term,
                CAST(tf AS BIGINT) AS tf
         FROM ranked WHERE rnk <= 3 ORDER BY probe, rnk""",

    // the same salt|id md5 permutation: shard = first 32 hash bits mod
    // 8, pos = rank within shard under (hash, id).
    "q91_training_order" ->
      """WITH h AS (
            SELECT doc_id, md5('ord|' || CAST(doc_id AS VARCHAR)) AS h
            FROM documents),
          s AS (
            SELECT doc_id, h,
                   CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8 AS shard
            FROM h)
          SELECT doc_id, shard,
                 CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                      AS BIGINT) AS pos
          FROM s ORDER BY doc_id""",

    // the same d=4 x w=1024 Count-Min construction: bucket(j, t) =
    // first 32 bits of md5('j|t') mod 1024, counters summed, estimate
    // = min over rows (0 for empty buckets via the left join).
    "q93_cms_heavy_hitters" -> CmsHeavyHittersOracle,

    // q187: the same report probed against the incrementally-folded
    // stored counter state — oracle shared VERBATIM with q93.
    "q187_incremental_cms" -> CmsHeavyHittersOracle,

    // the same (doc, token) count table and fixed-point log2
    // recurrence (recursive CTE over the DISTINCT count/total values,
    // joined back) — H_fp = sum c*(l2(n)-l2(c)) // n.
    "q92_token_entropy" ->
      s"""WITH RECURSIVE toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
            FROM documents),
          counts AS (
            SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
          perdoc AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
          -- DISTINCT over UNION ALL, not UNION: under WITH RECURSIVE
          -- DuckDB gives a two-branch UNION CTE recursive-union
          -- semantics and skips the cross-branch dedup — a value that
          -- is both a count and a total would then seed the log
          -- recurrence twice and double every joined row downstream.
          xs AS (
            SELECT DISTINCT k, x FROM (
              SELECT CAST(c AS BIGINT) AS k, CAST(c AS BIGINT) AS x FROM counts
              UNION ALL
              SELECT n, n FROM perdoc)),
          ${graft.functions.FixedPoint.oracleLog2Cte("xs", "k", "x", "l2")},
          hs AS (
            SELECT c.doc_id, count(*) AS distinct_tokens,
                   sum(c.c * (l2n.l2 - l2c.l2)) AS hsum
            FROM counts c
            JOIN perdoc p ON p.doc_id = c.doc_id
            JOIN __l2 l2c ON l2c.k = CAST(c.c AS BIGINT)
            JOIN __l2 l2n ON l2n.k = p.n
            GROUP BY c.doc_id)
          SELECT h.doc_id, p.n AS n_tokens,
                 CAST(h.distinct_tokens AS BIGINT) AS distinct_tokens,
                 CAST(h.hsum // p.n AS BIGINT) AS entropy_fp
          FROM hs h JOIN perdoc p ON p.doc_id = h.doc_id
          ORDER BY h.doc_id""",

    // recomputes the 16-window |sample| energies from the ramp
    // generator formula (sample i = (i*(61+97p)) % 20001 - 10000; gain
    // omitted — the comparisons must cancel it) and the 15 adjacent-
    // window comparison bits in pure SQL.
    "q88_audio_fingerprint" ->
      """WITH s AS (
           SELECT d.doc_id, ii.i // 20 AS j,
                  abs((ii.i * (61 + 97 * (d.doc_id % 12))) % 20001 - 10000) AS a
           FROM documents d,
                (SELECT unnest(generate_series(0, 319)) AS i) ii),
         w AS (SELECT doc_id, j, sum(a) AS w FROM s GROUP BY 1, 2),
         f AS (
           SELECT a.doc_id,
                  CAST(sum(CASE WHEN b.w > a.w
                           THEN (CAST(1 AS BIGINT) << CAST(a.j AS INT))
                           ELSE 0 END) AS BIGINT) AS fp
           FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.j = a.j + 1
           GROUP BY a.doc_id),
         cl AS (
           SELECT doc_id, fp,
                  count(*) OVER (PARTITION BY fp) AS cluster_sz,
                  min(doc_id) OVER (PARTITION BY fp) AS canonical_id
           FROM f)
         SELECT doc_id, fp, CAST(cluster_sz AS BIGINT) AS cluster_sz,
                canonical_id,
                CAST(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END
                     AS BIGINT) AS is_canonical
         FROM cl ORDER BY doc_id""",

    // the naive inequality-join formulation — intentionally a DIFFERENT
    // algorithm from the Spark bin-bucketed equi-join plan.
    "q55_range_join" ->
      """WITH w AS (
            SELECT CAST(n_nationkey AS BIGINT) AS nation,
                   CAST(n_nationkey * 10 + wk AS BIGINT) AS window_id,
                   (n_nationkey * 137 + wk * 311) % 2000 AS w_start,
                   (n_nationkey * 137 + wk * 311) % 2000 + 20 + (n_nationkey + wk * 3) % 40 AS w_end
            FROM nation, (SELECT unnest(generate_series(0, 3)) AS wk) ww),
          o AS (
            SELECT CAST(c_nationkey AS BIGINT) AS nation,
                   date_diff('day', DATE '1992-01-01', o_orderdate) AS day,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey)
          SELECT w.window_id, count(*) AS n_orders,
                 CAST(sum(o.cents) AS BIGINT) AS sum_cents
          FROM o JOIN w ON o.nation = w.nation
                       AND o.day BETWEEN w.w_start AND w.w_end
          GROUP BY w.window_id ORDER BY w.window_id""",

    "q54_knn_batch" ->
      """WITH iv AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
              FROM embeddings),
          q AS (SELECT vec_id AS query_id, v AS qv FROM iv WHERE vec_id < 5),
          scored AS (
            SELECT q.query_id, iv.vec_id,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * q.qv[i])) AS BIGINT) AS dot
            FROM iv CROSS JOIN q),
          r AS (SELECT query_id, vec_id, dot,
                       CAST(row_number() OVER (PARTITION BY query_id
                                               ORDER BY dot DESC, vec_id) AS BIGINT) AS rnk
                FROM scored)
          SELECT query_id, rnk, vec_id, dot FROM r WHERE rnk <= 3
          ORDER BY query_id, rnk""",

    // generation parameters recomputed in SQL; the Spark side must
    // recover them through a REAL PNG encode→decode→resample cycle.
    "q52_image_roundtrip" ->
      """SELECT doc_id,
                CAST(16 + doc_id % 64 AS BIGINT) AS width,
                CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS height,
                CAST(doc_id % 256 AS BIGINT) AS r,
                CAST((doc_id * 3) % 256 AS BIGINT) AS g,
                CAST((doc_id * 5) % 256 AS BIGINT) AS b,
                CAST(least(16 + doc_id % 64, 16) AS BIGINT) AS fit_w,
                CAST(least(16 + (doc_id * 7) % 48, 16) AS BIGINT) AS fit_h,
                CAST(doc_id % 256 AS BIGINT) AS fr,
                CAST((doc_id * 3) % 256 AS BIGINT) AS fg,
                CAST((doc_id * 5) % 256 AS BIGINT) AS fb
         FROM documents ORDER BY doc_id""",

    // |sample| sum of the ramp PCM: the real WAV decode must reproduce
    // the generator arithmetic bit-for-bit.
    "q53_wav_roundtrip" ->
      """SELECT doc_id,
                CAST(100 + doc_id % 400 AS BIGINT) AS frames,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS channels,
                CAST(list_sum(list_transform(
                  generate_series(0, CAST(100 + doc_id % 400 AS INT) - 1),
                  i -> abs((i * 37) % 20001 - 10000))) AS BIGINT) AS sum_abs
         FROM documents ORDER BY doc_id""",

    // naive LATERAL top-1 formulation — intentionally a DIFFERENT
    // algorithm from the Spark union+window plan (see q50 query note).
    "q50_asof_join" ->
      """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
              c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id, m.event_id AS asof_event_id,
                CAST(epoch_us(p.ts) - epoch_us(m.ts) AS BIGINT) AS gap_us
         FROM p LEFT JOIN LATERAL (
           SELECT c.event_id, c.ts FROM c
           WHERE c.user_id = p.user_id AND c.ts <= p.ts
           ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) m ON true
         ORDER BY p.event_id""",

    // per-label floor(sum/n) centroids, argmax dot with ties to the
    // HIGHEST cell (row_number ... ORDER BY sim DESC, cell DESC) —
    // mirrors Ann.ivfAssignInt's array_max over (sim, cell) structs.
    "q48_ivf_assign" ->
      """WITH iv AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          sums AS (
            SELECT label, i, CAST(sum(v[i]) AS BIGINT) AS s
            FROM iv, (SELECT unnest(generate_series(1, 64)) AS i) ii
            GROUP BY label, i),
          counts AS (SELECT label, count(*) AS n FROM iv GROUP BY label),
          cent AS (
            SELECT s.label AS cell,
                   list(CAST(floor(CAST(s.s AS DOUBLE) / c.n) AS BIGINT) ORDER BY s.i) AS cv
            FROM sums s JOIN counts c ON s.label = c.label
            GROUP BY s.label),
          scored AS (
            SELECT iv.vec_id, cent.cell,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * cent.cv[i])) AS BIGINT) AS sim
            FROM iv CROSS JOIN cent),
          best AS (
            SELECT vec_id, cell, sim,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
            FROM scored)
          SELECT vec_id, cell, sim AS cdot FROM best WHERE rn = 1 ORDER BY vec_id""",

    // same centroid + assignment CTEs as q48; cells ranked against the
    // vec_id=0 query (sim DESC, cell DESC — the ivfTopKInt convention),
    // top nprobe=2 probed, candidates exact-scored.
    "q51_ivf_probe" ->
      """WITH iv AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          sums AS (
            SELECT label, i, CAST(sum(v[i]) AS BIGINT) AS s
            FROM iv, (SELECT unnest(generate_series(1, 64)) AS i) ii
            GROUP BY label, i),
          counts AS (SELECT label, count(*) AS n FROM iv GROUP BY label),
          cent AS (
            SELECT s.label AS cell,
                   list(CAST(floor(CAST(s.s AS DOUBLE) / c.n) AS BIGINT) ORDER BY s.i) AS cv
            FROM sums s JOIN counts c ON s.label = c.label
            GROUP BY s.label),
          q AS (SELECT v AS qv FROM iv WHERE vec_id = 0),
          ranked AS (
            SELECT cent.cell,
                   row_number() OVER (ORDER BY
                     CAST(list_sum(list_transform(generate_series(1, 64),
                       i -> q.qv[i] * cent.cv[i])) AS BIGINT) DESC, cent.cell DESC) AS rk
            FROM cent, q),
          scored AS (
            SELECT iv.vec_id, cent.cell, iv.v,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                     i -> iv.v[i] * cent.cv[i])) AS BIGINT) AS sim
            FROM iv CROSS JOIN cent),
          assigned AS (
            SELECT vec_id, cell, v FROM (
              SELECT vec_id, cell, v,
                     row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
              FROM scored) WHERE rn = 1)
          SELECT a.vec_id, a.cell,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> a.v[i] * q.qv[i])) AS BIGINT) AS dot
          FROM assigned a, q
          WHERE a.cell IN (SELECT cell FROM ranked WHERE rk <= 2)
          ORDER BY dot DESC, a.vec_id LIMIT 10""",

    "q68_strip_boilerplate" ->
      """WITH ls AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM documents),
          lines AS (
            SELECT doc_id, i, a[i] AS line
            FROM (SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i FROM ls)),
          hot AS (
            SELECT line FROM lines WHERE line <> '' GROUP BY line
            HAVING count(DISTINCT doc_id) > 10),
          keptl AS (
            SELECT l.doc_id, l.i, l.line
            FROM lines l LEFT JOIN hot h ON l.line = h.line
            WHERE h.line IS NULL),
          rebuilt AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   array_to_string(list(line ORDER BY i), chr(10)) AS clean
            FROM keptl GROUP BY doc_id)
          SELECT d.doc_id,
                 CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
                 CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
                 md5(coalesce(r.clean, '')) AS clean_md5
          FROM documents d LEFT JOIN rebuilt r USING (doc_id)
          ORDER BY doc_id""",

    // same whitespace tokenizer as q26; sums over BIGINT are HUGEINT in
    // DuckDB → cast back; generate_series(1, len-1) is empty for 0/1
    // tokens, matching Spark's empty zip_with.
    "q69_repetition" ->
      """WITH ln AS (
            SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
          lc AS (SELECT doc_id, line, count(*) AS c FROM ln GROUP BY doc_id, line),
          lagg AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_lines,
                   CAST(sum(CASE WHEN c > 1 THEN c * len(line) ELSE 0 END) AS BIGINT)
                     AS chars_dup_lines
            FROM lc GROUP BY doc_id),
          tk AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
            FROM documents),
          bg AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i FROM tk)),
          bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram),
          bagg AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                   CAST(max(c) AS BIGINT) AS top_bigram_count
            FROM bc GROUP BY doc_id)
          SELECT d.doc_id,
                 coalesce(l.n_lines, 0) AS n_lines,
                 coalesce(l.n_dup_lines, 0) AS n_dup_lines,
                 coalesce(l.chars_dup_lines, 0) AS chars_dup_lines,
                 coalesce(b.n_bigrams, 0) AS n_bigrams,
                 coalesce(b.top_bigram_count, 0) AS top_bigram_count,
                 ((coalesce(l.n_lines, 0) = 0 OR
                   coalesce(l.n_dup_lines, 0) * 10 <= coalesce(l.n_lines, 0) * 3) AND
                  (coalesce(b.n_bigrams, 0) = 0 OR
                   coalesce(b.top_bigram_count, 0) * 10 <= coalesce(b.n_bigrams, 0) * 2))
                   AS rep_ok
          FROM documents d
          LEFT JOIN lagg l USING (doc_id)
          LEFT JOIN bagg b USING (doc_id)
          ORDER BY d.doc_id""",

    // q68's rebuild idiom with a global (doc_id, position) first-
    // occurrence window instead of a df cap.
    "q74_paragraph_dedup" ->
      """WITH ps AS (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS a FROM documents),
          paras AS (
            SELECT doc_id, i, a[i] AS para
            FROM (SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i FROM ps)),
          ranked AS (
            SELECT doc_id, i, para,
                   row_number() OVER (PARTITION BY md5(para)
                                      ORDER BY doc_id, i) AS rn
            FROM paras),
          rebuilt AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   array_to_string(list(para ORDER BY i), chr(10)||chr(10)) AS clean
            FROM ranked WHERE rn = 1 OR para = '' GROUP BY doc_id)
          SELECT d.doc_id,
                 CAST(len(string_split(d.text, chr(10)||chr(10))) AS BIGINT) AS n_paras,
                 CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
                 md5(coalesce(r.clean, '')) AS clean_md5
          FROM documents d LEFT JOIN rebuilt r USING (doc_id)
          ORDER BY doc_id""",

    // IEEE sqrt is correctly rounded in both engines; rates are exact
    // integer percent of the q58/q66 md5 buckets. DuckDB's `/` is
    // float division — `//` keeps the rate argument integral.
    "q75_temperature_sample" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
          m AS (SELECT max(n) AS nmax FROM c),
          r AS (SELECT lang, n AS n_stratum,
                       CAST(floor(sqrt(CAST((10000 * n) // nmax AS DOUBLE))) AS BIGINT) AS rate
                FROM c, m)
          SELECT d.doc_id, d.lang,
                 CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                   AS bucket,
                 r.n_stratum, r.rate
          FROM documents d JOIN r USING (lang)
          WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                  < r.rate
          ORDER BY d.doc_id""",

    "q70_source_cap" ->
      """SELECT doc_id, source, n_chars, rk FROM (
            SELECT doc_id, source, n_chars,
                   CAST(row_number() OVER (PARTITION BY source
                          ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
            FROM documents)
          WHERE rk <= 10 ORDER BY source, rk""",

    // same md5-bucket idiom as q58/q66.
    "q71_stratified_sample" ->
      """SELECT doc_id, lang, bucket FROM (
            SELECT doc_id, lang,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                     AS bucket
            FROM documents)
          WHERE bucket < CASE WHEN lang = 'en' THEN 50
                              WHEN lang = 'de' THEN 20 ELSE 10 END
          ORDER BY doc_id""",

    "q77_snapshot_diff" ->
      """WITH o AS (
            SELECT doc_id, md5(text) AS ofp FROM documents WHERE doc_id % 10 <> 9),
          n AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 7 = 3 THEN upper(text) ELSE text END) AS nfp
            FROM documents WHERE doc_id % 10 <> 0)
          SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                 CASE WHEN o.ofp IS NULL THEN 'added'
                      WHEN n.nfp IS NULL THEN 'removed'
                      WHEN o.ofp <> n.nfp THEN 'changed'
                      ELSE 'unchanged' END AS change
          FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
          ORDER BY doc_id""",

    // q48's floor-mean centroids restricted per 8-dim subspace; argmin
    // exact-integer L2 (ties: smallest codeword id = Spark's struct
    // array_min on (d2, cell)).
    "q78_pq_encode" ->
      s"""$PqEncodeCtes
          SELECT vec_id,
                 ${(0 until 8).map(s0 =>
                   s"max(CASE WHEN sub = $s0 THEN cell END) AS c$s0").mkString(", ")}
          FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""",

    // the encode CTEs plus the query's own per-subspace codeword
    // distances; ADC = sum of the table entries the row's codes select.
    "q79_pq_adc" ->
      s"""$PqEncodeCtes,
          q AS (SELECT v AS qv FROM iv WHERE vec_id = 0),
          dq AS (
            SELECT s.sub, cent.cell,
                   CAST(list_sum(list_transform(generate_series(s.sub*8+1, s.sub*8+8),
                     i -> (q.qv[i] - cent.cv[i]) * (q.qv[i] - cent.cv[i]))) AS BIGINT) AS d2
            FROM q CROSS JOIN cent CROSS JOIN subs s)
          SELECT b.vec_id, CAST(sum(dq.d2) AS BIGINT) AS adc
          FROM best b JOIN dq ON b.sub = dq.sub AND b.cell = dq.cell
          WHERE b.rn = 1
          GROUP BY b.vec_id
          ORDER BY adc ASC, vec_id LIMIT 10""",

    // q48's assignment + q51's nprobe cell ranking + q79's ADC, then
    // exact-L2 re-rank of the 30 best ADC candidates — mirrors
    // Ann.ivfPqTopK step for step (every cut totally ordered).
    "q80_ivfpq_search" ->
      s"""$PqEncodeCtes,
          asg AS (
            SELECT vec_id, cell FROM (
              SELECT iv.vec_id, cent.cell,
                     row_number() OVER (PARTITION BY iv.vec_id ORDER BY
                       CAST(list_sum(list_transform(generate_series(1, 64),
                         i -> iv.v[i] * cent.cv[i])) AS BIGINT) DESC, cent.cell DESC) AS arn
              FROM iv CROSS JOIN cent)
            WHERE arn = 1),
          q AS (SELECT v AS qv FROM iv WHERE vec_id = 0),
          ranked AS (
            SELECT cent.cell,
                   row_number() OVER (ORDER BY
                     CAST(list_sum(list_transform(generate_series(1, 64),
                       i -> q.qv[i] * cent.cv[i])) AS BIGINT) DESC, cent.cell DESC) AS rk
            FROM cent, q),
          probes AS (SELECT cell FROM ranked WHERE rk <= 2),
          dq AS (
            SELECT s.sub, cent.cell,
                   CAST(list_sum(list_transform(generate_series(s.sub*8+1, s.sub*8+8),
                     i -> (q.qv[i] - cent.cv[i]) * (q.qv[i] - cent.cv[i]))) AS BIGINT) AS d2
            FROM q CROSS JOIN cent CROSS JOIN subs s),
          adc AS (
            SELECT b.vec_id, CAST(sum(dq.d2) AS BIGINT) AS adc
            FROM best b
            JOIN dq ON b.sub = dq.sub AND b.cell = dq.cell
            JOIN asg a ON a.vec_id = b.vec_id
            JOIN probes p ON a.cell = p.cell
            WHERE b.rn = 1
            GROUP BY b.vec_id),
          cut AS (SELECT vec_id, adc FROM adc ORDER BY adc ASC, vec_id LIMIT 30)
          SELECT c.vec_id, a.cell, c.adc,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> (iv.v[i] - q.qv[i]) * (iv.v[i] - q.qv[i]))) AS BIGINT) AS d2
          FROM cut c
          JOIN iv ON iv.vec_id = c.vec_id
          JOIN asg a ON a.vec_id = c.vec_id, q
          ORDER BY d2 ASC, c.vec_id LIMIT 10""",

    // Exact rational BM25, same algebra as Search.bm25TopK: per-term
    // contribution 10^4·(2(N-df)+1)·22·tfc·T // ((2df+1)·(10·T·tfc+3·T+9·dl·N))
    // with tfc = min(tf, 2^20), q39's \W+ token model. DuckDB promotes
    // the products to HUGEINT; // is floor-div on positives = Spark's
    // `div`.
    "q81_bm25_rank" ->
      """WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\W+'),
                               t -> t <> '') AS toks
            FROM documents),
          base AS (
            SELECT doc_id, len(toks) AS dl,
                   len(list_filter(toks, t -> t = 'stream')) AS tf0,
                   len(list_filter(toks, t -> t = 'window')) AS tf1
            FROM toks),
          stats AS (
            SELECT sum(dl) AS T, count(*) AS N,
                   sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
            FROM base),
          clamped AS (
            SELECT doc_id, dl, least(tf0, 1048576) AS tf0,
                   least(tf1, 1048576) AS tf1
            FROM base),
          scored AS (
            SELECT b.doc_id, b.dl,
                   (10000 * (2*(N - df0) + 1) * 22 * tf0 * T)
                     // ((2*df0 + 1) * (10*T*tf0 + 3*T + 9*b.dl*N))
                 + (10000 * (2*(N - df1) + 1) * 22 * tf1 * T)
                     // ((2*df1 + 1) * (10*T*tf1 + 3*T + 9*b.dl*N)) AS score
            FROM clamped b, stats)
          SELECT doc_id, CAST(dl AS BIGINT) AS dl, CAST(score AS BIGINT) AS score
          FROM scored WHERE score > 0
          ORDER BY score DESC, doc_id LIMIT 10""",

    // q81's corpus stats + the SAME fixed-point log2 recurrence
    // FixedPoint.withLog2 runs (S=20 mantissa bits, F=12 fraction
    // bits, digit extraction by squaring) as a recursive CTE; idf =
    // l2(2N+2) - l2(2df+1), score = sum idf*floor(1e4*tfnorm).
    "q89_bm25_log_rank" -> Bm25LogOracle,

    // BM25 log-IDF served from the STORED postings index + norms
    // sidecar: the serving tier must be indistinguishable from the
    // inline scan, so it shares q89's oracle VERBATIM (the q141
    // convention).
    "q175_bm25_stored" -> Bm25LogOracle,

    // q76's positioned BPE tokens built into bigrams; train-split
    // counts; s = 10^6*(cbi+1) // (cuni+V), fluency = sum(s) // n_pairs
    // — same floor-per-pair algebra as TextStats.lmFluency.
    "q82_lm_fluency" ->
      """WITH base AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                     AS b,
                   regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS t
            FROM documents),
          sp AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
                     AS split, t
            FROM base),
          pairs AS (
            SELECT doc_id, split, t[i] AS w1, t[i+1] AS w2
            FROM (SELECT doc_id, split, t,
                         unnest(generate_series(1, len(t) - 1)) AS i
                  FROM sp WHERE len(t) >= 2)),
          cbi AS (
            SELECT w1, w2, count(*) AS cbi FROM pairs
            WHERE split = 'train' GROUP BY w1, w2),
          cuni AS (
            SELECT w1, count(*) AS cuni FROM pairs
            WHERE split = 'train' GROUP BY w1),
          voc AS (
            SELECT count(DISTINCT w1) AS V FROM pairs WHERE split = 'train'),
          scored AS (
            SELECT p.doc_id,
                   (1000000 * (coalesce(cbi.cbi, 0) + 1))
                     // (coalesce(cuni.cuni, 0) + voc.V) AS s
            FROM pairs p
            LEFT JOIN cbi ON p.w1 = cbi.w1 AND p.w2 = cbi.w2
            LEFT JOIN cuni ON p.w1 = cuni.w1, voc),
          agg AS (
            SELECT doc_id, count(*) AS n_pairs, sum(s) // count(*) AS fluency
            FROM scored GROUP BY doc_id)
          SELECT sp.doc_id, sp.split,
                 CAST(coalesce(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
                 CAST(coalesce(agg.fluency, 0) AS BIGINT) AS fluency
          FROM sp LEFT JOIN agg ON sp.doc_id = agg.doc_id
          ORDER BY sp.doc_id""",

    // q58's split + q26's BPE-ish lexer; ids ranked (count desc, term)
    // exactly as the Spark window; UNK = 0; md5 over comma-joined ids.
    "q76_tokenize_ids" ->
      """WITH base AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                     AS b,
                   regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS t
            FROM documents),
          sp AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
                     AS split, t
            FROM base),
          tok AS (
            SELECT doc_id, split, i AS pos, t[i] AS term
            FROM (SELECT doc_id, split, t, unnest(generate_series(1, len(t))) AS i FROM sp)),
          vc AS (
            SELECT term, count(*) AS c FROM tok WHERE split = 'train'
            GROUP BY term HAVING count(*) >= 2),
          vocab AS (
            SELECT term, CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT) AS tid
            FROM vc),
          ids AS (
            SELECT tok.doc_id, tok.pos, coalesce(vocab.tid, 0) AS tid
            FROM tok LEFT JOIN vocab USING (term)),
          agg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ids,
                   CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
                   md5(array_to_string(list(CAST(tid AS VARCHAR) ORDER BY pos), ','))
                     AS ids_md5
            FROM ids GROUP BY doc_id)
          SELECT s.doc_id, s.split,
                 coalesce(agg.n_ids, 0) AS n_ids,
                 coalesce(agg.n_unk, 0) AS n_unk,
                 coalesce(agg.ids_md5, md5('')) AS ids_md5
          FROM sp s LEFT JOIN agg USING (doc_id)
          ORDER BY s.doc_id""",

    // q58's md5 split + q26's tokenizer; vocabulary from the train
    // slice only (leakage-safe), HUGEINT sums cast back to BIGINT.
    "q72_oov_rate" ->
      """WITH base AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                     AS b,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
            FROM documents),
          sp AS (
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
                     AS split, t
            FROM base),
          tf AS (
            SELECT doc_id, split, term, count(*) AS tf
            FROM (SELECT doc_id, split, unnest(t) AS term FROM sp)
            GROUP BY doc_id, split, term),
          vocab AS (
            SELECT term FROM tf WHERE split = 'train'
            GROUP BY term HAVING sum(tf) >= 2),
          tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY doc_id),
          oov AS (
            SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_oov
            FROM tf LEFT JOIN vocab v ON tf.term = v.term
            WHERE v.term IS NULL GROUP BY tf.doc_id)
          SELECT s.doc_id, s.split,
                 coalesce(tot.n_tokens, 0) AS n_tokens,
                 coalesce(oov.n_oov, 0) AS n_oov,
                 (coalesce(tot.n_tokens, 0) = 0 OR
                  coalesce(oov.n_oov, 0) * 10 <= coalesce(tot.n_tokens, 0) * 3) AS oov_ok
          FROM sp s
          LEFT JOIN tot USING (doc_id)
          LEFT JOIN oov USING (doc_id)
          ORDER BY s.doc_id""",

    // patterns + replacement order generated from the SAME PiiPatterns
    // the Spark plan uses — the regex strings are identical by
    // construction. DuckDB regexp_replace needs the 'g' flag (Spark
    // replaces all matches by default).
    "q67_redact_pii" -> {
      val counts = TextStats.PiiPatterns.map { case (name, pat, _) =>
        s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
      }.mkString(",\n                ")
      val redacted = TextStats.PiiPatterns.foldLeft("text") {
        case (expr, (_, pat, repl)) => s"regexp_replace($expr, '$pat', '$repl', 'g')"
      }
      s"""SELECT doc_id, $counts, md5($redacted) AS redacted_md5
          FROM documents ORDER BY doc_id"""
    },

    // same md5 buckets as q58; BPE-ish token count as in q26.
    "q66_pack_sequences" ->
      """WITH d AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 32 AS bucket,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                     AS n_tokens
            FROM documents),
          c AS (
            SELECT doc_id, bucket, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                     AS cum_before
            FROM d)
          SELECT doc_id, bucket, n_tokens, cum_before,
                 CAST(bucket * 1048576 + cum_before // 512 AS BIGINT) AS seq_no
          FROM c ORDER BY doc_id""",

    // q165: q66's packing CTEs grouped per sequence, fill as per-mille
    // of the 512-token budget.
    "q165_packing_efficiency" ->
      """WITH d AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 32 AS bucket,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                     AS n_tokens
            FROM documents),
          c AS (
            SELECT doc_id, bucket, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                     AS cum_before
            FROM d),
          sq AS (
            SELECT doc_id, n_tokens,
                   CAST(bucket * 1048576 + cum_before // 512 AS BIGINT) AS seq_no
            FROM c)
          SELECT seq_no, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(sum(n_tokens) * 1000 // 512 AS BIGINT) AS fill_permille
          FROM sq GROUP BY 1 ORDER BY seq_no""",

    "q65_tfidf_topterms" ->
      """WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                      t -> t <> '')) AS term
            FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, d.df,
                   tf.tf * 1000000 // d.df AS score
            FROM tf JOIN dfreq d USING (term)),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term ASC) AS rnk
            FROM scored)
          SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term,
                 CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                 CAST(score AS BIGINT) AS score
          FROM ranked WHERE rnk <= 3
          ORDER BY doc_id, rnk""",

    "q63_feature_extract" ->
      """SELECT doc_id,
                CAST(bl AS BIGINT) AS f1,
                CAST(64 + bl % 1856 AS BIGINT) AS f2,
                CAST(64 + (bl * 7) % 1016 AS BIGINT) AS f3,
                CAST(1 + bl % 30 AS BIGINT) AS f4,
                CAST(bl % 256 AS BIGINT) AS f5,
                CAST(((64 + bl % 1856) * (64 + (bl * 7) % 1016)) % 9973 AS BIGINT) AS f6
         FROM (SELECT doc_id, octet_length(encode(text)) AS bl FROM documents)
         ORDER BY doc_id""",

    "q64_ann_lsh_multi" -> {
      val all = graft.search.Ann.planeSigns(nPlanes = 32, dims = 64)
      def bucketExpr(tbl: Int): String = (0 until 8).map { p =>
        val lst = all(tbl * 8 + p).mkString("[", ", ", "]")
        s"""(CASE WHEN list_sum(list_transform(generate_series(1, 64),
             i -> v[i] * ($lst)[i])) > 0 THEN ${1L << p} ELSE 0 END)"""
      }.mkString(" + ")
      val buckets = (0 until 4)
        .map(tbl => s"CAST(${bucketExpr(tbl)} AS BIGINT) AS bucket_$tbl").mkString(", ")
      val qsel = (0 until 4).map(tbl => s"bucket_$tbl AS qb_$tbl").mkString(", ")
      val probe = (0 until 4).map(tbl => s"b.bucket_$tbl = q.qb_$tbl").mkString(" OR ")
      s"""WITH iv AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          b AS (SELECT vec_id, v, $buckets FROM iv),
          q AS (SELECT v AS qv, $qsel FROM b WHERE vec_id = 0)
          SELECT vec_id,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> b.v[i] * q.qv[i])) AS BIGINT) AS dot
          FROM b, q
          WHERE $probe
          ORDER BY dot DESC, vec_id LIMIT 10"""
    },

    // sign-LSH: the ±1 hyperplane rows are plan-time constants shared
    // with Ann.lshBucket (Ann.planeSigns baked as SQL literals); bucket
    // = Σ 2^p over positive projections, probes = query bucket plus its
    // 8 Hamming-1 neighbors, exact integer dots, top-10.
    "q36_pipeline_search" -> {
      // the query embedding, quantized to the same 1e-3 integer grid as
      // the persisted chunk vectors, baked as literals (q37's
      // plan-time-constant treatment); ‖q‖² is inlined as an exact long.
      // The FROM is the vector intermediate q36's Spark run persists —
      // the driver verifies at sf0.01, which keys the path.
      // FRESHNESS CONTRACT: the oracle is only meaningful in the
      // driver's flow (Verify overwrites the intermediate immediately
      // before the DuckDB compare). Running the oracle standalone
      // against a stale /tmp file from an earlier corpus fails the
      // compare (or errors on absence) — it cannot false-pass, because
      // the Spark output being compared is written in the same Verify
      // run that rewrote the intermediate.
      val qv = q36QueryVec
      val lst = qv.mkString("[", ", ", "]")
      val nb = qv.map(x => x * x).sum
      s"""WITH v AS (
            SELECT chunk_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM read_parquet('${q36VectorsPath("sf0.01")}/*.parquet')
            WHERE embedding_provider = 'nomic'),
          q AS (SELECT list_transform($lst, x -> CAST(x AS DOUBLE)) AS qv),
          s AS (SELECT chunk_id,
                  CAST(list_sum(list_transform(generate_series(1, ${graft.embed.Embedding.Dims}),
                    i -> e[i] * qv[i])) AS DOUBLE) AS dot,
                  CAST(list_sum(list_transform(e, x -> x * x)) AS DOUBLE) AS na
                FROM v, q)
          SELECT chunk_id, dot / (sqrt(na) * sqrt(CAST($nb AS DOUBLE))) + 1.0 AS score
          FROM s ORDER BY score DESC, chunk_id LIMIT 5"""
    },

    "q37_ann_lsh" -> {
      val planes = graft.search.Ann.planeSigns(nPlanes = 8, dims = 64)
      val bucketExpr = planes.zipWithIndex.map { case (pl, p) =>
        val lst = pl.mkString("[", ", ", "]")
        s"""(CASE WHEN list_sum(list_transform(generate_series(1, 64),
             i -> v[i] * ($lst)[i])) > 0 THEN ${1L << p} ELSE 0 END)"""
      }.mkString(" + ")
      val probes = (0 until 8).map(p => s"b.bucket = xor(q.qb, ${1L << p})")
        .mkString(" OR ")
      s"""WITH iv AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v
            FROM embeddings),
          b AS (SELECT vec_id, v, CAST($bucketExpr AS BIGINT) AS bucket FROM iv),
          q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
          SELECT vec_id, bucket,
                 CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> b.v[i] * q.qv[i])) AS BIGINT) AS dot
          FROM b, q
          WHERE b.bucket = q.qb OR $probes
          ORDER BY dot DESC, vec_id LIMIT 10"""
    }
  )
}
