package graft.learn

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Distributed model training primitives — the pieces of the
  * training-data pipeline that LEARN from the corpus rather than
  * score it. Everything here is exact integer algebra: training runs
  * are bit-reproducible across engines and partitionings, the same
  * contract as the rest of the library (no float summation order, no
  * RNG the oracle can't replay).
  */
object Learn {

  /** EXACT DECISION-STUMP TRAINING — the optimal (feature, threshold,
    * direction) split by training error, found by sorted prefix sums:
    * the distributed inner loop of decision-tree/GBDT training (the
    * "exact greedy" split finder), as a report over every candidate.
    *
    * For each feature the candidate thresholds are its OBSERVED
    * values; for threshold t the rule `x >= t → +1` misclassifies the
    * positives below t and the negatives at-or-above it, both of which
    * fall out of one cumulative sum over the per-(feature, value)
    * class counts — no per-candidate rescan, the classic prefix-sum
    * identity. The flipped rule `x < t → +1` comes from the same
    * cumulants. Output: ONE row per feature — its best (threshold,
    * direction, err) under the deterministic tie-break (err, then
    * threshold, then direction); the caller's best stump is the min-err
    * row. A feature with no signal reports its least-bad constant-ish
    * rule, which is itself the useful diagnostic (err ≈ minority-class
    * count = "this feature is noise").
    *
    * Scale posture: the corpus is touched ONCE — a map-side explode to
    * (feature, value, label) and a map-side-combined count aggregate;
    * everything after runs on the (feature, distinct-value) histogram,
    * which the caller bounds by quantizing continuous features
    * (`cents div 100`-style binning — exactly LightGBM's histogram
    * trick). One shuffle on (feat, v); the per-feature windows and the
    * final rank reuse the feat partitioning. Labels: +1 is positive,
    * anything else counts negative. Rows with a NULL feature value are
    * EXCLUDED from that feature's histogram (Spark windows sort nulls
    * first, SQL engines last — a null row would silently shift every
    * cumulant between engines, and a null threshold is a rule no
    * caller can apply). Counts in LongType — headroom to ~9·10^18 rows
    * per (feature, value) cell.
    */
  def trainStump(df: DataFrame, features: Seq[String],
                 labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(features.nonEmpty, "trainStump needs at least one feature")
    val pairs = features.flatMap(f => Seq(lit(f), col(f).cast("long")))
    val stacked = df.select(col(labelCol).cast("long").as("y"),
                            explode(map(pairs: _*)).as(Seq("feat", "v")))
      .filter(col("v").isNotNull)
    val grouped = stacked.groupBy(col("feat"), col("v"))
      .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
           sum(when(col("y") === 1, 0L).otherwise(1L)).as("nn"))
    val byV = Window.partitionBy(col("feat")).orderBy(col("v"))
    val whole = Window.partitionBy(col("feat"))
    val cum = grouped
      .withColumn("cpLe", sum(col("np")).over(byV))
      .withColumn("cnLe", sum(col("nn")).over(byV))
      .withColumn("tp", sum(col("np")).over(whole))
      .withColumn("tn", sum(col("nn")).over(whole))
    // err(x>=t → +1) = pos below t + neg at-or-above t;
    // err(x< t → +1) = pos at-or-above t + neg below t
    val scored = cum.select(col("feat"), col("v").as("threshold"),
      explode(map(
        lit("ge"),
        (col("cpLe") - col("np")) + (col("tn") - col("cnLe") + col("nn")),
        lit("lt"),
        (col("tp") - col("cpLe") + col("np")) + (col("cnLe") - col("nn"))
      )).as(Seq("direction", "err")))
    val rank = Window.partitionBy(col("feat"))
      .orderBy(col("err"), col("threshold"), col("direction"))
    scored.withColumn("__rn", row_number().over(rank))
      .filter(col("__rn") === 1)
      .select(col("feat"), col("threshold"), col("direction"), col("err"))
  }

  /** EXACT REGRESSION-STUMP TRAINING — the variance-reduction split,
    * the regression-tree/GBDT counterpart of [[trainStump]]: for each
    * feature, the threshold t splitting rows into L = {x < t} and
    * R = {x ≥ t} that minimizes SSE_L + SSE_R. Since the total Σy² is
    * split-invariant, minimizing SSE is maximizing the GAIN
    * G(t) = S_L²/n_L + S_R²/n_R, and both S and n at every candidate
    * fall out of ONE strict-prefix cumulative sum over the per-(feature,
    * value) (count, Σy) histogram — the same no-rescan identity as the
    * classification stump.
    *
    * G is rational; it is compared in FIXED-POINT: gain_fp =
    * (S_L²·SCALE) div n_L + (S_R²·SCALE) div n_R — deterministic
    * truncating algebra the oracle shares, so the argmax (tie-break:
    * gain desc, then threshold asc) is bit-reproducible. Candidates
    * within the same SCALE quantum tie to the lower threshold — a
    * defined answer, not a float race. The t = min(v) candidate has
    * n_L = 0 and degrades to the no-split baseline S²·SCALE div n (its
    * term is defined 0 at n=0), so "don't split" competes on equal
    * footing. Output per feature: the best threshold, its gain, and the
    * fitted leaf values (scaled truncated means).
    *
    * Scale posture: ONE corpus pass — a map-side-combined (count, Σy)
    * aggregate per (feature, value), collected; the split search runs
    * on the driver ([[bestSplit]], shared with boosting). The histogram
    * must be driver-sized: the caller quantizes continuous features
    * (`cents div 100`-style binning — LightGBM's histogram trick). Rows
    * with a NULL feature value or NULL target are EXCLUDED from that
    * feature's histogram (a null threshold is a rule no caller can
    * apply).
    *
    * Headroom: each gain term (S²·scale) div n ≤ n·y_max²·scale must
    * fit a long, or the call fails loudly, never wraps. At the default
    * scale=10^6 that is ~10^6 rows of ¦y¦ ≤ 3·10^3; larger corpora
    * LOWER `scale` (scale=1 reaches ~10^10 rows of 10^4-magnitude
    * targets).
    */
  def trainRegressionStump(df: DataFrame, features: Seq[String],
                           targetCol: String,
                           scale: Long = 1000000L): DataFrame = {
    require(features.nonEmpty, "trainRegressionStump needs at least one feature")
    val sp = df.sparkSession
    import sp.implicits._
    val pairs = features.flatMap(f => Seq(lit(f), col(f).cast("long")))
    val hist = df.select(col(targetCol).cast("long").as("y"),
                         explode(map(pairs: _*)).as(Seq("feat", "v")))
      .filter(col("v").isNotNull && col("y").isNotNull)
      .groupBy(col("feat"), col("v"))
      .agg(count(lit(1)), sum(col("y")))
      .collect().toSeq
      .groupBy(_.getString(0))
    features.flatMap(f => hist.get(f).map(rows =>
        bestSplit(f, rows.map(r => Bin(r.getLong(1), r.getLong(2), r.getLong(3))),
                  scale)))
      .map(s => (s.feat, s.threshold, s.gain, s.nL, s.nR, s.meanLFp, s.meanRFp))
      .toDF("feat", "threshold", "gain_fp", "n_left", "n_right",
            "mean_left_fp", "mean_right_fp")
  }

  /** One feature value's row count and target (or residual) sum. */
  private final case class Bin(v: Long, n: Long, s: BigInt)

  /** A split at `threshold`: gain, and each side's count, sum, scaled mean. */
  private final case class Split(feat: String, threshold: Long, gain: Long,
                                 nL: Long, nR: Long, sL: Long, sR: Long,
                                 meanLFp: Long, meanRFp: Long)

  /** THE REGRESSION-STUMP ALGEBRA, the one copy: one feature's best
    * split, by [[trainRegressionStump]]'s gain over strict-prefix
    * cumulants. Every sum, cumulant, gain term and scaled mean of EVERY
    * candidate must fit a long, as in the SQL form, which evaluates
    * every candidate; otherwise the call fails loudly.
    */
  private def bestSplit(feat: String, bins: Seq[Bin], scale: Long): Split = {
    val sorted = bins.sortBy(_.v)
    sorted.foreach(b => exact(b.s))
    val nCum = sorted.scanLeft(0L)(_ + _.n)
    val sCum = sorted.scanLeft(BigInt(0))(_ + _.s).map(exact)
    val (n, s) = (nCum.last, sCum.last)
    def term(sv: Long, nv: Long) =
      if (nv == 0) 0L else exact(BigInt(sv) * sv * scale / nv)
    def meanFp(sv: Long, nv: Long) =
      if (nv == 0) 0L else exact(BigInt(sv) * scale / nv)
    sorted.indices.map { i =>
      val (nL, sL) = (nCum(i), sCum(i))
      val (nR, sR) = (n - nL, exact(BigInt(s) - sL))
      Split(feat, sorted(i).v, Math.addExact(term(sL, nL), term(sR, nR)),
            nL, nR, sL, sR, meanFp(sL, nL), meanFp(sR, nR))
    }.reduce((a, b) => if (b.gain > a.gain) b else a)
  }

  /** `v` as a long, or an ArithmeticException — never a wrapped value. */
  private def exact(v: BigInt): Long =
    if (v.isValidLong) v.toLong
    else throw new ArithmeticException(s"long overflow: $v")

  /** One distinct feature tuple: row count, Σy, Σy² — all a boosted
    * model's fit, trace and scores need, as its prediction depends only
    * on the tuple.
    */
  private final case class Cell(x: IndexedSeq[Long], n: Long, sy: BigInt,
                                syy: BigInt) {
    /** Σ(y − p)² over the cell's rows, exactly. */
    def sse(p: Long): BigInt = syy - sy * p * 2 + BigInt(n) * p * p
  }

  /** THE FEATURE-CELL HISTOGRAM — the corpus's one pass for every
    * boosting entry point: the same null filter and long casts as
    * scoring rows, one `groupBy(features)` with count, Σy and Σy² in
    * decimal(38,0), collected (no pin; under AQE its shuffle map stage
    * and the collect are two jobs). Sorted by feature tuple, so every
    * later step is deterministic. Driver-sized by contract: see
    * [[boostStumps]].
    */
  private def cellHistogram(df: DataFrame, features: Seq[String],
                            targetCol: String): IndexedSeq[Cell] = {
    require(features.nonEmpty, "boosting needs at least one feature")
    val y = col("__y").cast(DecimalType(38, 0))
    val k = features.size
    df.select(features.map(f => col(f).cast("long").as(f)) :+
                col(targetCol).cast("long").as("__y"): _*)
      .filter(features.map(f => col(f).isNotNull).reduce(_ && _) &&
              col("__y").isNotNull)
      .groupBy(features.map(col): _*)
      .agg(count(lit(1)), sum(y), sum(y * y))
      .collect().toIndexedSeq
      .map(r => Cell((0 until k).map(r.getLong), r.getLong(k),
                     BigInt(r.getDecimal(k + 1).toBigIntegerExact),
                     BigInt(r.getDecimal(k + 2).toBigIntegerExact)))
      .sortBy(_.x)(Ordering.Implicits.seqOrdering[IndexedSeq, Long])
  }

  /** One round's stump: rows with `feat < threshold` add `meanLeft`. */
  private final case class Stump(feat: String, threshold: Long,
                                 meanLeft: Long, meanRight: Long)

  /** A cell's prediction, p0 + Σ leaf values in round order; an
    * overflow fails loudly, as a per-row long add would.
    */
  private def predict(features: Seq[String], c: Cell, p0: Long,
                      model: Seq[Stump]): Long =
    model.foldLeft(p0) { (p, m) =>
      val i = features.indexOf(m.feat)
      require(i >= 0, s"model feature ${m.feat} is not among $features")
      Math.addExact(p, if (c.x(i) < m.threshold) m.meanLeft else m.meanRight)
    }

  /** GRADIENT BOOSTING over regression stumps — the L2 boosting loop
    * itself, exact: start from the truncated global mean, then each
    * round (a) finds the best stump on the CURRENT RESIDUALS
    * ([[bestSplit]], the algebra [[trainRegressionStump]] runs), (b)
    * picks the globally best one under the deterministic tie-break
    * (gain desc, feature, threshold), (c) fits its two leaf values as
    * truncated residual means, and (d) updates every prediction —
    * exactly XGBoost/LightGBM's outer loop with shrinkage 1 and depth
    * 1, in integer algebra the oracle replays: all residuals stay
    * integers (truncated means), so every round is bit-reproducible.
    * Output: one row per round — the chosen split, fitted leaves, and
    * the post-round training SSE (the monitoring trace; SSE is
    * non-increasing up to mean truncation).
    *
    * Scale posture: ONE corpus pass, into the feature-cell histogram
    * (n, Σy, Σy² per distinct feature tuple); every round runs on the
    * driver over those cells. The prediction p is constant on a cell,
    * so a round's residual sums are Σy − n·p and its square sums
    * Σy² − 2pΣy + n·p², exact in BigInt; a sum, square sum or SSE past
    * the long range fails loudly, never wraps. The joint cell table
    * must be driver-sized — the bound the per-cell output of
    * [[boostFittedValues]] obeys: the event features have 7×24 cells,
    * the CLI's are bounded by its chunking config. `gainScale` is the stump
    * algebra's resolution↔headroom knob — residual sums grow with the
    * target range, so the default here is 10^3.
    */
  def boostStumps(df: DataFrame, features: Seq[String], targetCol: String,
                  rounds: Int = 2, gainScale: Long = 1000L): DataFrame =
    boostTrainModel(df, features, targetCol, rounds, gainScale).drop("p0")

  /** The training core behind every boosting entry point: p0 and per
    * round (stump, n_left, n_right, sse_after), on the driver.
    */
  private def boostCore(cells: IndexedSeq[Cell], features: Seq[String],
                        rounds: Int, gainScale: Long)
      : (Long, Seq[(Stump, Long, Long, Long)]) = {
    require(rounds >= 1)
    require(cells.nonEmpty, "boostStumps needs at least one row")
    val p0 = exact(cells.map(_.sy).sum) / cells.map(_.n).sum // truncating
    def mean(s: Long, n: Long) = if (n == 0) 0L else s / n // truncating
    val trace = scala.collection.mutable.ArrayBuffer
      .empty[(Stump, Long, Long, Long)]
    for (_ <- 1 to rounds) {
      val model = trace.map(_._1).toSeq
      val preds = cells.map(predict(features, _, p0, model))
      val resid = cells.indices.map(j => cells(j).sy - BigInt(cells(j).n) * preds(j))
      val split = features.indices.map { i =>
        bestSplit(features(i), cells.indices.groupBy(cells(_).x(i)).toSeq
          .map { case (v, js) => Bin(v, js.map(cells(_).n).sum, js.map(resid).sum) },
          gainScale)
      }.minBy(s => (-s.gain, UTF8String.fromString(s.feat), s.threshold))
      // each side's residual square sum must fit a long (so must every
      // single residual square in it), as must the SSE after the round
      val fi = features.indexOf(split.feat)
      val (left, right) = cells.indices.partition(cells(_).x(fi) < split.threshold)
      Seq(left, right).foreach(js => exact(js.map(j => cells(j).sse(preds(j))).sum))
      // leaf values are truncated residual means, never the scaled
      // means bestSplit reports
      val stump = Stump(split.feat, split.threshold,
                        mean(split.sL, split.nL), mean(split.sR, split.nR))
      val sse = exact(cells.map(c => c.sse(predict(features, c, p0, model :+ stump))).sum)
      trace += ((stump, split.nL, split.nR, sse))
    }
    (p0, trace.toSeq)
  }

  /** BOOSTED-MODEL FITTED VALUES — the inference half that closes the
    * train→score loop [[boostStumps]] opens: train the additive stump
    * model, then report per feature-cell the fitted prediction
    * (p0 + Σ per-round leaf value) and the exact residual SSE. The
    * prediction depends only on the features, so the per-cell grouping
    * loses nothing and gives the output a stable key. Training and
    * scoring share ONE histogram pass; the output is driver rows, as
    * many as the cells [[boostStumps]] bounds.
    */
  def boostFittedValues(df: DataFrame, features: Seq[String],
                        targetCol: String, rounds: Int = 2,
                        gainScale: Long = 1000L): DataFrame = {
    val cells = cellHistogram(df, features, targetCol)
    val (p0, trace) = boostCore(cells, features, rounds, gainScale)
    scoreCells(df.sparkSession, features, cells, p0, trace.map(_._1))
  }

  /** THE TRAINED MODEL AS DATA — [[boostStumps]]'s trace plus the base
    * prediction `p0` on every row, self-contained for persistence: at
    * 100 TB training is the expensive corpus pass you run ONCE, scoring
    * the pass you run per batch, so the artifact must carry everything
    * inference needs (the tokenizer.parquet convention). Rounds-sized —
    * a driver list by construction.
    */
  def boostTrainModel(df: DataFrame, features: Seq[String],
                      targetCol: String, rounds: Int = 2,
                      gainScale: Long = 1000L): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    val (p0, trace) = boostCore(cellHistogram(df, features, targetCol),
                                features, rounds, gainScale)
    trace.zipWithIndex.map { case ((m, nL, nR, sse), i) =>
        (i + 1L, m.feat, m.threshold, nL, nR, m.meanLeft, m.meanRight, sse)
      }
      .toDF("round", "feat", "threshold", "n_left", "n_right",
            "mean_left", "mean_right", "sse_after")
      .withColumn("p0", lit(p0))
  }

  /** Score under a STORED model — the serving half of the
    * train→persist→serve loop: `model` is a persisted
    * [[boostTrainModel]] frame (rounds-sized; collecting it is the
    * allowed k-row pattern), applied to the feature-cell histogram:
    * one model scan, one histogram pass. A correct stored model is
    * indistinguishable from inline training: output ≡
    * [[boostFittedValues]] bit-for-bit.
    */
  def boostScoreCells(df: DataFrame, features: Seq[String],
                      targetCol: String, model: DataFrame): DataFrame = {
    val rows = model.select(col("round"), col("feat"), col("threshold"),
                            col("mean_left"), col("mean_right"), col("p0"))
      .collect().toSeq.sortBy(_.getLong(0))
    require(rows.nonEmpty, "boost model is empty")
    scoreCells(df.sparkSession, features,
               cellHistogram(df, features, targetCol), rows.head.getLong(5),
               rows.map(r =>
                 Stump(r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
  }

  /** The one cell scorer: per cell (features…, n_rows, pred, sse) under
    * the model (p0, stumps), as driver rows.
    */
  private def scoreCells(spark: SparkSession, features: Seq[String],
                         cells: Seq[Cell], p0: Long,
                         model: Seq[Stump]): DataFrame = {
    val rows = cells.map { c =>
      val p = predict(features, c, p0, model)
      Row.fromSeq(c.x ++ Seq(c.n, p, exact(c.sse(p))))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
      (features ++ Seq("n_rows", "pred", "sse"))
        .map(StructField(_, LongType, nullable = false))))
  }
}
