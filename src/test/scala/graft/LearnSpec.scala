package graft

import graft.learn.Learn

/** Exact decision-stump training (q125): the prefix-sum split finder. */
class LearnSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[(Long, Long, Long)], feats: Seq[String]) =
    Learn.trainStump(rows.toDF("a", "b", "y"), feats, "y")
      .orderBy("feat").as[(String, Long, Long, Long)]
      .collect().toSeq.map { case (f, t, d, e) => (f, t, d, e) }

  private def runS(rows: Seq[(Long, Long, Long)], feats: Seq[String]) =
    Learn.trainStump(rows.toDF("a", "b", "y"), feats, "y")
      .orderBy("feat").as[(String, Long, String, Long)].collect().toSeq

  test("a perfectly separable feature yields its boundary with err 0") {
    // y = +1 iff a >= 10; b is constant noise
    val rows = (1L to 20L).map(i => (i, 3L, if (i >= 10) 1L else -1L))
    val got = runS(rows, Seq("a", "b"))
    assert(got.head == ("a", 10L, "ge", 0L))
    // the noise feature's best rule can do no better than the minority
    // class (9 positives... 11 rows < 10): err = min class count
    assert(got(1)._1 == "b" && got(1)._4 == math.min(11L, 9L))
  }

  test("driver twin: brute-force over every (feature, threshold, direction)") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 300).map { _ =>
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(5).toLong
      // noisy signal on a, none on b
      val y = if (a + rnd.nextInt(10) >= 25) 1L else -1L
      (a, b, y)
    }
    def brute(f: (Long, Long, Long) => Long): (Long, String, Long) = {
      val vals = rows.map(r => (f(r._1, r._2, r._3), r._3))
      val cands = vals.map(_._1).distinct.sorted
      val all = for (t <- cands; d <- Seq("ge", "lt")) yield {
        val err = vals.count { case (v, y) =>
          val pred = if (d == "ge") { if (v >= t) 1L else -1L }
                     else { if (v < t) 1L else -1L }
          pred != y
        }.toLong
        (t, d, err)
      }
      all.minBy { case (t, d, e) => (e, t, d) }
    }
    val got = runS(rows, Seq("a", "b")).map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == brute((a, _, _) => a))
    assert(got("b") == brute((_, b, _) => b))
  }

  test("tie-break is deterministic: lowest threshold, then 'ge' before 'lt'") {
    // symmetric data: every split of 'a' has the same error
    val rows = Seq((1L, 0L, 1L), (1L, 0L, -1L), (2L, 0L, 1L), (2L, 0L, -1L))
    val got = runS(rows, Seq("a"))
    assert(got == Seq(("a", 1L, "ge", 2L)))
  }

  test("regression stump: recovers a planted mean shift with exact leaf means") {
    // y = 100 for a < 5, y = 900 for a >= 5: best cut at threshold 5
    val rows = (0L to 9L).flatMap(a =>
      Seq.fill(4)((a, a % 3, if (a < 5) 100L else 900L)))
    val got = Learn.trainRegressionStump(rows.toDF("a", "b", "y"),
                                         Seq("a", "b"), "y")
      .orderBy("feat")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val a = got.head
    assert(a._1 == "a" && a._2 == 5L)
    assert((a._4, a._5) == (20L, 20L))
    assert((a._6, a._7) == (100L * 1000000L, 900L * 1000000L))
    // the perfect split's gain strictly beats the noise feature's
    assert(a._3 > got(1)._3)
  }

  test("regression stump driver twin: fixed-point gain over every candidate") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 200).map { _ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(4).toLong, rnd.nextInt(1000).toLong)
    }
    def twin(f: (Long, Long) => Long): (Long, Long) = {
      val vs = rows.map(r => (f(r._1, r._2), r._3))
      val n = vs.size.toLong; val s = vs.map(_._2).sum
      val cands = vs.map(_._1).distinct.sorted
      cands.map { t =>
        val l = vs.filter(_._1 < t).map(_._2)
        val nL = l.size.toLong; val sL = l.sum
        val (nR, sR) = (n - nL, s - sL)
        def term(sv: Long, nv: Long) =
          if (nv == 0) BigInt(0) else BigInt(sv) * sv * 1000000L / nv
        (t, (term(sL, nL) + term(sR, nR)).toLong)
      }.maxBy { case (t, g) => (g, -t) }
    }
    val got = Learn.trainRegressionStump(rows.toDF("a", "b", "y"),
                                         Seq("a", "b"), "y")
      .orderBy("feat")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("a") == twin((a, _) => a))
    assert(got("b") == twin((_, b) => b))
  }

  test("regression stump: the min-value candidate is the no-split baseline") {
    val rows = Seq((7L, 0L, 10L), (7L, 0L, 20L), (7L, 0L, 30L))
    val got = Learn.trainRegressionStump(rows.toDF("a", "b", "y"),
                                         Seq("a"), "y")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().head
    // single value: only candidate is t=7 with n_left=0 — gain is the
    // baseline S^2*SCALE/n and the whole mass sits in the right leaf
    assert(got == (("a", 7L, 60L * 60L * 1000000L / 3L, 0L, 3L, 0L,
                    20L * 1000000L)))
  }

  test("boosting: two rounds fit a two-feature additive signal, SSE shrinks") {
    // y = 100 + 500*(a >= 5) + 30*(b >= 2): round 1 must cut a at 5,
    // round 2 must pick up the remaining b-structure in the residuals
    val rows = for (a <- 0L to 9L; b <- 0L to 3L; _ <- 1 to 3) yield
      (a, b, 100L + (if (a >= 5) 500L else 0L) + (if (b >= 2) 30L else 0L))
    val got = Learn.boostStumps(rows.toDF("a", "b", "y"), Seq("a", "b"), "y",
                                rounds = 2)
      .orderBy("round")
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) ==
           Seq((1L, "a", 5L), (2L, "b", 2L)))
    // SSE strictly decreases and ends at the truncation-level floor
    assert(got(1)._8 < got(0)._8)
    assert(got(1)._8 <= rows.size.toLong, s"residual SSE ${got(1)._8}")
  }

  test("boosting driver twin: exact integer replay of both rounds") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 150).map { _ =>
      (rnd.nextInt(8).toLong, rnd.nextInt(5).toLong, rnd.nextInt(400).toLong)
    }
    def bestStump(data: Seq[(Long, Long, Long)]): (String, Long) = {
      val cands = for (fi <- Seq(("a", (r: (Long, Long, Long)) => r._1),
                                 ("b", (r: (Long, Long, Long)) => r._2));
                       t <- data.map(fi._2).distinct.sorted) yield {
        val (l, r) = data.partition(x => fi._2(x) < t)
        def term(g: Seq[(Long, Long, Long)]) =
          if (g.isEmpty) BigInt(0)
          else { val s = BigInt(g.map(_._3).sum); s * s * 1000L / g.size }
        (fi._1, t, term(l) + term(r))
      }
      val best = cands.minBy { case (f, t, g) => (-g, f, t) }
      (best._1, best._2)
    }
    // twin: global truncated mean, then two rounds on residuals
    var data = rows
    val p0 = rows.map(_._3).sum / rows.size
    var resid = rows.map(r => (r._1, r._2, r._3 - p0))
    val twin = (1 to 2).map { _ =>
      val (f, t) = bestStump(resid)
      val sel: ((Long, Long, Long)) => Long = if (f == "a") _._1 else _._2
      val (l, r) = resid.partition(x => sel(x) < t)
      def mean(g: Seq[(Long, Long, Long)]) =
        if (g.isEmpty) 0L else g.map(_._3).sum / g.size
      val (mL, mR) = (mean(l), mean(r))
      resid = resid.map(x => (x._1, x._2, x._3 - (if (sel(x) < t) mL else mR)))
      val sse = resid.map(x => x._3 * x._3).sum
      (f, t, mL, mR, sse)
    }
    val got = Learn.boostStumps(rows.toDF("a", "b", "y"), Seq("a", "b"), "y",
                                rounds = 2)
      .orderBy("round")
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got.map(r => (r._2, r._3, r._6, r._7, r._8)) == twin)
  }

  test("null feature values are excluded, never a null threshold") {
    val rows = Seq((Some(1L), 10L, 1L), (None, 11L, -1L), (Some(2L), 12L, -1L),
                   (Some(2L), 13L, 1L))
      .toDF("a", "b", "y")
    val cls = Learn.trainStump(rows, Seq("a", "b"), "y")
      .orderBy("feat").as[(String, Long, String, Long)].collect().toSeq
    // feature a sees only the 3 non-null rows; b sees all 4
    assert(cls.forall(_._2 != null))
    assert(cls.head._1 == "a")
    val reg = Learn.trainRegressionStump(rows, Seq("a", "b"), "y")
      .orderBy("feat").as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(reg.head._1 == "a" && reg.head._4 + reg.head._5 == 3L)
  }

  test("boostFittedValues: fitted preds are p0 + leaf values, residual SSE exact") {
    // two clean cells: y=10 at a=0, y=30 at a=100; p0=20, round 1
    // splits at a<100 with leaves -10/+10, round 2 has zero residual —
    // fitted preds land exactly on the cell means, SSE 0
    val rows = Seq((0L, 10L), (0L, 10L), (100L, 30L), (100L, 30L))
      .toDF("a", "y")
    val got = Learn.boostFittedValues(rows, Seq("a"), "y", rounds = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 2L, 10L, 0L), (100L, 2L, 30L, 0L)), got.toString)
  }

  test("stored model ≡ inline: persist boostTrainModel, score under the read-back frame") {
    val rows = (1L to 200L)
      .map(i => (i % 5, i % 3, (i % 5) * 100 + (i % 3) * 10 + (i % 2)))
      .toDF("a", "b", "y")
    val inline = Learn.boostFittedValues(rows, Seq("a", "b"), "y", rounds = 2)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_boost_model")
    val path = s"$dir/model_boost.parquet"
    Learn.boostTrainModel(rows, Seq("a", "b"), "y", rounds = 2)
      .write.parquet(path)
    // a fresh read-back frame — the serving path never sees the trainer
    val stored = Learn.boostScoreCells(rows, Seq("a", "b"), "y",
                                       spark.read.parquet(path))
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(stored == inline,
      s"stored-model scoring must be bit-identical to inline:\n$stored\nvs\n$inline")
    // the artifact is self-contained: rounds rows, constant p0, trace cols
    val m = spark.read.parquet(path)
    assert(m.count() == 2L)
    assert(m.select("p0").distinct().count() == 1L)
    // an empty model fails loudly, never scores as a zero-model
    intercept[IllegalArgumentException] {
      Learn.boostScoreCells(rows, Seq("a", "b"), "y", m.limit(0))
    }
  }

  test("job guard: each regression entry point reads its input in one pass") {
    // one histogram aggregate, collected: its shuffle map stage and the
    // collect are the two jobs; no round, pin or cell score adds one
    val df = (1L to 120L).map(i => (i % 5, i % 3, (i * 37) % 101))
      .toDF("a", "b", "y")
    val feats = Seq("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft_boost_jobs")
    Learn.boostTrainModel(df, feats, "y").write.parquet(s"$dir/m")
    val stored = spark.read.parquet(s"$dir/m")
    val jobs = Seq[(String, Int, () => Any)](
      ("trainRegressionStump", 2, () => Learn.trainRegressionStump(df, feats, "y").collect()),
      ("boostStumps", 2, () => Learn.boostStumps(df, feats, "y").collect()),
      ("boostFittedValues", 2, () => Learn.boostFittedValues(df, feats, "y").collect()),
      ("boostTrainModel", 2, () => Learn.boostTrainModel(df, feats, "y").collect()),
      // plus one scan of the stored model
      ("boostScoreCells", 3, () => Learn.boostScoreCells(df, feats, "y", stored).collect())
    ).map { case (name, ceiling, run) =>
      (name, ceiling, SparkSpec.jobSites(spark)(run())._2.size)
    }
    assert(jobs.forall { case (_, ceiling, n) => n <= ceiling }, jobs)
  }

  test("boosting fails loudly where a residual square overflows a long, never wraps") {
    // one cell, y = ±3.5·10^9: p0 = 0, and each residual square
    // (1.2·10^19) is past Long.MaxValue
    val df = Seq((0L, 3500000000L), (0L, -3500000000L)).toDF("a", "y")
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    Seq[() => Any](() => Learn.boostStumps(df, Seq("a"), "y", rounds = 1).collect(),
                   () => Learn.boostFittedValues(df, Seq("a"), "y", rounds = 1).collect())
      .foreach { run =>
        val e = intercept[Exception](run())
        assert(chain(e).exists(_.isInstanceOf[ArithmeticException]), e)
      }
  }

  test("plan: one corpus pass, histogram-sized windows, no cartesian/UDF") {
    val df = (1L to 100L).map(i => (i % 13, i % 7, if (i % 2 == 0) 1L else -1L))
      .toDF("a", "b", "y")
    val plan = Learn.trainStump(df, Seq("a", "b"), "y")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("UDF("), plan)
    // the (feat, v) aggregate must partial-aggregate map-side before
    // its exchange: the corpus-sized shuffle would be the scale killer
    assert(plan.contains("HashAggregate"), plan)
  }
}
