package graft

import org.apache.spark.sql.functions._

import graft.search.Ann

/** ANN QUALITY gate: the approximate indexes (sign-LSH q37, IVF q51)
  * are hash-checked for what they compute, but nothing before this
  * spec measured whether what they compute is any good.
  *
  * What is assertable here is bounded by the corpus: the synthetic
  * embeddings are near-iid (a measured sweep shows recall scaling
  * ~linearly with scanned fraction — IVF nprobe 2→6 gives recall
  * 0.41→0.86 while scanning 20%→60%), i.e. there is almost no angular
  * cluster structure for a sublinear index to exploit. That is a data
  * property (curse of dimensionality on random vectors), not an index
  * property — on real embedding manifolds the same plans concentrate
  * much harder. So the gate pins the three things that ARE invariant:
  *
  *  1. ENRICHMENT — the gated configs must beat random scanning of the
  *     same budget by a wide margin (recall ≥ 3× / 1.5× the actually
  *     scanned fraction for LSH / IVF);
  *  2. MONOTONICITY — recall must be non-decreasing in nprobe (the
  *     scan/recall knob works);
  *  3. REACHABILITY — an 0.8 recall@10 floor is met by a documented
  *     config (nprobe=6 on this corpus), so a recall-floored serving
  *     contract is satisfiable and its cost is known.
  *
  * All arithmetic is deterministic (fixed planes, label centroids,
  * integer dots), so the measured values are stable run to run.
  */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private val K = 10
  private val NQueries = 10

  private lazy val emb = graft.io.Tables.load(spark, Sf01, "embeddings").cache()
  private lazy val nRows = emb.count().toDouble

  private lazy val queryVecs: Seq[(Long, Seq[Float])] =
    emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

  private lazy val exact: Map[Long, Set[Long]] = queryVecs.map { case (qid, qv) =>
    qid -> Ann.intDotTopK(emb, "vec_id", "embedding", qv, k = K)
      .select(col("vec_id")).as[Long].collect().toSet
  }.toMap

  private def avgRecall(got: Seq[(Long, Set[Long])]): Double = {
    val per = got.map { case (qid, g) => g.intersect(exact(qid)).size.toDouble / K }
    per.sum / per.size
  }

  test("sign-LSH (q37 config): recall@10 enriches >= 3x over the scanned fraction") {
    val bucketed = Ann.lshBuckets(emb, "embedding", nPlanes = 8).cache()
    val signs = Ann.planeSigns(8, 64) // plan-time constant; hoisted once
    try {
      var scanned = 0.0
      val got = queryVecs.map { case (qid, qv) =>
        val qIv = qv.map(Ann.quantizeL)
        val qBucket = (0 until 8).map { p =>
          val proj = qIv.zipWithIndex.map { case (x, d) => x * signs(p)(d) }.sum
          if (proj > 0) 1L << p else 0L
        }.sum
        val probes = qBucket +: (0 until 8).map(p => qBucket ^ (1L << p))
        scanned += bucketed.filter(col("bucket").isInCollection(probes)).count() / nRows
        (qid, Ann.lshTopK(bucketed, "vec_id", "embedding", qv, k = K, nPlanes = 8)
          .select(col("vec_id")).as[Long].collect().toSet)
      }
      val scanFrac = scanned / queryVecs.size
      val recall = avgRecall(got)
      info(f"LSH recall@$K=$recall%.2f scanned=$scanFrac%.3f enrichment=${recall / scanFrac}%.1fx")
      assert(scanFrac < 0.15, f"multiprobe LSH should scan a small slice, scanned $scanFrac%.3f")
      assert(recall >= 3 * scanFrac,
             f"LSH recall $recall%.2f under 3x the scanned fraction $scanFrac%.3f — no enrichment")
      assert(recall >= 0.1, f"LSH recall $recall%.2f collapsed")
    } finally bucketed.unpersist()
  }

  test("IVF: enrichment at nprobe=2 (q51 config), monotone in nprobe, 0.8 floor reachable") {
    val cents = graft.queries.Pipeline.labelCentroids(emb)
    val assigned = Ann.ivfAssignInt(emb, "embedding", cents).cache()
    try {
      val cellSizes = assigned.groupBy(col("cell")).count()
        .as[(Long, Long)].collect().toMap
      def run(np: Int): (Double, Double) = {
        var scanned = 0.0
        val got = queryVecs.map { case (qid, qv) =>
          val qIv = qv.map(Ann.quantizeL)
          val probeCells = cents.map { case (id, c) =>
            (id, qIv.zip(c).map { case (a, b) => a * b }.sum)
          }.sortBy { case (id, sim) => (-sim, -id) }.take(np).map(_._1)
          scanned += probeCells.map(cellSizes.getOrElse(_, 0L)).sum / nRows
          (qid, Ann.ivfTopKInt(assigned, "vec_id", "embedding", cents, qIv,
                               k = K, nprobe = np)
            .select(col("vec_id")).as[Long].collect().toSet)
        }
        (avgRecall(got), scanned / queryVecs.size)
      }
      val curve = Seq(2, 4, 6).map(np => np -> run(np))
      curve.foreach { case (np, (r, s)) =>
        info(f"IVF nprobe=$np recall@$K=$r%.2f scanned=$s%.2f")
      }
      val (r2, s2) = curve.head._2
      assert(r2 >= 1.5 * s2,
             f"IVF nprobe=2 recall $r2%.2f under 1.5x scanned fraction $s2%.2f — no enrichment")
      val recalls = curve.map(_._2._1)
      assert(recalls == recalls.sorted,
             s"recall must be non-decreasing in nprobe, got $recalls")
      val (r6, s6) = curve.last._2
      assert(r6 >= 0.8,
             f"recall floor 0.8 not reachable: nprobe=6 gives $r6%.2f (scanned $s6%.2f)")
    } finally assigned.unpersist()
  }

  /** IVF-PQ (q80 config): the composed path stacks two approximations —
    * IVF cell pruning (measured above) and the ADC cut. The re-rank is
    * exact, so the cut is the ONLY new error source; this test isolates
    * it by comparing against exact integer-L2 top-k RESTRICTED to the
    * probed cells (conditional recall):
    *  1. the ADC cut must be worth something at rerankFactor=3;
    *  2. conditional recall must be non-decreasing in rerankFactor
    *     (the ADC budget knob works);
    *  3. a budget covering every scanned row must give conditional
    *     recall exactly 1.0 — the ADC cut keeps all candidates and the
    *     exact re-rank IS the within-cells exact answer. Any miss here
    *     is a correctness bug, not an approximation artifact.
    */
  test("IVF-PQ (q80 config): ADC-cut conditional recall monotone in rerank budget, exact at full budget") {
    val cents = graft.queries.Pipeline.labelCentroids(emb)
    val indexed = Ann.pqEncodeInt(
      Ann.ivfAssignInt(emb, "embedding", cents), "vec_id", "embedding", cents).cache()
    try {
      val nprobe = 2
      def l2(a: Seq[Long], b: Seq[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val allVecs = emb.select(col("vec_id"), col("embedding"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(Ann.quantizeL).toSeq)
      def run(rf: Int): Double = {
        val per = queryVecs.map { case (qid, qv) =>
          val qIv = qv.map(Ann.quantizeL).toSeq
          val probeCells = cents.map { case (id, c) =>
            (id, qIv.zip(c).map { case (a, b) => a * b }.sum)
          }.sortBy { case (id, sim) => (-sim, -id) }.take(nprobe).map(_._1).toSet
          val inCells = indexed.filter(col("cell").isInCollection(probeCells))
            .select(col("vec_id")).as[Long].collect().toSet
          val exactInCells = allVecs.filter(v => inCells(v._1))
            .map { case (id, v) => (l2(v, qIv), id) }.sorted.take(K).map(_._2).toSet
          val got = Ann.ivfPqTopK(indexed, "vec_id", "embedding", cents, cents,
                                  qIv, k = K, nprobe = nprobe, rerankFactor = rf)
            .select(col("vec_id")).as[Long].collect().toSet
          (got.intersect(exactInCells).size.toDouble / K, inCells.size)
        }
        per.map(_._1).sum / per.size
      }
      val scannedMax = {
        // enough budget to keep every scanned row for any of the queries
        val cellSizes = indexed.groupBy(col("cell")).count().as[(Long, Long)].collect().toMap
        cellSizes.values.toSeq.sorted.takeRight(nprobe).sum.toInt
      }
      val fullBudget = scannedMax / K + 1
      val curve = Seq(3, 10, fullBudget).map(rf => rf -> run(rf))
      curve.foreach { case (rf, r) =>
        info(f"IVF-PQ rerankFactor=$rf conditional recall@$K=$r%.2f")
      }
      assert(curve.head._2 >= 0.5,
             f"ADC cut at rerankFactor=3 recovers only ${curve.head._2}%.2f of the within-cells exact top-$K")
      val recalls = curve.map(_._2)
      assert(recalls == recalls.sorted,
             s"conditional recall must be non-decreasing in rerankFactor, got $recalls")
      assert(curve.last._2 == 1.0,
             f"full rerank budget must be exactly the within-cells exact answer, got ${curve.last._2}%.2f")
    } finally indexed.unpersist()
  }

  /** END-TO-END recall for the composed stored path at the q80 config
    * (k=10, nprobe=2, rerankFactor=3): recall@10 of [[Ann.ivfPqTopKStored]]
    * against the UNCONDITIONAL exact integer-L2 top-10 — both
    * approximation tiers (cell prune + ADC cut) measured as one stack.
    * The sf corpora are near-iid (see the class doc), so like PqSpec
    * this runs on a clustered synthetic corpus — the structure an ANN
    * index exists to exploit — where the composed path must recover
    * nearly all true neighbors: the floor is 0.9 averaged over queries
    * spanning every cluster.
    */
  test("IVF-PQ stored end-to-end (q80 config): recall@10 vs exact >= 0.9 on clustered corpus") {
    val dims = 64
    // five well-separated clusters with small per-vector jitter (same
    // generator as PqSpec; 12 members per cluster)
    val cvecs: Seq[(Long, Seq[Float])] = (0L until 60L).map { i =>
      (i, (0 until dims).map(d =>
        ((i % 5).toFloat - 2f) * ((d % 7) + 1) / 10f + i.toFloat / 1000f))
    }
    val cemb = cvecs.toDF("vec_id", "embedding")
    val codebooks: Seq[(Long, Seq[Long])] = (0L until 5L).map { g =>
      val members = cvecs.filter(_._1 % 5 == g).map(_._2.map(Ann.quantizeL))
      (g, (0 until dims).map(d =>
        Math.floorDiv(members.map(_(d)).sum, members.size.toLong)))
    }
    val path = java.nio.file.Files.createTempDirectory("graft_e2e_ivfpq").toString + "/index"
    Ann.ivfPqWriteIndex(cemb, "vec_id", "embedding", codebooks, codebooks, path)
    val xs = cvecs.map { case (id, v) => id -> v.map(Ann.quantizeL).toSeq }
    val per = (0 until 10).map { qi =>
      val qIv = xs(qi)._2
      val exactTop = xs.map { case (id, x) =>
        (x.zip(qIv).map { case (a, b) => (a - b) * (a - b) }.sum, id)
      }.sorted.take(K).map(_._2).toSet
      val got = Ann.ivfPqTopKStored(spark, path, "vec_id", "embedding",
                                    codebooks, codebooks, qIv,
                                    k = K, nprobe = 2, rerankFactor = 3)
        .select(col("vec_id")).as[Long].collect().toSet
      got.intersect(exactTop).size.toDouble / K
    }
    val recall = per.sum / per.size
    info(f"IVF-PQ stored end-to-end recall@$K=$recall%.2f (q80 config, clustered corpus)")
    assert(recall >= 0.9,
           f"composed prune->ADC->re-rank recall $recall%.2f under the 0.9 floor")
  }

  test("TRAINED stack (q138 config): kmeans centroids + PQ codebooks hold the 0.9 recall floor") {
    // same clustered corpus as the stored test, but the quantizers are
    // TRAINED (kmeansFitInt / pqTrainInt) instead of handed the group
    // means — the measured claim behind q138: a corpus-trained
    // IVF-PQ read path serves with the same recall as the oracle-mean
    // construction
    val dims = 64
    val cvecs: Seq[(Long, Seq[Float])] = (0L until 60L).map { i =>
      (i, (0 until dims).map(d =>
        ((i % 5).toFloat - 2f) * ((d % 7) + 1) / 10f + i.toFloat / 1000f))
    }
    val cemb = cvecs.toDF("vec_id", "embedding")
    val (cents, books) = Ann.withIntVec(cemb, "vec_id", "embedding") { iv =>
      (Ann.kmeansFitInt(iv, k = 5, rounds = 2), Ann.pqTrainInt(iv, k = 5, rounds = 2))
    }
    graft.io.Pins.scope {
      // probed NQueries times
      val indexed = graft.io.Pins.pin(Ann.pqEncodeInt(
          Ann.ivfAssignInt(cemb, "embedding", cents),
          "vec_id", "embedding", books))
      val xs = cvecs.map { case (id, v) => id -> v.map(Ann.quantizeL).toSeq }
      val per = (0 until 10).map { qi =>
        val qIv = xs(qi)._2
        val exactTop = xs.map { case (id, x) =>
          (x.zip(qIv).map { case (a, b) => (a - b) * (a - b) }.sum, id)
        }.sorted.take(K).map(_._2).toSet
        val got = Ann.ivfPqTopK(indexed, "vec_id", "embedding", cents, books,
                                qIv, k = K, nprobe = 2, rerankFactor = 3)
          .select(col("vec_id")).as[Long].collect().toSet
        got.intersect(exactTop).size.toDouble / K
      }
      val recall = per.sum / per.size
      info(f"trained-stack recall@$K=$recall%.2f (kmeansFitInt + pqTrainInt)")
      assert(recall >= 0.9,
             f"trained quantizers recall $recall%.2f under the 0.9 floor")
    }
  }

  test("ivfRecallAtK counts exactly the probe's misses on a planted split corpus") {
    // cluster A (one-hot dim 0): 6 members; cluster B (one-hot dim 8):
    // 20 members. A cluster-A query's exact top-10 is all 6 A rows
    // plus 4 B rows (dot 0, lowest ids win the tie) — so nprobe=1
    // probes only cell A and must count exactly 6 hits, while nprobe=2
    // covers the corpus and restores 10/10. The counts are forced by
    // construction, not a recall floor.
    val dims = 16
    val cents: Seq[(Long, Seq[Long])] = Seq(
      (0L, (0 until dims).map(d => if (d == 0) 1000L else 0L)),
      (1L, (0 until dims).map(d => if (d == 8) 1000L else 0L)))
    def v(hot: Int): Seq[Float] =
      (0 until dims).map(d => if (d == hot) 1f else 0f)
    val corpus = ((0L until 6L).map(i => (i, v(0))) ++
                  (6L until 26L).map(i => (i, v(8)))).toDF("vec_id", "embedding")
    val q = Seq((0L, v(0).map(Ann.quantizeL)))
    def recallAt(nprobe: Int): Seq[(Long, Long)] =
      Ann.ivfRecallAtK(corpus, "vec_id", "embedding", cents, q,
                       k = 10, nprobe = nprobe)
        .as[(Long, Long)].collect().toSeq
    assert(recallAt(1) == Seq((0L, 6L)))
    assert(recallAt(2) == Seq((0L, 10L)))
    // a query the probe completely starves still reports, at 0: probe
    // a cell list that exists but holds none of the exact top-k —
    // impossible here with 2 cells, so use a query whose own cell is
    // empty-ish: cluster-B query at nprobe=1 probes cell B and the
    // exact top-10 (all-B by dot) IS in B — instead check the floor
    // via k > corpus: every query keeps n_hits ≤ corpus size
    val all = Ann.ivfRecallAtK(corpus, "vec_id", "embedding", cents, q,
                               k = 30, nprobe = 2)
      .as[(Long, Long)].collect().toSeq
    assert(all == Seq((0L, 26L)), s"full-coverage recall caps at the corpus: $all")
  }

  test("ndcgAtK: hand-computed exact fixed-point values on a planted ranking") {
    def vec(xs: Double*): Seq[Float] =
      (xs ++ Seq.fill(4 - xs.size)(0.0)).map(_.toFloat)
    // ranking for query (1,0,0,0): a(dot 1e6) > b(0.9e6) > c(0.8e6) >
    // d(0.2e6) > e(0.1e6); labels place the one relevant doc at rank 3
    val corpus = Seq(
      (10L, vec(1.0), 0L), (11L, vec(0.9), 0L), (12L, vec(0.8), 7L),
      (13L, vec(0.2), 0L), (14L, vec(0.1), 0L))
      .toDF("vec_id", "embedding", "label")
    val q = Seq((100L, vec(1.0).map(Ann.quantizeL).toSeq, 7L))
    val r = Ann.ndcgAtK(corpus, "vec_id", "embedding", "label", q, k = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
                           x.getLong(3), x.getLong(4)))
    // rank 3 → x = 4: log2fp(4) = 2·4096 EXACT → gain = 4096²/8192 =
    // 2048; idcg = gain(1) = 4096²/4096 = 4096 → ndcg = 500000 exact
    assert(r.toSeq == Seq((100L, 1L, 2048L, 4096L, 500000L)), r.toSeq.toString)

    // perfect ordering: both relevant docs at ranks 1-2 → dcg ≡ idcg
    // → exactly 1000000, whatever the (truncated) gain at rank 2 is
    val corpus2 = Seq(
      (10L, vec(1.0), 7L), (11L, vec(0.9), 7L), (12L, vec(0.8), 0L),
      (13L, vec(0.2), 0L))
      .toDF("vec_id", "embedding", "label")
    val r2 = Ann.ndcgAtK(corpus2, "vec_id", "embedding", "label", q, k = 3)
      .collect().map(x => (x.getLong(0), x.getLong(4)))
    assert(r2.toSeq == Seq((100L, 1000000L)), r2.toSeq.toString)

    // a label with no corpus rows: idcg = 0 → ndcg 0, never a crash
    val r3 = Ann.ndcgAtK(corpus2, "vec_id", "embedding", "label",
                         Seq((101L, vec(1.0).map(Ann.quantizeL).toSeq, 99L)),
                         k = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(4)))
    assert(r3.toSeq == Seq((101L, 0L, 0L)), r3.toSeq.toString)
  }
}
