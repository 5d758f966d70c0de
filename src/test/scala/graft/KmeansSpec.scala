package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.search.Ann

/** Exact-integer Lloyd's k-means (the q135/q136 trainer) and its L2
  * assignment step: deterministic seeding, floor-mean updates,
  * empty-cell retention, and the min-cell tie convention — the
  * contracts the DuckDB oracle replays round for round.
  */
class KmeansSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] =
    (xs ++ Seq.fill(64 - xs.size)(0.0)).map(_.toFloat)

  // the trainers through the production loan (one pinned quantization)
  private def fit(df: DataFrame, k: Int, rounds: Int,
                  seedFn: (DataFrame, Int) => Seq[(Long, Seq[Long])] =
                    Ann.idOrderSeeds): Seq[(Long, Seq[Long])] =
    Ann.withIntVec(df, "vec_id", "embedding")(
      Ann.kmeansFitInt(_, k, rounds, seedFn = seedFn))

  private def pq(df: DataFrame, k: Int, rounds: Int): Seq[(Long, Seq[Long])] =
    Ann.withIntVec(df, "vec_id", "embedding")(Ann.pqTrainInt(_, k, rounds))

  test("two planted clusters: centroids land on the exact integer cluster means") {
    // seeds are ids 0 (cluster +1) and 1 (cluster −1); the remaining
    // vectors straddle each seed so the round-1 means are exact
    val rows = Seq(
      (0L, vec(1.0)), (1L, vec(-1.0)),
      (2L, vec(1.2)), (3L, vec(0.8)),
      (4L, vec(-1.2)), (5L, vec(-0.8))).toDF("vec_id", "embedding")
    val cents = fit(rows, k = 2, rounds = 2)
    assert(cents.map(_._1) == Seq(0L, 1L))
    // floorDiv((1000+1200+800), 3) = 1000; mirrored for the − cluster
    assert(cents(0)._2(0) == 1000L, cents.toString)
    assert(cents(1)._2(0) == -1000L, cents.toString)
    assert(cents.forall(_._2.drop(1).forall(_ == 0L)), cents.toString)
  }

  test("an emptied cell keeps its previous centroid") {
    // identical seed vectors: every vector ties to cell 0 (smallest
    // cell wins), so cell 1 never gets members and must retain its
    // seed centroid instead of degenerating to an empty mean
    val rows = Seq(
      (0L, vec(1.0)), (1L, vec(1.0)), (2L, vec(1.0)), (3L, vec(1.0)))
      .toDF("vec_id", "embedding")
    val cents = fit(rows, k = 2, rounds = 2)
    assert(cents(1)._2(0) == 1000L, cents.toString)
    val asg = Ann.assignMinL2Int(
        rows.withColumn("__iv", Ann.intVec(col("embedding"))), "__iv", cents)
      .select($"cell").as[Long].collect()
    assert(asg.forall(_ == 0L), asg.toSeq.toString)
  }

  test("an equidistant vector assigns to the smallest cell id") {
    val cents = Seq((0L, Seq.tabulate(64)(d => if (d == 0) 1000L else 0L)),
                    (1L, Seq.tabulate(64)(d => if (d == 0) -1000L else 0L)))
    val got = Ann.assignMinL2Int(
        Seq((9L, vec(0.0))).toDF("vec_id", "embedding")
          .withColumn("__iv", Ann.intVec(col("embedding"))), "__iv", cents)
      .select($"cell").as[Long].head()
    assert(got == 0L)
  }

  test("deterministic across runs; k beyond the corpus fails loudly") {
    val rows = (0 until 10).map(i => (i.toLong, vec(i / 10.0)))
      .toDF("vec_id", "embedding")
    val a = fit(rows, k = 3, rounds = 2)
    val b = fit(rows, k = 3, rounds = 2)
    assert(a == b)
    val e = intercept[IllegalArgumentException](
      fit(rows, k = 11, rounds = 1))
    assert(e.getMessage.contains("need at least"))
    // the farthest-point seeder holds the same contract — without its
    // own guard the argmax loop would silently return repeated seeds
    val e2 = intercept[IllegalArgumentException](
      fit(rows, k = 11, rounds = 1,
          seedFn = Ann.farthestPointSeeds))
    assert(e2.getMessage.contains("need at least"))
  }

  test("pqTrainInt: planted subspace clusters land on exact slice means, zeros stay zero") {
    // subspace 0 (dims 1..8) has two groups around ±1; every other
    // subspace is all-zero. Seeds = ids 0 (+) and 1 (−).
    val rows = Seq(
      (0L, vec(1.0)), (1L, vec(-1.0)),
      (2L, vec(1.2)), (3L, vec(0.8)),
      (4L, vec(-1.2)), (5L, vec(-0.8))).toDF("vec_id", "embedding")
    val books = pq(rows, k = 2, rounds = 2)
    assert(books.map(_._1) == Seq(0L, 1L))
    assert(books.forall(_._2.size == 64), "entries must compose to full dims")
    // subspace 0: codeword 0 dim 1 = floorDiv(1000+1200+800, 3) = 1000
    assert(books(0)._2(0) == 1000L, books.toString)
    assert(books(1)._2(0) == -1000L, books.toString)
    // all-zero subspaces: every slice ties to codeword 0 (min cell),
    // codeword 1 is emptied and keeps its all-zero seed — both zero
    assert(books.forall(_._2.drop(8).forall(_ == 0L)), books.toString)
    // and the trained books drop into the existing PQ encoder: group +
    // encodes to codeword 0, group − to codeword 1 in subspace 0
    val codes = Ann.pqEncodeInt(rows, "vec_id", "embedding", books)
      .select($"vec_id", $"c0").as[(Long, Long)].collect().toMap
    assert(Seq(0L, 2L, 3L).forall(codes(_) == 0L), codes.toString)
    assert(Seq(1L, 4L, 5L).forall(codes(_) == 1L), codes.toString)
  }

  test("pqTrainInt is deterministic across runs") {
    val rows = (0 until 20).map(i => (i.toLong, vec(i / 10.0, (10 - i) / 10.0)))
      .toDF("vec_id", "embedding")
    val a = pq(rows, k = 4, rounds = 2)
    val b = pq(rows, k = 4, rounds = 2)
    assert(a == b)
  }

  test("farthest-point seeds touch every well-separated cluster before revisiting any") {
    // 4 clusters at (±1, ±1); ids 0..4 all in cluster (+,+) — the
    // adversarial ingest order where id-order seeding piles every seed
    // into one cluster
    val pts = (0 until 20).map { i =>
      val cl = if (i < 5) 0 else (i - 5) / 5 + 1
      val (sx, sy) = Seq((1, 1), (1, -1), (-1, 1), (-1, -1))(cl)
      (i.toLong, vec(sx * 1.0 + i * 0.01, sy * 1.0 + i * 0.013))
    }
    val iv = pts.toDF("vec_id", "embedding")
      .select(col("vec_id").as("__id"),
              Ann.intVec(col("embedding")).as("__iv"))
    val seeds = Ann.farthestPointSeeds(iv, 4)
    val signs = seeds.map { case (_, v) => (v(0) > 0, v(1) > 0) }.toSet
    assert(signs.size == 4, s"one seed per cluster expected: $seeds")
  }

  test("farthest-point seeding beats id-order seeding on an adversarial id layout") {
    def inertia(vecs: Seq[Seq[Long]], cents: Seq[(Long, Seq[Long])]): Long =
      vecs.map(v => cents.map { case (_, c) =>
        v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      }.min).sum
    val pts = (0 until 20).map { i =>
      val cl = if (i < 5) 0 else (i - 5) / 5 + 1
      val (sx, sy) = Seq((1, 1), (1, -1), (-1, 1), (-1, -1))(cl)
      (i.toLong, vec(sx * 1.0 + i * 0.01, sy * 1.0 + i * 0.013))
    }
    val df = pts.toDF("vec_id", "embedding")
    val ivs = pts.map(_._2.map(Ann.quantizeL).toSeq)
    val idc = fit(df, k = 4, rounds = 2)
    val fpc = fit(df, k = 4, rounds = 2,
                  seedFn = Ann.farthestPointSeeds)
    val (fi, ii) = (inertia(ivs, fpc), inertia(ivs, idc))
    info(s"inertia: farthest-point=$fi id-order=$ii")
    assert(fi < ii,
      s"fp seeding must beat the one-cluster id layout: fp=$fi id=$ii")
  }

  test("centroidDrift: identical distributions show zero shift, a planted offset shows exactly it") {
    // two planted clusters at ±1 on every dim; disjoint id ranges with
    // the same distribution → every old centroid has an exact twin
    def mk(ids: Seq[Long], offset: Float) =
      ids.map(i => (i, Seq.tabulate(64)(_ =>
        (if (i % 2 == 0) 1f else -1f) + offset))).toDF("vec_id", "embedding")
    val old = mk(0L until 40L, 0f)
    val same = mk(40L until 80L, 0f)
    val d0 = Ann.centroidDrift(old, same, "vec_id", "embedding", k = 2)
      .select($"shift_d2").as[Long].collect()
    assert(d0.length == 2 && d0.forall(_ == 0L), d0.toSeq.toString)
    // the new half shifted +0.1 on every dim: each old centroid's
    // nearest new twin sits exactly 100 grid units away per dim
    val moved = mk(40L until 80L, 0.1f)
    val rows = Ann.centroidDrift(old, moved, "vec_id", "embedding", k = 2)
      .orderBy($"cell")
      .select($"cell", $"nearest_cell", $"shift_d2")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.forall(_._3 == 64L * 100 * 100), rows.toString)
  }

  test("q141: stored trained search equals the in-memory q138 stack, scans prune and read codes only") {
    val stored = SparkEntry.queries("q141_trained_search_stored")(spark, Sf001)
    val inMem = SparkEntry.queries("q138_trained_search")(spark, Sf001)
    assert(stored.collect().map(_.toSeq).toSeq ==
           inMem.collect().map(_.toSeq).toSeq,
           "the stored serving path must be indistinguishable from the in-memory stack")
    // the stored probe's plan discipline: both tiers prune to the
    // probed cells, and the ADC tier reads codes, never vectors
    val plan = planText(SparkEntry.queries("q141_trained_search_stored")(spark, Sf001))
    val prunedScans = plan.linesIterator.count(l =>
      l.contains("PartitionFilters") && l.contains("cell") && l.contains("IN"))
    assert(prunedScans >= 2,
           s"both stored scans must prune (found $prunedScans):\n${plan.take(3000)}")
    val scanSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scanSchemas.exists(l => l.contains("c0") && !l.contains("embedding")),
           s"ADC scan must read codes, not vectors:\n${scanSchemas.mkString("\n")}")
  }

  test("assignMinL2Int matches a brute-force integer L2 argmin on real data") {
    val e = spark.read.parquet(s"$Sf001/embeddings.parquet").limit(100)
    val cents = fit(e, k = 4, rounds = 2)
    val got = Ann.assignMinL2Int(
        e.withColumn("__iv", Ann.intVec(col("embedding"))), "__iv", cents)
      .select($"vec_id".cast("long"), $"cell").as[(Long, Long)]
      .collect().toMap
    val vecs = e.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Seq[Float])].collect()
    vecs.foreach { case (id, v) =>
      val iv = v.map(Ann.quantizeL)
      val best = cents.map { case (cid, c) =>
        (iv.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min
      assert(got(id) == best._2, s"vec $id: got ${got(id)}, want $best")
    }
  }
}
