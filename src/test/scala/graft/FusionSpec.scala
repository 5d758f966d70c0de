package graft

import graft.search.Search

/** Reciprocal-rank fusion (q126): the hybrid-retrieval combiner. */
class FusionSpec extends SparkSpec {
  import spark.implicits._

  private def rank(rows: Seq[(Long, Long)]) = rows.toDF("doc_id", "rnk")

  test("driver twin: score = sum of 1000000 div (60 + rank) per list") {
    val a = rank(Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    val b = rank(Seq((2L, 1L), (4L, 2L)))
    val got = Search.rrfFuse(Seq(a, b), "doc_id", "rnk")
      .as[(Long, Long, Long)].collect().toSeq
    def c(r: Long) = 1000000L / (60L + r)
    val want = Seq(
      (2L, c(2) + c(1), 2L), // both lists: 16129 + 16393
      (1L, c(1), 1L), (4L, c(2), 1L), (3L, c(3), 1L))
    assert(got == want)
  }

  test("agreement beats a single better rank: rank 3+3 outscores a lone rank 1") {
    val a = rank(Seq((10L, 1L), (20L, 3L)))
    val b = rank(Seq((30L, 1L), (20L, 3L)))
    val got = Search.rrfFuse(Seq(a, b), "doc_id", "rnk")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.head._1 == 20L && got.head._3 == 2L)
  }

  test("ties break by id; k truncates; three lists fuse") {
    val ls = Seq(rank(Seq((5L, 1L), (6L, 1L))), rank(Seq((6L, 2L))),
                 rank(Seq((7L, 1L), (5L, 2L))))
    val got = Search.rrfFuse(ls, "doc_id", "rnk", k = 2)
      .as[(Long, Long, Long)].collect().toSeq
    def c(r: Long) = 1000000L / (60L + r)
    assert(got == Seq((5L, c(1) + c(2), 2L), (6L, c(1) + c(2), 2L)))
  }

  test("rrfFuseRows ≡ rrfFuse over random lists with overlaps and ties") {
    val rnd = new scala.util.Random(17)
    // ids from a small space, so lists overlap and equal rank sums tie;
    // the first case ties 5 and 7 outright
    val cases = (Seq(Seq(7L, 5L), Seq(5L, 7L), Seq(6L)), 3) +:
      Seq.fill(8)((Seq.fill(1 + rnd.nextInt(3))(
        rnd.shuffle((1L to 9L).toList).take(rnd.nextInt(8))), 1 + rnd.nextInt(6)))
    cases.zipWithIndex.foreach { case ((lists, k), trial) =>
      val frames = lists.map(l => rank(l.zipWithIndex.map { case (id, i) => (id, i + 1L) }))
      val want = Search.rrfFuse(frames, "doc_id", "rnk", k = k)
        .as[(Long, Long, Long)].collect().toSeq
      assert(Search.rrfFuseRows(lists, k = k) == want, s"trial $trial: $lists")
    }
  }

  test("plan: no cartesian, no UDF, one aggregate over the unioned lists") {
    // lists larger than k, or EliminateLimits folds the top-k away and
    // the TakeOrderedAndProject assertion can't see it
    val big = rank((1L to 40L).map(i => (i, i)))
    val plan = Search.rrfFuse(Seq(big, rank(Seq((1L, 1L)))), "doc_id", "rnk")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("UDF("), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
