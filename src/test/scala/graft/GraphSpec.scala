package graft

import graft.dedup.Dedup
import graft.operators.Graph

/** Fixed-point PageRank + the shingle-share edge builder (q130). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("driver twin: exact fixed-point power iteration on a known graph") {
    // path graph 1-2-3 plus edge 2-4: node 2 is the hub
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("a", "b")
    val got = Graph.pageRank(edges, "a", "b", iters = 3)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    // exact integer twin
    val sym = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 2L -> 4L, 4L -> 2L)
    val deg = sym.groupBy(_._1).map { case (n, g) => n -> g.size.toLong }
    var pr: Map[Long, Long] = deg.map { case (n, _) => n -> 1000000L }.toMap
    for (_ <- 1 to 3) {
      val inflow = sym.groupBy(_._2).map { case (n, in) =>
        n -> in.map { case (s, _) => pr(s) / deg(s) }.sum }
      pr = deg.map { case (n, _) =>
        n -> (150000L + 85L * inflow.getOrElse(n, 0L) / 100L) }.toMap
    }
    assert(got == Seq(1L, 2L, 3L, 4L).map(n => (n, deg(n), pr(n))))
    // the hub outranks every leaf
    val m = got.map(r => r._1 -> r._3).toMap
    assert(m(2L) > m(1L) && m(2L) > m(3L) && m(2L) > m(4L))
  }

  test("rank mass is conserved up to truncation: sum pr <= n*scale, close to it") {
    val edges = (1L to 9L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Graph.pageRank(edges, "a", "b", iters = 4)
      .as[(Long, Long, Long)].collect()
    val total = got.map(_._3).sum
    assert(total <= 10L * 1000000L)
    assert(total > 10L * 990000L, s"truncation lost too much: $total")
  }

  test("shingle-share edges: planted near-dups pair with the exact shared count") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base + " extra tail words here"),
      (3L, "completely different content with no overlap at all present"))
    val got = Dedup.shingleShareEdges(docs.toDF("doc_id", "text"),
                                      "doc_id", "text",
                                      dfCap = 20, minShared = 3)
      .as[(Long, Long, Long)].collect().toSeq
    // docs 1/2 share the 6 shingles of the 10-token base; doc 3 pairs
    // with nobody
    assert(got == Seq((1L, 2L, 6L)))
  }

  test("df-cap drops stop-shingles: a phrase in every doc pairs nobody") {
    val common = "the exact same boilerplate line appears in every document"
    val docs = (1L to 10L).map(i => (i, s"$common unique$i")).toDF("doc_id", "text")
    val got = Dedup.shingleShareEdges(docs, "doc_id", "text",
                                      dfCap = 5, minShared = 1)
      .collect()
    assert(got.isEmpty)
  }

  test("plan: no cartesian product in edges or rank rounds") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val plan = Graph.pageRank(edges, "a", "b", iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("UDF("), plan)
  }

  test("triangles: K4 — every node sits in 3 triangles at coefficient 1000‰") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L),
                    (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val got = Graph.triangleCounts(edges, "a", "b").orderBy("node")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(1L, 2L, 3L, 4L).map(n => (n, 3L, 3L, 1000L)))
  }

  test("triangles: a path closes nothing; degree-1 endpoints report 0‰ by definition") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Graph.triangleCounts(edges, "a", "b").orderBy("node")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 0L, 0L), (2L, 2L, 0L, 0L),
                      (3L, 2L, 0L, 0L), (4L, 1L, 0L, 0L)))
  }

  test("triangles: exact twin on a hub-skewed graph; self loops and duplicate directions ignored") {
    // deterministic pseudo-random edges plus a hub (node 1 linked to
    // everyone) — the shape whose wedges explode without orientation —
    // and noise the normalizer must drop
    val pairs = (for {
      i <- 1L to 24L; j <- (i + 1L) to 24L
      if (i * 31L + j * 17L) % 5L == 0L
    } yield (i, j)) ++ (2L to 24L).map(j => (1L, j))
    val noisy = pairs ++ pairs.map(_.swap) ++ Seq((3L, 3L), (7L, 7L))
    val got = Graph.triangleCounts(noisy.toDF("a", "b"), "a", "b")
      .orderBy("node").as[(Long, Long, Long, Long)].collect().toSeq
    // brute-force twin over the clean adjacency
    val und = pairs.distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (n, g) => n -> g.map(_._2).toSet }
    val expect = adj.keys.toSeq.sorted.map { n =>
      val nb = adj(n).toSeq
      val tri = (for {
        ai <- nb.indices; bi <- (ai + 1) until nb.size
        if adj(nb(ai)).contains(nb(bi))
      } yield 1).size.toLong
      val d = nb.size.toLong
      (n, d, tri, if (d >= 2) 2000L * tri / (d * (d - 1)) else 0L)
    }
    assert(got == expect)
  }

  test("triangles: plan has no cartesian product and no UDF") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val plan = Graph.triangleCounts(edges, "a", "b")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("UDF("), plan)
  }

  private def propagate(edges: Seq[(Long, Long)], seeds: Seq[(Long, String)],
                        iters: Int = 2): Seq[(Long, String, Long)] =
    Graph.labelPropagate(edges.toDF("a", "b"), "a", "b",
                         seeds.toDF("id", "lab"), "id", "lab", iters)
      .orderBy("node").as[(Long, String, Long)].collect().toSeq

  test("label propagation: labels flood one hop per round, round = hop distance, frontier stops at iters") {
    // path 1-2-3-4, seed at 1: round1 → 2, round2 → 3, 4 unreached
    val out = propagate(Seq((1L, 2L), (2L, 3L), (3L, 4L)), Seq(1L -> "x"))
    assert(out == Seq((1L, "x", 0L), (2L, "x", 1L), (3L, "x", 2L)), out.toString)
  }

  test("label propagation: majority vote wins; exact ties take the smallest label") {
    // node 10 has neighbors 1,2 labeled x and 3 labeled y → x;
    // node 20 has neighbors 4 (x) and 5 (y) tied → 'x' < 'y'
    val out = propagate(
      Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L)),
      Seq(1L -> "x", 2L -> "x", 3L -> "y", 4L -> "x", 5L -> "y"),
      iters = 1)
    assert(out.find(_._1 == 10L).map(_._2).contains("x"), out.toString)
    assert(out.find(_._1 == 20L).map(_._2).contains("x"), out.toString)
  }

  test("label propagation: seeds are clamped — an outvoted seed never flips") {
    // seed 1 = 'y' surrounded by three 'x' seeds: stays 'y' at round 0
    val out = propagate(
      Seq((2L, 1L), (3L, 1L), (4L, 1L)),
      Seq(1L -> "y", 2L -> "x", 3L -> "x", 4L -> "x"))
    assert(out.find(_._1 == 1L).contains((1L, "y", 0L)), out.toString)
  }

  test("label propagation: a round-1 label is clamped against round-2 re-votes") {
    // 5 gets 'x' in round 1 (only labeled neighbor is seed 6=x);
    // in round 2 its neighborhood is majority 'y' (7,8 labeled y in
    // round 1 via y-seeds 9,10) — but 5 must keep 'x'
    val out = propagate(
      Seq((6L, 5L), (7L, 5L), (8L, 5L), (9L, 7L), (10L, 8L)),
      Seq(6L -> "x", 9L -> "y", 10L -> "y"))
    assert(out.find(_._1 == 5L).contains((5L, "x", 1L)), out.toString)
    assert(out.find(_._1 == 7L).contains((7L, "y", 1L)), out.toString)
  }

  test("label propagation: a round's pin keeps its size estimate within Long.MaxValue") {
    // each round joins the last pin twice and pins the result; q168
    // runs 2 rounds, this runs 8 along a path that keeps every round busy
    val path = (1L to 12L).map(i => (i, i + 1))
    val lab = Graph.labelPropagate(path.toDF("a", "b"), "a", "b",
                                   Seq(1L -> "x").toDF("id", "lab"), "id", "lab",
                                   iters = 8)
    val sizes = lab.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.computeStats().sizeInBytes
    }
    assert(sizes.nonEmpty && sizes.forall(_ <= BigInt(Long.MaxValue)), sizes)
    assert(lab.count() == 9L)
    graft.io.Pins.release(lab)
  }
}
