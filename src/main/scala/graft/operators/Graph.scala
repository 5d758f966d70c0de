package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists — the Pregel-shaped iterative ops
  * (join + aggregate per round), in the exact fixed-point integer
  * algebra the rest of the library uses so every round is
  * bit-reproducible across engines and partitionings.
  */
object Graph {

  /** Fixed-point PAGERANK over an UNDIRECTED edge list — the
    * centrality pass behind "template hub" detection: a document
    * near-dup-linked to many other documents (shared boilerplate,
    * templates, mirrors) collects rank from all of them, so the top of
    * the ranking names the corpus's template centers — the docs to
    * inspect first in a curation pass.
    *
    * Each round is the standard power iteration restricted to nodes
    * with at least one edge (isolated docs hold the uniform base rank
    * by definition and never move):
    *
    *   pr'(i) = BASE + d·(Σ_{j~i} pr(j) div deg(j)) div dampDen
    *
    * with BASE = scale·(dampDen−dampNum) div dampDen and d = dampNum —
    * every division TRUNCATING integer division, so the fixed `iters`
    * rounds give one exact answer (no float drift, no convergence
    * epsilon; truncation loses < 1 fixed-point quantum per term).
    *
    * Scale posture: the classic Pregel shape — per round, ONE edge-list
    * join against the rank table (both partitioned by node key) and
    * ONE inflow aggregate; `iters` is a small constant. Degrees and
    * ranks never leave the cluster; the driver only composes plans.
    */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
               iters: Int = 3, dampNum: Long = 85, dampDen: Long = 100,
               scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampNum < dampDen)
    // the adjacency materializes ONCE (localCheckpoint): the degree
    // aggregate and EVERY power-iteration join read it — without the
    // pin each round re-runs the whole upstream edge construction. At
    // production scale this is "write the adjacency table, then
    // iterate over it" — the standard Pregel layout. The DIRECTED
    // edges pin first (the connectedComponents pattern): a union of
    // two branches over raw `edges` would evaluate the caller's whole
    // edge pipeline twice in one job.
    val e0 = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    val sym = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = sym.join(deg, Seq("src"))
    val base = scale * (dampDen - dampNum) / dampDen
    var pr = deg.select(col("src").as("node"), lit(scale).as("pr"))
    for (_ <- 1 to iters) {
      val inflow = withDeg.join(pr, withDeg("src") === pr("node"))
        .select(col("dst").as("node"), expr("pr div deg").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__in"))
      pr = deg.select(col("src").as("node"))
        .join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
           expr(s"$dampNum * coalesce(__in, CAST(0 AS BIGINT)) div $dampDen"))
            .as("pr"))
    }
    pr.join(deg.select(col("src").as("node"), col("deg")), Seq("node"))
      .select(col("node"), col("deg"), col("pr"))
  }

  /** TRIANGLE COUNT + local clustering coefficient over an undirected
    * edge list — the graph-density diagnostic for the near-dup corpus:
    * a doc whose neighbors also pair with EACH OTHER sits inside a
    * mirror/template clique (high coefficient), while a hub whose
    * neighbors are mutually unrelated is boilerplate glue (high degree,
    * low coefficient) — the distinction PageRank (q130) cannot draw,
    * since both shapes collect rank.
    *
    * Scale posture is the whole point (Suri & Vassilvitskii, "Counting
    * triangles and the curse of the last reducer", WWW'11): the naive
    * wedge join pays Σ_v deg(v)² — one million-degree template hub
    * makes that 10¹² wedge rows. Orienting every edge from its
    * lower-(deg,id) endpoint to its higher one first caps each node's
    * OUT-degree at O(√m), so the wedge join is O(m^{3/2}) worst case
    * regardless of hubs, and every triangle {a,b,c} (ordered by
    * (deg,id)) is generated exactly once — as the wedge at its
    * smallest vertex closed by the oriented edge between the larger
    * two. Three shuffles total (degree agg, wedge self-join, closing
    * semi-join + per-node count); the adjacency materializes once.
    *
    * All-integer output: per node with ≥1 edge, its degree, triangle
    * count, and the local clustering coefficient as PER-MILLE
    * truncating rational `2000·tri div (deg·(deg−1))` (0 when deg < 2
    * — a one-edge node closes nothing by definition).
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = edges.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient u—v from its lower (deg, id) endpoint; carry the head's
    // (deg, id) so the wedge join can order its two heads without
    // another degree lookup
    val orient = und
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"),
        greatest(col("du"), col("dv")).as("ddeg"))
      .localCheckpoint()
    val o1 = orient.select(col("src"), col("dst").as("y"),
                           col("ddeg").as("dy"))
    val o2 = orient.select(col("src"), col("dst").as("z"),
                           col("ddeg").as("dz"))
    val wedges = o1.join(o2, Seq("src"))
      .filter(col("dy") < col("dz") ||
              (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("src").as("x"), col("y"), col("z"))
    val tris = wedges.join(
        orient.select(col("src").as("y"), col("dst").as("z")),
        Seq("y", "z"), "left_semi")
    val triPerNode = tris.select(col("x").as("n"))
      .union(tris.select(col("y").as("n")))
      .union(tris.select(col("z").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("tri_cnt"))
    deg.join(triPerNode, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        when(col("deg") >= 2,
             expr("2000 * coalesce(tri_cnt, CAST(0 AS BIGINT)) " +
                  "div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("cc_pm"))
  }

  /** CLAMPED LABEL PROPAGATION over an undirected edge list (Zhu &
    * Ghahramani 2002, CMU-CALD-02-107) — the semi-supervised
    * weak-labeling pass: a small seed set carries trusted labels, and
    * each synchronous round every still-unlabeled node adjacent to a
    * labeled node takes the MAJORITY label among its labeled
    * neighbors (ties to the smallest label — total order, so the
    * fixed `iters` rounds give ONE exact answer). Labeled nodes are
    * CLAMPED — a label never flips once assigned — so labels flood
    * outward one hop per round and the `round` column records the
    * hop distance from the seed set (0 = seed).
    *
    * The counting vote needs no floats and no damping: it is
    * bit-reproducible across engines and partitionings, unlike the
    * usual normalized-weight formulation.
    *
    * Scale posture: the Pregel shape again — per round ONE edge⋈label
    * join and ONE (node,label) count aggregate, both on the node key;
    * the adjacency materializes once and every round reads it; the
    * label table grows monotonically (clamping), so round cost is
    * bounded by the frontier's edges, and `iters` is a small constant
    * (labels rarely carry meaning past a few near-dup hops).
    */
  def labelPropagate(edges: DataFrame, aCol: String, bCol: String,
                     seeds: DataFrame, idCol: String, labelCol: String,
                     iters: Int = 2): DataFrame = {
    require(iters >= 1)
    // directed edges pin first — see pageRank: the two union branches
    // must not evaluate the caller's edge pipeline twice
    val e0 = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    val sym = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var lab = seeds
      .select(col(idCol).as("node"), col(labelCol).as("plabel"),
              lit(0L).as("round"))
      .localCheckpoint()
    for (r <- 1 to iters) {
      val votes = sym
        .join(lab.select(col("node").as("src"), col("plabel")), Seq("src"))
        .groupBy(col("dst"), col("plabel"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("n").desc, col("plabel").asc)
      val newly = votes
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("plabel"),
                lit(r.toLong).as("round"))
        .join(lab.select(col("node")), Seq("node"), "left_anti")
      // capStats: a round joins the last pin twice, and the new pin
      // inherits that product estimate (past Long.MaxValue by round 8)
      lab = graft.io.Pins.capStats(lab.unionByName(newly).localCheckpoint())
    }
    lab
  }
}
