package graft

import graft.io.Pins
import graft.text.TextStats

/** Per-source KL divergence (q116): fixed-point lexical drift vs the
  * corpus blend, exact against a BigInt driver twin.
  */
class KlSpec extends SparkSpec {
  import spark.implicits._

  // the spec-local twin of FixedPoint.withLog2 (same recurrence)
  private def log2fp(x0: Long): Long = {
    val S = 20; val F = 12
    val x = math.max(x0, 1L)
    val e = (63 - java.lang.Long.numberOfLeadingZeros(x)).toLong
    var m = if (e > S) x >> (e - S) else x << (S - e)
    var acc = 0L
    (1 to F).foreach { _ =>
      val mp = (m * m) >> S
      if (mp >= (1L << (S + 1))) { acc = acc * 2 + 1; m = mp >> 1 }
      else { acc = acc * 2; m = mp }
    }
    e * 4096L + acc
  }

  private def twin(rows: Seq[(String, String)]): Map[String, Long] = {
    val toks = rows.map { case (s, t) =>
      (s, t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq) }
    val counts = toks.flatMap { case (s, ts) => ts.map(t => (s, t)) }
      .groupBy(identity).map { case ((s, t), g) => (s, t, g.size.toLong) }
    val ns = counts.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
    val ct = counts.groupBy(_._2).map { case (t, g) => t -> g.map(_._3).sum }
    val n = ns.values.sum
    counts.groupBy(_._1).map { case (s, g) =>
      val tsum = g.map { case (_, t, c) =>
        c * (log2fp(c) + log2fp(n) - log2fp(ns(s)) - log2fp(ct(t))) }.sum
      s -> tsum / ns(s) // truncating, = Spark div = DuckDB //
    }
  }

  private def run(rows: Seq[(String, String)]) = Pins.scope {
    TextStats.sourceKlDivergence(rows.toDF("source", "text"), "source", "text")
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
  }

  test("exactly the BigInt driver twin (truncating div, both engines)") {
    val rows = Seq(
      "a" -> "x y z x y x w w", "a" -> "y z w q",
      "b" -> "x x x y", "c" -> "only unique tokens here now")
    val got = run(rows)
    val t = twin(rows)
    assert(got.map(r => r._1 -> r._3).toMap == t, s"got $got, want $t")
  }

  test("a representative source sits near zero; a disjoint one scores high") {
    // a and b share the corpus distribution; c is lexically alien
    val common = "the quick brown fox jumps over the lazy dog"
    val rows = Seq("a" -> common, "a" -> common,
                   "b" -> common,
                   "c" -> "zzz qqq www zzz qqq www zzz qqq www")
    val got = run(rows).map(r => r._1 -> r._3).toMap
    assert(got("a") <= 4096 / 2 && got("b") <= 4096 / 2,
           s"representative sources must sit under half a bit: $got")
    // c's tokens are 9/36 of the corpus but 100% of c: KL ~ 2 bits
    assert(got("c") > 4096L, s"the alien source must exceed a bit: $got")
    assert(got("c") > got("a") && got("c") > got("b"))
  }

  test("plan: per-token join SHUFFLES (vocab must never broadcast), no UDF") {
    Pins.scope {
      val df = TextStats.sourceKlDivergence(
        Seq("a" -> "x y", "b" -> "x z").toDF("source", "text"),
        "source", "text")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("UDF("))
      // the vocabulary-sized per-token totals ride a shuffled hash join —
      // at 100 TB a \W+ vocab is 10^8-10^9 rows, a multi-GB broadcast
      assert(plan.contains("ShuffledHashJoin"), plan)
      // only the sources-sized and 1-row tables broadcast
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin"), plan)
    }
  }
}
