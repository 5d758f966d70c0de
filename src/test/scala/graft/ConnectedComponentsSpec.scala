package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Dedup clustering: connected components + keep-one canonical
  * selection (the q59/q60 operators).
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(edges: Seq[(String, String)],
                       maxIters: Int = 30): Map[String, String] =
    Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIters)
      .as[(String, String)].collect().toMap

  test("chain with diameter > 2 converges to the min label (pointer jumping)") {
    // a path graph 1-2-3-...-8: diameter 7. Plain min-label propagation
    // needs 7 rounds; fused pointer jumping must do it in O(log 7).
    val chain = (1 to 7).map(i => (f"v$i%02d", f"v${i + 1}%02d"))
    val got = labelsOf(chain)
    assert(got.size == 8)
    assert(got.values.toSet == Set("v01"), s"expected all v01, got $got")
  }

  test("disjoint components get distinct min labels; pairs stay local") {
    val edges = Seq(("d", "c"), ("b", "a"), // two 2-cliques, reversed order
                    ("x", "y"), ("y", "z")) // one triangle-ish path
    val got = labelsOf(edges)
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c",
                      "x" -> "x", "y" -> "x", "z" -> "x"))
  }

  test("two long chains merged by one cross edge form one component") {
    val left = (1 to 5).map(i => (s"l$i", s"l${i + 1}"))
    val right = (1 to 5).map(i => (s"r$i", s"r${i + 1}"))
    val got = labelsOf(left ++ right ++ Seq(("l6", "r6")))
    assert(got.values.toSet == Set("l1"))
  }

  test("two-hop pointer jump: a 64-node chain converges within 6 rounds") {
    // reach per round with the two parent hops grows fast enough that a
    // diameter-63 path needs <= 5 real rounds + 1 verification round;
    // the single-hop loop needed more — this bound pins the r18
    // acceleration without exposing the loop's internals.
    val chain = (1 to 63).map(i => (f"v$i%02d", f"v${i + 1}%02d"))
    val got = labelsOf(chain, maxIters = 6)
    assert(got.size == 64 && got.values.toSet == Set("v01"))
  }

  test("a round's pin keeps its size estimate within Long.MaxValue") {
    // each round joins the last pin four times and the next pin
    // inherits that estimate; uncapped, the 64-node chain's 6 rounds
    // leave an estimate thousands of bits long
    val chain = (1 to 63).map(i => (f"v$i%02d", f"v${i + 1}%02d"))
    graft.io.Pins.scope {
      val labels = Dedup.connectedComponents(chain.toDF("a", "b"), "a", "b")
      val sizes = labels.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.computeStats().sizeInBytes
      }
      assert(sizes.nonEmpty && sizes.forall(_ <= BigInt(Long.MaxValue)), sizes)
    }
  }

  test("maxIters guard: a long chain with 1 round fails loudly") {
    val chain = (1 to 20).map(i => (f"v$i%02d", f"v${i + 1}%02d"))
    val e = intercept[IllegalArgumentException](labelsOf(chain, maxIters = 1))
    assert(e.getMessage.contains("did not converge"))
  }

  test("empty edge list yields empty labels without looping") {
    val empty = Seq.empty[(String, String)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty, "a", "b").count() == 0)
  }

  test("a context-set checkpoint dir opts CC into reliable rounds (Bench posture)") {
    // Bench calls sc.setCheckpointDir once; every CC query must pick it
    // up without threading a parameter through the query registry
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ctx")
    val sc = spark.sparkContext
    val had = sc.getCheckpointDir
    sc.setCheckpointDir(dir.toString)
    try {
      val got = Dedup.connectedComponents(
        Seq(("p", "q"), ("q", "r")).toDF("a", "b"), "a", "b")
        .as[(String, String)].collect().toMap
      assert(got == Map("p" -> "p", "q" -> "p", "r" -> "p"))
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).exists(_.exists(anyFile))
      assert(anyFile(dir.toFile),
             "no checkpoint files written under the context dir")
    } finally {
      // restore: the dir is SparkContext-global and the session is
      // shared across suites (setCheckpointDir(null) clears it)
      sc.setCheckpointDir(had.orNull)
    }
  }

  test("dupClusters self-assigns singletons over the full doc table") {
    val docs = Seq("a", "b", "c", "lone").toDF("doc_id")
    val edges = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    val got = Dedup.dupClusters(docs, "doc_id", edges, "x", "y")
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "lone" -> "lone"))
  }

  test("keepOne keeps exactly the best-scored doc per cluster, ties to min id") {
    val docs = Seq(("a", 10L), ("b", 30L), ("c", 30L), ("lone", 1L))
      .toDF("doc_id", "score")
    val edges = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    val kept = Dedup.keepOne(docs, "doc_id", col("score"), edges, "x", "y")
      .select($"doc_id", $"comp", $"keep")
      .as[(String, String, Boolean)].collect().toSet
    // b and c tie on score 30 → b (smaller id) wins; lone is its own keeper
    assert(kept == Set(("a", "a", false), ("b", "a", true),
                       ("c", "a", false), ("lone", "lone", true)))
  }
}
