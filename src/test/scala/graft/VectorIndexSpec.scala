package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.search.{Ann, VectorIndex}

/** The store's vector-index lifecycle layer ([[VectorIndex]]) — the
  * pieces the e2e driver test doesn't isolate:
  *   - the sidecar round-trip (quantizers must reload bit-for-bit —
  *     probes and appends under drifted quantizers would silently
  *     diverge from the index's layout);
  *   - reconcile as a SELF-HEALING diff: any divergence between the
  *     index and the store slice (missing rows, orphan rows, a
  *     half-applied earlier maintenance) converges in one pass, and a
  *     converged pass is a no-op byte-for-byte;
  *   - the emptied-index edge (all rows reconciled away, then data
  *     returns).
  */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 64
  private val m = 8

  // orthogonal one-hot clusters: assignment = i%5 exactly (collinear
  // fixtures collapse under max-dot — see IvfMaintenanceSpec)
  private val cents: Seq[(Long, Seq[Long])] = (0L until 5L).map { c =>
    (c, (0 until dims).map(d => if (d == 8 * c) 1000L else 0L))
  }
  private def vec(i: Long): Seq[Float] =
    (0 until dims).map(d => (if (d == 8 * (i % 5)) 1f else 0f) +
      ((i * 31 + d * 17) % 13 - 6).toFloat / 1000f)
  private def slice(ids: Seq[Long]) =
    ids.map(i => (s"c$i", vec(i))).toDF("chunk_id", "embedding")
  private def meta = VectorIndex.Meta("nomic", m, dims, 8, 8, 50, 2, cents, cents)

  private def newIdx(): String = {
    val path = Files.createTempDirectory("graft_vidx").toString + "/vector.idx"
    VectorIndex.writeMeta(path, meta)
    path
  }

  private def indexIds(path: String): Set[String] =
    if (!VectorIndex.hasCells(path)) Set.empty
    else spark.read.parquet(path).select($"chunk_id").as[String].collect().toSet

  test("sidecar round-trips quantizers bit-for-bit; provider charset guarded at write") {
    val path = newIdx()
    val got = VectorIndex.readMeta(path)
    assert(got == meta)
    // empty codebook lists survive the round-trip too
    VectorIndex.writeMeta(path, meta.copy(centroids = Seq.empty))
    assert(VectorIndex.readMeta(path) ==
           meta.copy(centroids = Seq.empty))
    // a provider name that would need JSON escaping fails at WRITE time
    val e = intercept[IllegalArgumentException](
      VectorIndex.writeMeta(path, meta.copy(provider = """a"b""")))
    assert(e.getMessage.contains("provider"))
    // dims/m mismatch fails loudly before any probe can mis-slice
    val e2 = intercept[IllegalArgumentException](
      VectorIndex.writeMeta(path, meta.copy(m = 7)))
    assert(e2.getMessage.contains("subspaces"))
  }

  test("reconcile from empty builds, converged reconcile is a byte-level no-op") {
    val path = newIdx()
    val ids = (0L until 30L).toSeq
    val (nAdd, nRm) = VectorIndex.reconcile(spark, path, slice(ids),
                                            "chunk_id", "embedding")
    assert((nAdd, nRm) == (30L, 0L))
    assert(indexIds(path) == ids.map(i => s"c$i").toSet)
    val before = snapshot(path)
    val (a2, r2) = VectorIndex.reconcile(spark, path, slice(ids),
                                         "chunk_id", "embedding")
    assert((a2, r2) == (0L, 0L))
    assert(snapshot(path) == before, "a converged reconcile must not rewrite files")
  }

  test("reconcile heals ANY divergence: orphans leave, missing rows arrive, probes exact") {
    val path = newIdx()
    val ids = (0L until 30L).toSeq
    VectorIndex.reconcile(spark, path, slice(ids), "chunk_id", "embedding")
    // diverge the index by hand BOTH ways: append orphan rows the
    // store never had (the half-applied-append crash shape) and
    // remove legitimate rows (the half-applied-remove shape)
    Ann.ivfPqAppendIndex(slice(Seq(100L, 101L)), "chunk_id", "embedding",
                         cents, cents, path, m, dims)
    val victims = spark.read.parquet(path)
      .select($"chunk_id", $"cell".cast("long").as("cell"))
      .filter($"chunk_id".isin("c3", "c7"))
      .localCheckpoint(true)
    Ann.ivfRemoveFromIndex(spark, path, victims, "chunk_id")
    assert(indexIds(path) != ids.map(i => s"c$i").toSet, "fixture must diverge")

    val (nAdd, nRm) = VectorIndex.reconcile(spark, path, slice(ids),
                                            "chunk_id", "embedding")
    assert((nAdd, nRm) == (2L, 2L), s"got ($nAdd, $nRm)")
    assert(indexIds(path) == ids.map(i => s"c$i").toSet)
    // healed index answers exactly as a fresh build over the slice
    val q = vec(3L).map(Ann.quantizeL)
    val healed = VectorIndex.topK(spark, path, VectorIndex.readMeta(path),
                                  "chunk_id", "embedding", q, k = 5, nprobe = 5)
      .collect().map(_.toSeq).toSeq
    val fresh = Files.createTempDirectory("graft_vidx_fresh").toString + "/vector.idx"
    Ann.ivfPqWriteIndex(slice(ids), "chunk_id", "embedding", cents, cents,
                        fresh, m, dims)
    VectorIndex.writeMeta(fresh, meta)
    val rebuilt = VectorIndex.topK(spark, fresh, VectorIndex.readMeta(fresh),
                                   "chunk_id", "embedding", q, k = 5, nprobe = 5)
      .collect().map(_.toSeq).toSeq
    assert(healed == rebuilt)
  }

  test("reconcile to an empty slice empties the index; data returning rebuilds it") {
    val path = newIdx()
    val ids = (0L until 10L).toSeq
    VectorIndex.reconcile(spark, path, slice(ids), "chunk_id", "embedding")
    val (a1, r1) = VectorIndex.reconcile(spark, path, slice(Seq.empty),
                                         "chunk_id", "embedding")
    assert((a1, r1) == (0L, 10L))
    assert(!VectorIndex.hasCells(path), "emptied index must have no cell dirs")
    // probing an emptied index fails loudly rather than returning a
    // silent empty set from a schema-less read
    intercept[IllegalArgumentException](
      VectorIndex.topK(spark, path, VectorIndex.readMeta(path), "chunk_id",
                       "embedding", vec(0L).map(Ann.quantizeL), k = 3))
    // the store refills: reconcile rebuilds from the no-cells state
    val (a2, r2) = VectorIndex.reconcile(spark, path, slice(ids),
                                         "chunk_id", "embedding")
    assert((a2, r2) == (10L, 0L))
    assert(indexIds(path) == ids.map(i => s"c$i").toSet)
  }

  test("a probe whose best cells hold fewer than k rows widens in rank order until k rows come back") {
    // two rows per cell; nprobe 1 reads one cell
    val path = newIdx()
    VectorIndex.reconcile(spark, path, slice(0L until 10L), "chunk_id", "embedding")
    val q = vec(3L).map(Ann.quantizeL)
    def probe(k: Int): Seq[(String, Long)] =
      VectorIndex.topK(spark, path, VectorIndex.readMeta(path), "chunk_id", "embedding",
                       q, k = k, nprobe = 1)
        .select($"chunk_id", $"cell").as[(String, Long)].collect().toSeq
    // the best cell holds k rows: it is the only cell read
    assert(probe(2).map(_._1).toSet == Set("c3", "c8"))
    // it does not: the next cells in rank order join until k rows do
    val wide = probe(5)
    assert(wide.size == 5, s"a 5-row request over 10 rows got $wide")
    assert(wide.take(2).map(_._1).toSet == Set("c3", "c8"), s"nearest first: $wide")
    assert(wide.map(_._2).distinct.size == 3, s"three cells hold 5 rows: $wide")
    // more than the index holds: every cell, every row
    assert(probe(50).map(_._1).toSet == (0L until 10L).map(i => s"c$i").toSet)
  }
}
