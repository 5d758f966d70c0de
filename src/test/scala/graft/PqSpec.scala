package graft

import graft.search.Ann

/** Product quantization (q78/q79): encode correctness against a
  * driver-side argmin recomputation, ADC score exactness, and
  * cluster-level retrieval quality of the compressed scan.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 64
  private val m = 8
  private val subDim = dims / m

  // five well-separated clusters with small per-vector jitter
  private lazy val vecs: Seq[(Long, Seq[Float])] = (0L until 60L).map { i =>
    (i, (0 until dims).map(d =>
      ((i % 5).toFloat - 2f) * ((d % 7) + 1) / 10f + i.toFloat / 1000f))
  }
  private lazy val emb = vecs.toDF("vec_id", "embedding")

  // floor-mean codebooks per cluster over the quantized grid — the
  // same derivation as Pipeline.labelCentroids
  private lazy val codebooks: Seq[(Long, Seq[Long])] = (0L until 5L).map { g =>
    val members = vecs.filter(_._1 % 5 == g).map(_._2.map(Ann.quantizeL))
    (g, (0 until dims).map(d =>
      Math.floorDiv(members.map(_(d)).sum, members.size.toLong)))
  }

  private def subD2(x: Seq[Long], c: Seq[Long], sub: Int): Long =
    (sub * subDim until (sub + 1) * subDim)
      .map(d => (x(d) - c(d)) * (x(d) - c(d))).sum

  test("pqEncodeInt: every code is the exact integer argmin, ties to min id") {
    val got = Ann.pqEncodeInt(emb, "vec_id", "embedding", codebooks)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (0 until m).map(s => r.getAs[Long](s"c$s"))).toMap
    assert(got.size == 60)
    vecs.foreach { case (id, v) =>
      val x = v.map(Ann.quantizeL)
      val expect = (0 until m).map { sub =>
        codebooks.map { case (cid, c) => (subD2(x, c, sub), cid) }.min._2
      }
      assert(got(id) == expect, s"vec $id: ${got(id)} vs $expect")
    }
  }

  test("pqAdcTopK: scores equal the summed distance-table entries, exactly") {
    val qv = vecs.head._2.map(Ann.quantizeL)
    val encoded = Ann.pqEncodeInt(emb, "vec_id", "embedding", codebooks)
    val got = Ann.pqAdcTopK(encoded, "vec_id", codebooks, qv, k = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val codes = encoded.collect().map(r =>
      r.getAs[Long]("vec_id") -> (0 until m).map(s => r.getAs[Long](s"c$s"))).toMap
    val cb = codebooks.toMap
    val expect = codes.map { case (id, cs) =>
      id -> (0 until m).map(s => subD2(qv, cb(cs(s)), s)).sum
    }
    got.foreach { case (id, adc) =>
      assert(adc == expect(id), s"vec $id adc $adc vs ${expect(id)}")
    }
    // ascending with id tie-break
    assert(got.sortBy(r => (r._2, r._1)).toSeq == got.toSeq)
  }

  test("ivfPqTopK: prune → ADC → exact re-rank equals a step-by-step recomputation") {
    val qv = vecs.head._2.map(Ann.quantizeL)
    val indexed = Ann.pqEncodeInt(
      Ann.ivfAssignInt(emb, "embedding", codebooks), "vec_id", "embedding", codebooks)
    val got = Ann.ivfPqTopK(indexed, "vec_id", "embedding", codebooks, codebooks,
                            qv, k = 5, nprobe = 2, rerankFactor = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val cb = codebooks.toMap
    val xs = vecs.map { case (id, v) => id -> v.map(Ann.quantizeL) }.toMap
    def dot(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => x * y }.sum
    // assignment ties pick the HIGHEST cell (ivfAssignInt's struct max)
    val cells = xs.map { case (id, x) =>
      id -> codebooks.map { case (cid, c) => (dot(x, c), cid) }.max._2
    }
    val probes = codebooks.map { case (cid, c) => (dot(qv, c), cid) }
      .sortBy(t => (-t._1, -t._2)).take(2).map(_._2).toSet
    val codes = xs.map { case (id, x) =>
      id -> (0 until m).map(sub =>
        codebooks.map { case (cid, c) => (subD2(x, c, sub), cid) }.min._2)
    }
    val adc = xs.keys.toSeq.filter(id => probes(cells(id))).map { id =>
      (id, (0 until m).map(s => subD2(qv, cb(codes(id)(s)), s)).sum)
    }
    val cut = adc.sortBy(t => (t._2, t._1)).take(15)
    val expect = cut.map { case (id, a) =>
      (id, cells(id), a,
       qv.zip(xs(id)).map { case (qq, x) => (x - qq) * (x - qq) }.sum)
    }.sortBy(t => (t._4, t._1)).take(5)
    assert(got.toSeq == expect, s"${got.toSeq} vs $expect")
  }

  test("ADC scan resolves cluster structure: top-k stays in the query's cluster") {
    val qv = vecs.head._2.map(Ann.quantizeL) // vector 0, cluster 0
    val encoded = Ann.pqEncodeInt(emb, "vec_id", "embedding", codebooks)
    val top = Ann.pqAdcTopK(encoded, "vec_id", codebooks, qv, k = 10)
      .collect().map(_.getLong(0))
    assert(top.length == 10)
    assert(top.forall(_ % 5 == 0), s"ADC top-10 must be cluster 0: ${top.toSeq}")
    // and it agrees with the exact integer L2 ranking at cluster level
    val exact = vecs.map { case (id, v) =>
      val x = v.map(Ann.quantizeL)
      (id, (0 until dims).map(d => (x(d) - qv(d)) * (x(d) - qv(d))).sum)
    }.sortBy(r => (r._2, r._1)).take(10).map(_._1)
    assert(top.toSet.intersect(exact.toSet).size >= 8,
           s"ADC vs exact overlap too low: ${top.toSeq} vs $exact")
  }

  test("stored IVF-PQ probe ≡ in-memory; ADC scan reads codes not vectors; cells prune") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString + "/index"
    Ann.ivfPqWriteIndex(emb, "vec_id", "embedding", codebooks, codebooks, path)
    val qv = vecs(7)._2.map(Ann.quantizeL)
    val stored = Ann.ivfPqTopKStored(spark, path, "vec_id", "embedding",
                                     codebooks, codebooks, qv,
                                     k = 5, nprobe = 2, rerankFactor = 3)
    val inMem = Ann.ivfPqTopK(
      Ann.pqEncodeInt(Ann.ivfAssignInt(emb, "embedding", codebooks),
                      "vec_id", "embedding", codebooks),
      "vec_id", "embedding", codebooks, codebooks, qv,
      k = 5, nprobe = 2, rerankFactor = 3)
    assert(stored.collect().map(_.toSeq).toSeq == inMem.collect().map(_.toSeq).toSeq,
           "stored probe must equal the in-memory composition")

    val plan = planText(Ann.ivfPqTopKStored(spark, path, "vec_id", "embedding",
                                            codebooks, codebooks, qv,
                                            k = 5, nprobe = 2, rerankFactor = 3))
    // BOTH scans (ADC stage and re-rank fetch) prune to the probed
    // cells — a single match would let one tier full-scan silently
    val prunedScans = plan.linesIterator.count(l =>
      l.contains("PartitionFilters") && l.contains("cell") && l.contains("IN"))
    assert(prunedScans >= 2,
           s"both stored scans must prune partitions (found $prunedScans): " +
             plan.take(3000))
    // the ADC stage's FileScan must not read the vector column
    val scanSchemas = plan.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(scanSchemas.exists(l => l.contains("c0") && !l.contains("embedding")),
           s"ADC scan must read codes, not vectors:\n${scanSchemas.mkString("\n")}")
    assert(scanSchemas.exists(_.contains("embedding")),
           s"re-rank fetch must read the vector column:\n${scanSchemas.mkString("\n")}")
  }
}
