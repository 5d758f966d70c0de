package graft

import java.nio.file.Files

import graft.search.Ann

/** Incremental maintenance of the STORED IVF-PQ index — the serving
  * tier of the 100 TB ANN stack, which until this spec's operations
  * existed forced a full re-encode+rewrite on any batch arrival:
  *   - [[Ann.ivfPqAppendIndex]]: a new batch is assigned + PQ-encoded
  *     under the FROZEN centroids/codebooks and lands as per-cell
  *     appends; existing files are never rewritten, and stored probes
  *     answer exactly as a full rebuild over the union;
  *   - [[Ann.ivfRemoveFromIndex]] on the PQ layout: takedown rewrites ONLY the
  *     affected cells; untouched cells keep byte-identical files and a
  *     fully-emptied cell's directory disappears;
  *   - [[graft.io.Tables.compactPartitions]] on `cell`: merges append-era small files per
  *     cell; probes, partition pruning, and the codes-only ADC
  *     ReadSchema all survive.
  * Mirrors `IvfMaintenanceSpec`, but every equivalence check runs
  * through the PQ tier's OWN probe ([[Ann.ivfPqTopKStored]]) so the
  * scan/fetch split is exercised, not just the row inventory.
  */
class IvfPqMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 64
  private val m = 8

  // five well-separated clusters with small per-vector jitter (the
  // PqSpec corpus shape, extended past 60 ids for append batches)
  private def vec(i: Long): Seq[Float] =
    (0 until dims).map(d =>
      ((i % 5).toFloat - 2f) * ((d % 7) + 1) / 10f + i.toFloat / 1000f)

  private def mkEmb(ids: Seq[Long]) =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  // floor-mean codebooks per cluster over the quantized grid of the
  // BASE corpus only — appended batches are encoded under these same
  // frozen codebooks, which is the operation under test
  private val baseIds = 0L until 40L
  private lazy val codebooks: Seq[(Long, Seq[Long])] = (0L until 5L).map { g =>
    val members = baseIds.filter(_ % 5 == g).map(i => vec(i).map(Ann.quantizeL))
    (g, (0 until dims).map(d =>
      Math.floorDiv(members.map(_(d)).sum, members.size.toLong)))
  }

  private def qv(i: Long): Seq[Long] = vec(i).map(Ann.quantizeL)

  private def stored(path: String, q: Seq[Long], k: Int = 5,
                     nprobe: Int = 2): Seq[Seq[Any]] =
    Ann.ivfPqTopKStored(spark, path, "vec_id", "embedding",
                        codebooks, codebooks, q, k = k, nprobe = nprobe,
                        rerankFactor = 3, m = m, dims = dims)
      .collect().map(_.toSeq).toSeq

  private def inMem(ids: Seq[Long], q: Seq[Long], k: Int = 5,
                    nprobe: Int = 2): Seq[Seq[Any]] =
    Ann.ivfPqTopK(
      Ann.pqEncodeInt(Ann.ivfAssignInt(mkEmb(ids), "embedding", codebooks),
                      "vec_id", "embedding", codebooks, m, dims),
      "vec_id", "embedding", codebooks, codebooks, q,
      k = k, nprobe = nprobe, rerankFactor = 3, m = m, dims = dims)
      .collect().map(_.toSeq).toSeq

  /** The cells a stored probe at nprobe 2 reads over `ids`: more than
    * two when its best cells hold fewer than k rows ([[Ann.probeCells]]).
    */
  private def widened(ids: Seq[Long], q: Seq[Long], k: Int = 5): Int =
    Ann.probeCells(codebooks, q, 2, k,
      Ann.ivfAssignInt(mkEmb(ids), "embedding", codebooks)
        .groupBy($"cell").count().as[(Long, Long)].collect().toMap).size

  private def writeBase(path: String): Unit =
    Ann.ivfPqWriteIndex(mkEmb(baseIds), "vec_id", "embedding",
                        codebooks, codebooks, path, m, dims)

  test("append: frozen-codebook encode, existing files untouched, probes equal rebuild over union") {
    val path = Files.createTempDirectory("graft_ivfpq_app").toString + "/index"
    writeBase(path)
    val before = snapshot(path)

    Ann.ivfPqAppendIndex(mkEmb(40L until 60L), "vec_id", "embedding",
                         codebooks, codebooks, path, m, dims)
    val after = snapshot(path)
    before.foreach { case (rel, len) =>
      assert(after.get(rel).contains(len),
             s"append rewrote or dropped existing file $rel")
    }
    assert(after.size > before.size, "append must add files")

    val union = (0L until 60L).toSeq
    // probe from several clusters so every appended cell is exercised
    Seq(0L, 7L, 13L, 24L).foreach { qi =>
      assert(stored(path, qv(qi)) == inMem(union, qv(qi)),
             s"appended index must answer query $qi exactly as a rebuild")
    }
    // the stored probe's plan discipline survives the append: pruning
    // on both tiers, ADC scan reads codes not vectors
    val plan = planText(Ann.ivfPqTopKStored(spark, path, "vec_id", "embedding",
                                            codebooks, codebooks, qv(0L),
                                            k = 5, nprobe = 2, rerankFactor = 3,
                                            m = m, dims = dims))
    val prunedScans = plan.linesIterator.count(l =>
      l.contains("PartitionFilters") && l.contains("cell") && l.contains("IN"))
    assert(prunedScans >= 2,
           s"both stored scans must prune after append (found $prunedScans)")
    val scanSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scanSchemas.exists(l => l.contains("c0") && !l.contains("embedding")),
           s"ADC scan must still read codes, not vectors:\n${scanSchemas.mkString("\n")}")
  }

  test("remove: only affected cells rewritten, emptied cell directory disappears") {
    val path = Files.createTempDirectory("graft_ivfpq_rm").toString + "/index"
    val ids = 0L until 60L
    Ann.ivfPqWriteIndex(mkEmb(ids), "vec_id", "embedding",
                        codebooks, codebooks, path, m, dims)
    val byCell = Ann.ivfAssignInt(mkEmb(ids), "embedding", codebooks)
      .select($"vec_id", $"cell").as[(Long, Long)]
      .collect().groupBy(_._2).view.mapValues(_.map(_._1).toSeq.sorted).toMap
    val emptiedCell = byCell.minBy { case (c, v) => (v.size, c) }._1
    val trimmedCell = byCell.maxBy { case (c, v) => (v.size, c) }._1
    val removedIds = byCell(emptiedCell) ++ byCell(trimmedCell).take(2)
    val removals = removedIds.map { id =>
      (id, byCell.collectFirst { case (c, v) if v.contains(id) => c }.get)
    }.toDF("vec_id", "cell")
    val before = snapshot(path)

    Ann.ivfRemoveFromIndex(spark, path, removals, "vec_id")

    assert(!new java.io.File(s"$path/cell=$emptiedCell").exists,
           "fully-emptied cell directory must be deleted")
    val after = snapshot(path)
    val untouched = before.keySet.filterNot(r =>
      r.contains(s"cell=$emptiedCell") || r.contains(s"cell=$trimmedCell"))
    untouched.foreach { rel =>
      assert(after.get(rel) == before.get(rel),
             s"untouched cell file $rel must keep its exact bytes")
    }
    val kept = ids.filterNot(removedIds.contains)
    Seq(0L, 7L, 13L).foreach { qi =>
      assert(stored(path, qv(qi)) == inMem(kept, qv(qi), nprobe = widened(kept, qv(qi))),
             s"index after removal must answer query $qi as a rebuild over kept rows")
    }
  }

  test("compact: appended small files merge per cell, probes and plan discipline unchanged") {
    val path = Files.createTempDirectory("graft_ivfpq_cmp").toString + "/index"
    writeBase(path)
    Ann.ivfPqAppendIndex(mkEmb(40L until 60L), "vec_id", "embedding",
                         codebooks, codebooks, path, m, dims)
    Ann.ivfPqAppendIndex(mkEmb(60L until 80L), "vec_id", "embedding",
                         codebooks, codebooks, path, m, dims)
    val beforeProbe = Seq(0L, 7L, 13L).map(qi => stored(path, qv(qi)))
    val beforeFiles = snapshot(path).size

    val (nBefore, nAfter) = graft.io.Tables.compactPartitions(spark, path, "cell")
    assert(nBefore == beforeFiles, s"compaction saw $nBefore of $beforeFiles files")
    assert(nAfter < nBefore, s"compaction must shrink file count, $nBefore -> $nAfter")
    assert(snapshot(path).size == nAfter)

    assert(Seq(0L, 7L, 13L).map(qi => stored(path, qv(qi))) == beforeProbe,
           "compaction must not change probe results")
    val plan = planText(Ann.ivfPqTopKStored(spark, path, "vec_id", "embedding",
                                            codebooks, codebooks, qv(0L),
                                            k = 5, nprobe = 2, rerankFactor = 3,
                                            m = m, dims = dims))
    val prunedScans = plan.linesIterator.count(l =>
      l.contains("PartitionFilters") && l.contains("cell") && l.contains("IN"))
    assert(prunedScans >= 2,
           s"pruning must survive compaction on both tiers (found $prunedScans)")
    val scanSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scanSchemas.exists(l => l.contains("c0") && !l.contains("embedding")),
           s"codes-only ADC scan must survive compaction:\n${scanSchemas.mkString("\n")}")
  }

  test("batch stored probe: each query's rows equal its single probe; pruned codes-only scans") {
    val path = Files.createTempDirectory("graft_ivfpq_batch").toString + "/index"
    writeBase(path)
    val qids = Seq(0L, 7L, 13L, 24L)
    val queries = qids.map(i => (i, qv(i)))
    val batchDf = Ann.ivfPqTopKBatchStored(spark, path, "vec_id", "embedding",
      codebooks, codebooks, queries, k = 5, nprobe = 2, rerankFactor = 3,
      m = m, dims = dims)
    def key(r: Seq[Any]) = (r.last.asInstanceOf[Long], r.head.asInstanceOf[Long])
    val batch = batchDf.collect().map(_.toSeq).toSeq
      .groupBy(_.head.asInstanceOf[Long])
      .view.mapValues(_.map(_.tail).sortBy(key)).toMap
    qids.foreach { qi =>
      val single = stored(path, qv(qi)).sortBy(key)
      assert(batch(qi) == single,
             s"batch rows for query $qi must equal its single probe:\n" +
             s"${batch(qi)}\n$single")
    }
    // plan discipline survives batching: both tiers prune, the ADC
    // tier reads codes and never the vector column
    val plan = batchDf.queryExecution.executedPlan.toString
    val prunedScans = plan.linesIterator.count(l =>
      l.contains("PartitionFilters") && l.contains("cell") && l.contains("IN"))
    assert(prunedScans >= 2,
           s"batched scans must prune (found $prunedScans)")
    val scanSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scanSchemas.exists(l => l.contains("c0") && !l.contains("embedding")),
           s"batched ADC scan must read codes, not vectors:\n${scanSchemas.mkString("\n")}")
  }

  test("full lifecycle: build → append ×3 → split → append → compact → remove, probes exact at every step") {
    // one index walks every maintenance op in sequence, with the
    // stored probe checked against an in-memory rebuild after each
    // step. ORTHOGONAL one-hot clusters (assignment = i%5 exactly);
    // cluster 4's members carry a ±0.4 bump on dims 62/63 — two
    // internally-identical angular subgroups, so its cell splits
    // cleanly and the split's children keep serving appends.
    // Full-coverage probes compare (id, adc, d2) — the routing cell
    // moves across a split by design; ADC (codebooks) and the exact
    // re-rank never do.
    val path = Files.createTempDirectory("graft_ivfpq_life").toString + "/index"
    val bcents: Seq[(Long, Seq[Long])] = (0L until 5L).map { c =>
      (c, (0 until dims).map(d => if (d == 8 * c) 1000L else 0L))
    }
    def bvec(i: Long): Seq[Float] = (0 until dims).map { d =>
      (if (d == 8 * (i % 5)) 1f else 0f) +
      (if (i % 5 == 4 && d == (if (i % 10 < 5) 62 else 63)) 0.4f else 0f)
    }
    def bemb(ids: Seq[Long]) = ids.map(i => (i, bvec(i))).toDF("vec_id", "embedding")
    def bq(i: Long): Seq[Long] = bvec(i).map(Ann.quantizeL)
    def inMemB(ids: Seq[Long], q: Seq[Long]): Seq[(Long, Long, Long)] =
      Ann.ivfPqTopK(
        Ann.pqEncodeInt(Ann.ivfAssignInt(bemb(ids), "embedding", bcents),
                        "vec_id", "embedding", bcents, m, dims),
        "vec_id", "embedding", bcents, bcents, q,
        k = 5, nprobe = 5, rerankFactor = 3, m = m, dims = dims)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    var cents = bcents
    var live: Seq[Long] = Seq.empty
    def checkExact(label: String): Unit = Seq(0L, 3L, 4L, 9L).foreach { qi =>
      val got = Ann.ivfPqTopKStored(spark, path, "vec_id", "embedding",
          cents, bcents, bq(qi), k = 5, nprobe = cents.size,
          rerankFactor = 3, m = m, dims = dims)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
      assert(got == inMemB(live, bq(qi)), s"$label: query $qi diverged")
    }

    Ann.ivfPqWriteIndex(bemb(0L until 40L), "vec_id", "embedding",
                        bcents, bcents, path, m, dims)
    live = (0L until 40L).toSeq
    checkExact("build")

    Seq(40L until 60L, 60L until 80L, 80L until 100L).foreach { r =>
      Ann.ivfPqAppendIndex(bemb(r), "vec_id", "embedding", cents, bcents,
                           path, m, dims)
      live = (0L until r.end).toSeq
      checkExact(s"append ${r.head}..${r.end}")
    }

    cents = Ann.ivfSplitCell(spark, path, cents, cell = 4L,
                             "vec_id", "embedding", dims = dims)
    assert(cents.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 5L, 6L))
    checkExact("split")

    // append AFTER the split: newcomers route under the UPDATED
    // centroid list — cluster-4 arrivals must land in the children,
    // never resurrect the retired cell id
    Ann.ivfPqAppendIndex(bemb(100L until 120L), "vec_id", "embedding",
                         cents, bcents, path, m, dims)
    live = (0L until 120L).toSeq
    checkExact("append post-split")
    assert(!new java.io.File(s"$path/cell=4").exists,
           "a retired cell id must not resurrect on append")

    val (nb, na) = graft.io.Tables.compactPartitions(spark, path, "cell")
    assert(na < nb, s"compaction must shrink files, $nb -> $na")
    checkExact("compact")

    val removedIds = Seq(4L, 9L, 14L, 57L, 104L)
    val removals = spark.read.parquet(path)
      .select($"vec_id", $"cell".cast("long").as("cell"))
      .filter($"vec_id".isin(removedIds: _*))
      .localCheckpoint(true)
    Ann.ivfRemoveFromIndex(spark, path, removals, "vec_id")
    live = live.filterNot(removedIds.contains)
    checkExact("remove")
  }

  test("hot-cell split serves the PQ form too: codes ride along, probes exact under new centroids") {
    // the SAME maintenance op as the plain index: codes c0..c7 are
    // cell-independent, so they survive the re-assignment untouched.
    // ANGULAR jitter on dim0 gives cell 4 two separable subgroups —
    // the base vec()'s uniform magnitude jitter is collinear, which
    // max-dot cannot split (the guard test in IvfMaintenanceSpec)
    val path = Files.createTempDirectory("graft_ivfpq_split").toString + "/index"
    def jvec(i: Long): Seq[Float] =
      (0 until dims).map { d =>
        val base = ((i % 5).toFloat - 2f) * ((d % 7) + 1) / 10f
        if (d == 0) base + (if (i % 10 < 5) 0.3f else -0.3f) else base
      }
    val jemb = baseIds.map(i => (i, jvec(i))).toDF("vec_id", "embedding")
    Ann.ivfPqWriteIndex(jemb, "vec_id", "embedding", codebooks, codebooks,
                        path, m, dims)
    val exactPre = Seq(0L, 7L, 13L).map { qi =>
      stored(path, qv(qi), k = 5, nprobe = 5) // full coverage: 5 cells
    }
    val before = snapshot(path)
    val updated = Ann.ivfSplitCell(spark, path, codebooks, cell = 4L,
                                   "vec_id", "embedding", dims = dims)
    assert(updated.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 5L, 6L))
    // untouched cells byte-identical; codes column set unchanged
    val after = snapshot(path)
    before.filterNot(_._1.startsWith("cell=4/")).foreach { case (rel, len) =>
      assert(after.get(rel).contains(len),
             s"untouched cell file $rel must keep its exact bytes")
    }
    assert(spark.read.parquet(path).columns.count(_.startsWith("c")) >= m,
           "PQ code columns must survive the split")
    // the PQ probe under the UPDATED centroid list (codebooks frozen —
    // a split changes routing, never encoding) answers exactly as
    // before at full coverage
    val exactPost = Seq(0L, 7L, 13L).map { qi =>
      Ann.ivfPqTopKStored(spark, path, "vec_id", "embedding",
                          updated, codebooks, qv(qi), k = 5, nprobe = 6,
                          rerankFactor = 3, m = m, dims = dims)
        .collect().map(_.toSeq).toSeq
    }
    // compare ids + distances, not the routing cell column (rows moved)
    def idsAndD2(rows: Seq[Seq[Any]]) = rows.map(r => (r.head, r.last))
    exactPre.zip(exactPost).foreach { case (pre, post) =>
      assert(idsAndD2(pre) == idsAndD2(post),
             s"split must not change exact results:\n$pre\n$post")
    }
  }
}
