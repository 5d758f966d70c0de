package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.search.Ann

/** Incremental maintenance of the stored IVF index — the operations a
  * 100 TB corpus needs between rebuilds:
  *   - [[Ann.ivfAppendIndex]]: a new batch lands as per-cell appends;
  *     existing files are never rewritten, and probes answer exactly
  *     as a full rebuild over the union (assignment is deterministic
  *     under fixed centroids);
  *   - [[Ann.ivfRemoveFromIndex]]: dedup demotion / takedown rewrites
  *     ONLY the affected cells (per-cell aside-rename swap); untouched
  *     cells keep byte-identical files, and a fully-emptied cell's
  *     directory disappears (the dynamic-partition-overwrite leftover
  *     bug is the documented trap).
  */
class IvfMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8
  private def vec(i: Long): Seq[Float] =
    (0 until dims).map(d => ((i % 5).toFloat - 2f) * (d + 1) / 10f)
  private val centroids: Seq[(Long, Seq[Long])] = (0L until 5L).map { c =>
    (c, (0 until dims).map(d => (c - 2L) * (d + 1) * 100L))
  }
  private val qv: Seq[Long] = (0 until dims).map(d => 150L * (d + 1))

  private def mkEmb(ids: Seq[Long]) =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def probeAll(path: String, ids: Seq[Long]): Seq[(Long, Long, Long)] =
    Ann.ivfTopKStoredInt(spark, path, "vec_id", "embedding",
                         centroids, qv, k = ids.size.max(1), nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def inMem(ids: Seq[Long]): Seq[(Long, Long, Long)] =
    Ann.ivfTopKInt(Ann.ivfAssignInt(mkEmb(ids), "embedding", centroids),
                   "vec_id", "embedding", centroids, qv,
                   k = ids.size.max(1), nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("append: existing files untouched, probes equal a full rebuild over the union") {
    val path = Files.createTempDirectory("graft_ivf_app").toString + "/index"
    val baseIds = 0L until 40L
    Ann.ivfWriteIndex(
      Ann.ivfAssignInt(mkEmb(baseIds), "embedding", centroids), path)
    val before = snapshot(path)

    Ann.ivfAppendIndex(mkEmb(40L until 60L), "embedding", centroids, path)
    val after = snapshot(path)
    before.foreach { case (rel, len) =>
      assert(after.get(rel).contains(len),
             s"append rewrote or dropped existing file $rel")
    }
    assert(after.size > before.size, "append must add files")

    val union = (0L until 60L).toSeq
    assert(probeAll(path, union) == inMem(union),
           "appended index must answer exactly as a rebuild over the union")
    // narrow probe still partition-prunes after the append
    val plan = Ann.ivfTopKStoredInt(spark, path, "vec_id", "embedding",
                                    centroids, qv, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*IN.*"),
           "cell probe must prune partitions: " + plan.take(3000))
  }

  test("remove: only affected cells rewritten, emptied cell directory disappears") {
    val path = Files.createTempDirectory("graft_ivf_rm").toString + "/index"
    val ids = 0L until 60L
    val assigned = Ann.ivfAssignInt(mkEmb(ids), "embedding", centroids)
    Ann.ivfWriteIndex(assigned, path)
    val byCell = assigned.select($"vec_id", $"cell").as[(Long, Long)]
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
    assert(!new java.io.File(s"$path.tmp").exists && snapshot(path).keySet
             .forall(!_.contains(".trash")), "no tmp/trash leftovers")
    val after = snapshot(path)
    val untouched = before.keySet.filterNot(r =>
      r.contains(s"cell=$emptiedCell") || r.contains(s"cell=$trimmedCell"))
    untouched.foreach { rel =>
      assert(after.get(rel) == before.get(rel),
             s"untouched cell file $rel must keep its exact bytes")
    }
    val kept = ids.filterNot(removedIds.contains)
    assert(probeAll(path, kept) == inMem(kept),
           "index after removal must answer exactly as a rebuild over the kept rows")
  }

  test("compact: appended small files merge per cell, probes and pruning unchanged") {
    val path = Files.createTempDirectory("graft_ivf_cmp").toString + "/index"
    Ann.ivfWriteIndex(
      Ann.ivfAssignInt(mkEmb(0L until 20L), "embedding", centroids), path)
    Ann.ivfAppendIndex(mkEmb(20L until 40L), "embedding", centroids, path)
    Ann.ivfAppendIndex(mkEmb(40L until 60L), "embedding", centroids, path)
    val ids = (0L until 60L).toSeq
    val beforeProbe = probeAll(path, ids)
    val beforeFiles = snapshot(path).size

    val (nBefore, nAfter) = graft.io.Tables.compactPartitions(spark, path, "cell")
    assert(nBefore == beforeFiles, s"compaction saw $nBefore of $beforeFiles files")
    assert(nAfter < nBefore, s"compaction must shrink file count, $nBefore -> $nAfter")
    assert(snapshot(path).size == nAfter)

    assert(probeAll(path, ids) == beforeProbe,
           "compaction must not change probe results")
    val plan = Ann.ivfTopKStoredInt(spark, path, "vec_id", "embedding",
                                    centroids, qv, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*IN.*"),
           "pruning must survive compaction: " + plan.take(3000))
  }

  test("hot-cell split: fresh child ids, one dir swapped, exact results preserved") {
    // cell 4 (the max-dot winner for vec(i%5==4)) gets split in two;
    // probes under the RETURNED centroid list must keep answering
    // exactly (the full-scan nprobe covers every cell, so the result
    // set must be byte-for-byte the pre-split one)
    val path = Files.createTempDirectory("graft_ivf_split").toString + "/index"
    val ids = 0L until 40L
    // jittered fixture: cell 4's members form TWO ANGULARLY distinct
    // subgroups (dim0 ± 0.3 — a collinear magnitude jitter would not
    // split under max-dot assignment, and the shared vec() gives every
    // member an identical vector, which cannot split at all)
    def jvec(i: Long): Seq[Float] =
      (0 until dims).map { d =>
        val base = ((i % 5).toFloat - 2f) * (d + 1) / 10f
        if (d == 0) base + (if (i % 10 < 5) 0.3f else -0.3f) else base
      }
    val jemb = ids.map(i => (i, jvec(i))).toDF("vec_id", "embedding")
    Ann.ivfWriteIndex(
      Ann.ivfAssignInt(jemb, "embedding", centroids), path)
    val before = snapshot(path)
    val preRows = spark.read.parquet(path).count()
    val pre = probeAll(path, ids).map(r => (r._1, r._3)).sortBy(_._1)

    val updated = Ann.ivfSplitCell(spark, path, centroids, cell = 4L,
                                   "vec_id", "embedding")
    // id accounting: 4 is gone, children are fresh 5 and 6
    assert(!updated.exists(_._1 == 4L), updated.map(_._1).toString)
    assert(updated.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 5L, 6L),
           updated.map(_._1).toString)
    // only cell 4's directory was touched; its rows moved, none lost
    val after = snapshot(path)
    before.filterNot(_._1.startsWith("cell=4/")).foreach { case (rel, len) =>
      assert(after.get(rel).contains(len),
             s"untouched cell file $rel must keep its exact bytes")
    }
    assert(!new java.io.File(s"$path/cell=4").exists, "split cell dir must go")
    assert(new java.io.File(s"$path/cell=5").exists &&
           new java.io.File(s"$path/cell=6").exists, "child dirs must appear")
    assert(spark.read.parquet(path).count() == preRows)
    // probes under the returned centroids: same ids, same exact dots
    val post = Ann.ivfTopKStoredInt(spark, path, "vec_id", "embedding",
                                    updated, qv, k = ids.size, nprobe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(post == pre, s"split must not change exact results:\n$pre\n$post")
    // a cell id not in the centroid list fails loudly
    val e = intercept[IllegalArgumentException](
      Ann.ivfSplitCell(spark, path, updated, cell = 99L, "vec_id", "embedding"))
    assert(e.getMessage.contains("unknown cell"))
  }

  test("split guards: a 1-row cell and an unsplittable cell both fail loudly, index untouched") {
    // mini index: id 0 (negative direction → cell 0) and id 4
    // (positive → cell 4) — cell 4 is a true singleton (a 0..4 range
    // would NOT give one: max-dot routes every positive-direction
    // vector to the largest-magnitude centroid, so ids 2,3,4 all land
    // in cell 4)
    val p1 = Files.createTempDirectory("graft_ivf_split1").toString + "/index"
    Ann.ivfWriteIndex(
      Ann.ivfAssignInt(mkEmb(Seq(0L, 4L)), "embedding", centroids), p1)
    val before1 = snapshot(p1)
    val e1 = intercept[IllegalArgumentException](
      Ann.ivfSplitCell(spark, p1, centroids, cell = 4L, "vec_id", "embedding"))
    assert(e1.getMessage.contains("need at least"), e1.getMessage)
    assert(snapshot(p1) == before1, "failed split must leave the index as-is")
    // ids 4 and 9 share cell 4 with IDENTICAL vectors (vec() depends
    // only on i%5): the trained children cannot separate them — the
    // phantom-empty-child degeneracy must fail loudly, not report a
    // successful no-op split
    val p2 = Files.createTempDirectory("graft_ivf_split2").toString + "/index"
    Ann.ivfWriteIndex(
      Ann.ivfAssignInt(mkEmb(0L until 10L), "embedding", centroids), p2)
    val before2 = snapshot(p2)
    val e2 = intercept[IllegalArgumentException](
      Ann.ivfSplitCell(spark, p2, centroids, cell = 4L, "vec_id", "embedding"))
    assert(e2.getMessage.contains("cannot split"), e2.getMessage)
    assert(snapshot(p2) == before2, "failed split must leave the index as-is")
  }

  test("balance: a skewed index converges to <= maxRows cells, unsplittable cells skip loudly, probes exact") {
    // ORTHOGONAL cluster directions (the shared collinear fixture
    // cannot express 5 populated cells: max-dot routes every
    // positive-direction vector to the largest-magnitude centroid —
    // see the split-guard test): cluster c points along dim c, so
    // assignment is exactly i%5. Every cell starts with 8 rows; cells
    // 0-3 carry two ANGULAR subgroups of 4 (dim5 = ±0.4 —
    // splittable), cell 4's members are all identical (unsplittable —
    // the loud-skip path). maxRows = 6 makes all five hot: balance
    // must split the four splittable ones, record cell 4 as skipped
    // exactly once (no retry loop), and leave probes exact.
    val path = Files.createTempDirectory("graft_ivf_bal").toString + "/index"
    val ids = 0L until 40L
    val bcents: Seq[(Long, Seq[Long])] = (0L until 5L).map { c =>
      (c, (0 until dims).map(d => if (d == c) 1000L else 0L))
    }
    def bvec(i: Long): Seq[Float] = {
      val c = (i % 5).toInt
      (0 until dims).map { d =>
        if (d == c) 1f
        else if (d == 5 && c != 4) (if (i % 10 < 5) 0.4f else -0.4f)
        else 0f
      }
    }
    val bemb = ids.map(i => (i, bvec(i))).toDF("vec_id", "embedding")
    Ann.ivfWriteIndex(Ann.ivfAssignInt(bemb, "embedding", bcents), path)
    val bqv: Seq[Long] = (0 until dims).map(_ => 500L)
    def probeB(cents: Seq[(Long, Seq[Long])]): Seq[(Long, Long)] =
      Ann.ivfTopKStoredInt(spark, path, "vec_id", "embedding",
                           cents, bqv, k = ids.size, nprobe = cents.size)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    val pre = probeB(bcents)

    val (updated, report) = Ann.ivfBalanceIndex(spark, path, bcents,
      maxRows = 6L, "vec_id", "embedding")

    val splits = report.filter(_.outcome == "split")
    val skips = report.filterNot(_.outcome == "split")
    assert(splits.map(_.cell).sorted == Seq(0L, 1L, 2L, 3L), report.toString)
    assert(skips.map(_.cell) == Seq(4L), "cell 4 must be skipped exactly once")
    assert(skips.head.outcome.contains("cannot split"), skips.head.outcome)
    assert(report.forall(_.nRows == 8L))
    // id accounting: split ids retired, 2 fresh children each, skipped
    // cell keeps its id
    assert(updated.map(_._1).toSet ==
           (Set(4L) ++ (5L until 13L)), updated.map(_._1).sorted.toString)
    // every non-skipped cell is now within bounds
    val counts = spark.read.parquet(path)
      .groupBy($"cell".cast("long")).count()
      .as[(Long, Long)].collect().toMap
    assert(counts(4L) == 8L, "skipped cell keeps its rows")
    counts.filterNot(_._1 == 4L).foreach { case (c, n) =>
      assert(n <= 6L, s"cell $c still holds $n rows after balance")
    }
    // probes under the returned centroids: same ids, same exact dots
    val post = probeB(updated)
    assert(post == pre, s"balance must not change exact results:\n$pre\n$post")
    // idempotent: a second pass finds nothing to do beyond the sticky
    // skip (cell 4 is still hot but still unsplittable)
    val (again, report2) = Ann.ivfBalanceIndex(spark, path, updated,
      maxRows = 6L, "vec_id", "embedding")
    assert(again == updated)
    assert(report2.map(a => (a.cell, a.outcome.takeWhile(_ != ':'))) ==
           Seq((4L, "skipped")), report2.toString)
    // a bound no 2-way split can ever satisfy is rejected up front
    val e = intercept[IllegalArgumentException](
      Ann.ivfBalanceIndex(spark, path, updated, maxRows = 1L,
                          "vec_id", "embedding"))
    assert(e.getMessage.contains("maxRows"))
  }

  test("remove with no removals is a no-op") {
    val path = Files.createTempDirectory("graft_ivf_noop").toString + "/index"
    Ann.ivfWriteIndex(
      Ann.ivfAssignInt(mkEmb(0L until 20L), "embedding", centroids), path)
    val before = snapshot(path)
    Ann.ivfRemoveFromIndex(spark, path,
                           Seq.empty[(Long, Long)].toDF("vec_id", "cell"), "vec_id")
    assert(snapshot(path) == before)
  }
}
