package graft

/** Measured scale evidence for the dedup chain: candidate generation,
  * clustering, and the incremental probe must grow near-linearly in
  * corpus size (the "no all-pairs anywhere" claim, measured instead of
  * asserted in comments). PROBE_SCALE.md records the same curve at
  * 500×{1,10,100} docs.
  */
class ScaleCurveSpec extends SparkSpec {

  test("dedup chain: 100× rows stays near-linear in pairs, clusters, and time") {
    val pts = Probe.dedupScaleCurve(spark, base = 40,
                                    factors = Seq(1, 10, 100), reps = 1)
    val a = pts.head; val z = pts.last
    val rows = z.nDocs.toDouble / a.nDocs // 100
    // structural linearity: LSH candidates and clusters track corpus
    // size — an all-pairs regression would blow these up quadratically
    assert(a.nPairs > 0, "1x corpus must produce candidate pairs")
    assert(z.nPairs <= rows * a.nPairs * 1.5 + 50,
           s"pairs must stay linear: ${a.nPairs} -> ${z.nPairs}")
    assert(z.nClusters <= rows * a.nClusters * 1.5 + 50,
           s"clusters must stay linear: ${a.nClusters} -> ${z.nClusters}")
    // wall-clock: 100× rows within 150× time per stage (generous — the
    // 1× run is stage-overhead-dominated, so real ratios sit far below;
    // the bound only exists to catch quadratic blowup)
    for ((label, t1, t100) <- Seq(("q24_pairs", a.tPairs, z.tPairs),
                                  ("q59_clusters", a.tClusters, z.tClusters),
                                  ("q73_incremental", a.tIncr, z.tIncr)))
      assert(t100 <= 150 * t1 + 5.0,
             s"$label: ${t1}s at 1x -> ${t100}s at 100x exceeds the linearity bound")
  }

  test("stored IVF-PQ: probed fraction constant across 20x scale, build near-linear") {
    val pts = Probe.annScaleCurve(spark, base = 2000, factors = Seq(1, 20), reps = 1)
    val a = pts.head; val z = pts.last
    val fracA = a.probedRows.toDouble / a.nVecs
    val fracZ = z.probedRows.toDouble / z.nVecs
    // nprobe=2 of 32 equal-mass cells → ~1/16 of the corpus at any size
    assert(fracA < 0.2 && fracZ < 0.2,
           s"probe must scan a pruned slice: $fracA, $fracZ")
    assert(math.abs(fracA - fracZ) < 0.05,
           s"probed fraction must stay constant across scale: $fracA -> $fracZ")
    // wall-clock: 20x rows within 30x build time (overhead-dominated at
    // 1x, so the real ratio sits far below; the bound catches blowup)
    assert(z.tBuild <= 30 * a.tBuild + 5.0,
           s"index build must stay near-linear: ${a.tBuild}s -> ${z.tBuild}s")
  }

  test("stored postings: probed fraction constant across 20x scale, stored ≡ inline") {
    val pts = Probe.searchScaleCurve(spark, base = 400, factors = Seq(1, 20), reps = 1)
    val a = pts.head; val z = pts.last
    // matches grow linearly by construction; searchScaleCurve already
    // requires stored == inline per point
    assert(a.nMatches > 0, "1x corpus must contain the probe phrase")
    assert(z.nMatches >= 10 * a.nMatches,
           s"matches must track corpus size: ${a.nMatches} -> ${z.nMatches}")
    // 2 distinct terms of a 1000-term uniform vocab over 64 buckets →
    // the probe opens ~2/64 of the postings rows, at ANY corpus size
    val fracA = a.probedRows.toDouble / a.postingsRows
    val fracZ = z.probedRows.toDouble / z.postingsRows
    assert(fracA < 0.15 && fracZ < 0.15,
           s"probe must read a pruned slice of the index: $fracA, $fracZ")
    assert(math.abs(fracA - fracZ) < 0.05,
           s"probed fraction must stay constant across scale: $fracA -> $fracZ")
    // wall-clock: 20x rows within 30x build time (overhead-dominated at
    // 1x, so the real ratio sits far below; the bound catches blowup)
    assert(z.tBuild <= 30 * a.tBuild + 5.0,
           s"index build must stay near-linear: ${a.tBuild}s -> ${z.tBuild}s")
  }

  test("decontamination: survivor fraction constant across 20x scale, prefiltered spans ≡ full") {
    val pts = Probe.deconScaleCurve(spark, baseTest = 500,
                                    factors = Seq(1, 20), reps = 1)
    val a = pts.head; val z = pts.last
    // the planted contamination is found at every scale, and spans
    // equality (prefiltered exact pass ≡ unfiltered) is require()'d per
    // point inside the curve — the Bloom one-sidedness contract
    assert(a.nSpans > 0, "1x corpus must contain planted leak spans")
    assert(z.nSpans >= 10 * a.nSpans,
           s"spans must track the planted fraction: ${a.nSpans} -> ${z.nSpans}")
    // survivor fraction = planted 2% + the Bloom FP rate; both are
    // scale-independent, so a growing fraction means the prefilter
    // degrades with corpus size (e.g. an undersized filter would)
    val fracA = a.nFlagged.toDouble / a.nTest
    val fracZ = z.nFlagged.toDouble / z.nTest
    assert(fracA < 0.2 && fracZ < 0.2,
           s"prefilter must flag a small slice: $fracA, $fracZ")
    assert(math.abs(fracA - fracZ) < 0.05,
           s"survivor fraction must stay constant across scale: $fracA -> $fracZ")
    // wall-clock: 20x rows within 30x bloom-scan time (the 1x run is
    // overhead-dominated; the bound catches quadratic blowup)
    assert(z.tBloom <= 30 * a.tBloom + 5.0,
           s"bloom scan must stay near-linear: ${a.tBloom}s -> ${z.tBloom}s")
  }

  test("heavy-hitter monitor: state flat at one row per scope while arrivals grow 100×; stream ≡ batch twin at every wave") {
    val pts = Probe.freqStateCurve(spark, scopes = 2,
                                   waves = Seq(300, 2700, 27000))
    val a = pts.head; val z = pts.last
    assert(z.totalArrivals >= 100L * a.totalArrivals,
           s"fixture must grow 100×: ${a.totalArrivals} -> ${z.totalArrivals}")
    // the bounded-state claim: one state row per scope FOREVER — a
    // per-token regression would track the wave-unique tail vocabulary
    assert(pts.forall(_.stateRows == 2L),
           s"state rows must stay one per scope: ${pts.map(_.stateRows)}")
    // the mergeability contract, re-checked per wave: every emitted
    // estimate for the planted hitter equals the pure driver twin over
    // everything the scope has seen (cms counters fold by sum)
    pts.foreach(p => assert(p.hotEst == p.twinEst && p.hotEst > 0,
      s"wave ${p.wave}: stream est ${p.hotEst} != batch twin ${p.twinEst}"))
    // the candidate gate holds: only the planted hitter per scope — the
    // wave-unique tail (est·minFrac < n) is never reported
    assert(pts.forall(_.nHitters == 2L),
           s"tail tokens must never be reported: ${pts.map(_.nHitters)}")
  }

  test("profile artifact: vocab part sublinear (Heaps), bounded parts flat, across 100× corpus tokens") {
    val pts = Probe.profileArtifactCurve(spark, base = 200L,
                                         factors = Seq(1, 10, 100))
    val a = pts.head; val z = pts.last
    assert(z.nTokens == 100L * a.nTokens,
           s"fixture must grow 100×: ${a.nTokens} -> ${z.nTokens}")
    // the unbounded part: vocabulary-sized, Heaps-sublinear — the
    // beta=0.5 fixture should land near sqrt(100)=10×; 20× is the
    // generous regression bound (linear growth would read 100×)
    assert(z.vocabRows <= 20L * a.vocabRows,
           s"vocab rows must stay sublinear: ${a.vocabRows} -> ${z.vocabRows}")
    // artifact bytes are vocab-dominated — same sublinearity bound
    // (plus a fixed-overhead pad for the parquet footers at 1×)
    assert(z.artifactBytes <= 25L * a.artifactBytes + (64L << 10),
           s"artifact bytes must stay sublinear: ${a.artifactBytes} -> ${z.artifactBytes}")
    // the bounded parts, by construction: shards×strategies×256
    // registers, d·w counter rows, ≤64 bins per strategy
    import graft.text.ProfileState
    pts.foreach { p =>
      assert(p.regsRows <= ProfileState.RegShards.toLong * 256L,
             s"regs rows bounded: ${p.regsRows}")
      assert(p.cmsRows <= 4L * 1024L, s"cms rows bounded: ${p.cmsRows}")
      assert(p.histRows <= 64L, s"hist rows bounded: ${p.histRows}")
    }
  }

  test("training tier: 100× rows within the linearity bound for all three trainers") {
    val pts = Probe.learnScaleCurve(spark, base = 2000L,
                                    factors = Seq(1, 100), reps = 1)
    val a = pts.head; val z = pts.last
    // histogram width is fixed (97/13 values), so the only growing cost
    // is the map-side corpus pass — quadratic candidate work would trip
    // the generous stage-overhead-padded bound
    for ((label, t1, t100) <- Seq(("stump", a.tStump, z.tStump),
                                  ("reg_stump", a.tReg, z.tReg),
                                  ("boost2", a.tBoost, z.tBoost),
                                  ("kmeans2", a.tKmeans, z.tKmeans)))
      assert(t100 <= 150 * t1 + 5.0,
             s"$label: ${t1}s at 1x -> ${t100}s at 100x exceeds the linearity bound")
  }
}
