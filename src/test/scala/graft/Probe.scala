package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.io.Pins

/** Measured scale curves the scale specs assert on (`ScaleCurveSpec`,
  * `StreamingSpec`, `SkewSpec`): each curve times one operator family
  * over synthetic corpora whose match counts grow linearly by
  * construction, so any super-linear growth measured is the
  * operator's fault, not the data's. The `PROBE_*.md` tables record
  * full-size runs of these and of since-retired curves.
  */
object Probe {

  /** Median-of-`reps` wall-clock for an action returning a count —
    * the one timer every curve shares.
    */
  private def medOf(reps: Int)(f: => Long): (Double, Long) =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }.sortBy(_._1).apply((reps - 1) / 2)

  /** Deterministic synthetic near-dup corpus for the scale curve:
    * every 5-doc group shares a 40-word core plus 10 words unique per
    * doc (pairwise Jaccard ≈ 0.66 within a group — above the 4-band
    * LSH threshold), so candidate pairs / clusters grow LINEARLY in n
    * by construction and any super-linear growth measured is the
    * operator's fault, not the data's.
    */
  def syntheticDocs(spark: SparkSession, n: Long): org.apache.spark.sql.DataFrame =
    spark.range(n).select(
      concat(lit("d"), lpad(col("id").cast("string"), 8, "0")).as("doc_id"),
      concat_ws(" ",
        ((0 until 40).map(k =>
           md5(concat((col("id") / 5).cast("long").cast("string"), lit(s"g$k")))) ++
         (0 until 10).map(k =>
           md5(concat(col("id").cast("string"), lit(s"u$k"))))): _*).as("text"))

  case class ScalePoint(factor: Int, nDocs: Long, nPairs: Long, nClusters: Long,
                        tSign: Double, tPairs: Double, tClusters: Double,
                        tIncr: Double)

  /** Measured scale curve for the dedup chain (q24 candidates, q59
    * clustering, q73 incremental probe) over 1×/10×/100× synthetic
    * corpora — the evidence behind the "linear in corpus size"
    * comments. Each stage is timed to a count action over a
    * MATERIALIZED input (generation excluded); `reps` runs, median
    * kept.
    */
  def dedupScaleCurve(spark: SparkSession, base: Long,
                      factors: Seq[Int] = Seq(1, 10, 100),
                      reps: Int = 3): Seq[ScalePoint] = {
    def med(f: => Long): (Double, Long) = medOf(reps)(f)
    factors.map { fac => Pins.scope {
      val n = base * fac
      val docs = Pins.pin(syntheticDocs(spark, n))
      // the incremental probe: last 10% arrives as the new batch
      val cut = s"d${"%08d".format(n - n / 10)}"
      val stored = Pins.pin(graft.dedup.Dedup
        .minhashSignatures(docs.filter(col("doc_id") < cut), "doc_id", "text"))
      val newSigs = Pins.pin(graft.dedup.Dedup
        .minhashSignatures(docs.filter(col("doc_id") >= cut), "doc_id", "text"))
      val (tSign, _) = med {
        graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text").count()
      }
      val (tPairs, nPairs) = med {
        Dedup.minhashCandidates(docs, "doc_id", "text").count()
      }
      val (tClusters, nClusters) = med {
        Dedup.dupClusters(docs, "doc_id",
            Dedup.minhashCandidates(docs, "doc_id", "text"), "a_id", "b_id")
          .select(countDistinct(col("comp"))).head().getLong(0)
      }
      val (tIncr, _) = med {
        Dedup.incrementalCandidates(newSigs, stored).count()
      }
      ScalePoint(fac, n, nPairs, nClusters, tSign, tPairs, tClusters, tIncr)
    }}
  }

  /** Synthetic CLUSTERED embeddings: `n` vectors, 64 dims, 32
    * well-separated clusters with small deterministic per-vector
    * jitter — real angular structure for IVF cells (the driver's
    * testdata embeddings are near-iid, which caps what a probe can
    * show). Cluster c's exact integer centroid on the 1e-3 grid is
    * (((c+1)·37 + d·101) % 19 − 9)·100 — [[annScaleCurve]] uses it
    * directly. Each cluster's direction is hash-like per (c, d): 32
    * near-orthogonal directions in 64 dims, so dot-product cell
    * assignment resolves clusters (a magnitude-only construction would
    * collapse every vector into the two extreme cells).
    */
  def syntheticEmbeddings(spark: SparkSession, n: Long): org.apache.spark.sql.DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        ((((col("id") % 32 + 1) * 37 + d * 101) % 19 - 9).cast("double") / 10.0 +
         ((col("id") * 31 + d * 17) % 13 - 6).cast("double") / 1000.0)
          .cast("float")).as("embedding"))

  case class AnnScalePoint(factor: Int, nVecs: Long, probedRows: Long,
                           tBuild: Double, tProbe: Double, tBrute: Double)

  /** Measured scale curve for the stored IVF-PQ stack: index build
    * (assign + PQ-encode + cell-partitioned write) and the stored
    * probe (partition-pruned, codes-only ADC scan, point-fetch
    * re-rank) against the exact brute-force scan, over 1×/10×/100×
    * corpora. The structural claim the numbers back: the probe touches
    * a CONSTANT FRACTION of rows (nprobe/k cells) at every scale while
    * build stays linear — so probe/brute wall-clock falls toward the
    * scanned fraction as per-job overhead amortizes.
    */
  def annScaleCurve(spark: SparkSession, base: Long,
                    factors: Seq[Int] = Seq(1, 10, 100),
                    reps: Int = 3): Seq[AnnScalePoint] = {
    import graft.search.Ann
    val dims = 64
    val centroids: Seq[(Long, Seq[Long])] = (0L until 32L).map { c =>
      (c, (0 until dims).map(d => (((c + 1) * 37 + d * 101) % 19 - 9) * 100L))
    }
    def med(f: => Long): (Double, Long) = medOf(reps)(f)
    val nprobe = 2
    factors.map { fac => Pins.scope {
      val n = base * fac
      val emb = Pins.pin(syntheticEmbeddings(spark, n))
      val qvF = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toSeq
      val qv = qvF.map(Ann.quantizeL)
      val dir = java.nio.file.Files.createTempDirectory("graft_annscale")
        .toString + "/index"
      val (tBuild, _) = med {
        graft.io.Tables.rmTree(new java.io.File(dir))
        Ann.ivfPqWriteIndex(emb, "vec_id", "embedding", centroids, centroids, dir)
        n
      }
      val probedRows = {
        val probed = Ann.ivfAssignInt(emb, "embedding", centroids)
          .groupBy(col("cell")).count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // the probe's OWN cell ranking — a reimplementation here would
        // silently drift from what ivfPqTopKStored actually scans
        Ann.rankCells(centroids, qv, nprobe).map(probed.getOrElse(_, 0L)).sum
      }
      val (tProbe, _) = med {
        Ann.ivfPqTopKStored(spark, dir, "vec_id", "embedding",
                            centroids, centroids, qv,
                            k = 10, nprobe = nprobe).count()
      }
      // like-for-like: brute reads the SAME stored table (all cells,
      // full vectors) — timing the pinned in-memory corpus instead
      // would flatter the index
      val (tBrute, _) = med {
        Ann.intDotTopK(
          spark.read.parquet(dir).withColumn("cell", col("cell").cast("long")),
          "vec_id", "embedding", qvF.map(_.toFloat), k = 10).count()
      }
      graft.io.Tables.rmTree(new java.io.File(dir).getParentFile)
      AnnScalePoint(fac, n, probedRows, tBuild, tProbe, tBrute)
    }}
  }

  /** Synthetic word-doc corpus for the search curve: `wordsPerDoc`
    * words per doc, word k of doc i = "w"+((31i+7k) mod 1000) — a
    * 1000-term vocabulary with uniform term frequencies, and the probe
    * phrase "w0 w7" (consecutive by construction: +7 per position)
    * occurs in a fixed fraction of docs at every scale (7 is coprime
    * to 1000, so k0(i) ≡ −31i·7⁻¹ mod 1000 lands under wordsPerDoc
    * for wordsPerDoc/1000 of ids), so match counts grow linearly and
    * any super-linear probe time is the operator's fault.
    */
  def syntheticWordDocs(spark: SparkSession, n: Long,
                        wordsPerDoc: Int = 50,
                        vocab: Int = 1000): org.apache.spark.sql.DataFrame =
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until wordsPerDoc).map(k =>
        concat(lit("w"), ((col("id") * 31 + k * 7) % vocab).cast("string"))): _*)
        .as("text"))

  case class SearchScalePoint(factor: Int, nDocs: Long, postingsRows: Long,
                              probedRows: Long, nMatches: Long,
                              tBuild: Double, tStored: Double, tInline: Double,
                              tBm25Stored: Double, tBm25Inline: Double)

  /** Measured scale curve for the STORED POSTINGS phrase index vs the
    * inline phrase scan, over 1×/10×/100× corpora. Build = tokenize +
    * posexplode + term-bucket-partitioned write; stored probe =
    * PartitionFilters-pruned bucket read + anchor votes; inline = the
    * full-corpus tokenize+filter+vote (`phraseOccurrences`) reading the
    * SAME on-disk docs parquet (like-for-like: a pinned in-memory
    * corpus would flatter the inline side). The structural claim: the
    * probe reads a CONSTANT FRACTION of postings (the phrase terms'
    * buckets, ≈ ¦distinct terms¦/nBuckets of the rows under uniform
    * term frequencies) at every scale, while the inline scan re-pays
    * tokenizing the whole corpus per query.
    *
    * `nBuckets` is the WRITER'S layout knob, sized to the index like
    * IVF's nlist: at 10⁸ postings rows, 64 buckets leaves ~2/64 of the
    * index in the probed slice — more rows than the whole corpus'
    * inline tokenize at a 1000-term vocabulary — while 1024 buckets
    * cuts the slice under 0.3%. The default stays at the writer's
    * default.
    */
  def searchScaleCurve(spark: SparkSession, base: Long,
                       factors: Seq[Int] = Seq(1, 10, 100),
                       reps: Int = 3,
                       nBuckets: Int = 64,
                       wordsPerDoc: Int = 50): Seq[SearchScalePoint] = {
    import graft.search.Search
    val phrase = "w0 w7"
    def med(f: => Long): (Double, Long) = medOf(reps)(f)
    factors.map { fac =>
      val n = base * fac
      val tmp = java.nio.file.Files.createTempDirectory("graft_searchscale")
      val docsPath = s"$tmp/docs"
      val idxPath = s"$tmp/postings"
      try {
        syntheticWordDocs(spark, n, wordsPerDoc).write.parquet(docsPath)
        val docsDisk = spark.read.parquet(docsPath)
        // Each rep writes a FRESH path and the previous rep's tree is
        // deleted OUTSIDE the timed region — mode(overwrite) into one
        // path would delete the existing multi-GB index INSIDE the
        // write job at reps 2+, charging filesystem deletion to tBuild.
        val buildTimes = (1 to reps).map { r =>
          val p = s"$idxPath-r$r"
          val t0 = System.nanoTime()
          Search.writePostings(docsDisk, "doc_id", "text", p, nBuckets)
          val dt = (System.nanoTime() - t0) / 1e9
          if (r > 1) graft.io.Tables.rmTree(new java.io.File(s"$idxPath-r${r - 1}"))
          dt
        }.sorted
        val tBuild = buildTimes((reps - 1) / 2)
        val finalIdx = s"$idxPath-r$reps"
        val stored = spark.read.parquet(finalIdx)
        val postingsRows = stored.count()
        // the buckets the probe opens = the distinct tb values the
        // phrase's terms were WRITTEN to (layout truth, not a
        // reimplementation of the probe's hash)
        val probedBuckets = stored
          .filter(col("tok").isin("w0", "w7"))
          .select(col("tb").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        val probedRows = stored
          .filter(col("tb").cast("long").isInCollection(probedBuckets)).count()
        val (tStored, nMatches) = med {
          Search.phraseOccurrencesStored(spark, finalIdx, "doc_id", phrase).count()
        }
        val (tInline, nInline) = med {
          Search.phraseOccurrences(docsDisk, "doc_id", "text", phrase).count()
        }
        require(nMatches == nInline,
          s"stored ($nMatches) and inline ($nInline) phrase matches diverged")
        // the BM25 serving pair over the same index/corpus: the stored
        // path reads pruned buckets + the norms sidecar, the inline
        // path re-tokenizes the corpus; both must rank identically
        def bmRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
          df.orderBy(col("score").desc, col("doc_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        var bmStored: Seq[(Long, Long, Long)] = Nil
        val (tBm25Stored, _) = med {
          bmStored = bmRows(Search.bm25LogTopKStored(
            spark, finalIdx, "doc_id", phrase, k = 10))
          bmStored.size.toLong
        }
        var bmInline: Seq[(Long, Long, Long)] = Nil
        val (tBm25Inline, _) = med {
          bmInline = bmRows(Search.bm25LogTopK(
            docsDisk, "doc_id", "text", phrase, k = 10))
          bmInline.size.toLong
        }
        require(bmStored == bmInline,
          s"stored and inline BM25 rankings diverged: $bmStored vs $bmInline")
        SearchScalePoint(fac, n, postingsRows, probedRows, nMatches,
                         tBuild, tStored, tInline, tBm25Stored, tBm25Inline)
      } finally graft.io.Tables.rmTree(tmp.toFile)
    }
  }

  /** Synthetic train/test corpus with PLANTED contamination for the
    * decontamination curve: a FIXED train side (`nTrain` docs × 50
    * unique words) and a scaling test side where every `contamEvery`-th
    * doc copies a 12-word run (positions 10..21) from train doc
    * `id % nTrain` — 10 matching 3-shingles, one contiguous leak span.
    * All other words are unique per doc, so the planted docs are the
    * ONLY true matches and the contaminated fraction is exactly
    * 1/contamEvery at every scale.
    */
  def syntheticSplitDocs(spark: SparkSession, nTrain: Long, nTest: Long,
                         contamEvery: Int = 50): org.apache.spark.sql.DataFrame = {
    val train = spark.range(nTrain).select(
      concat(lit("t"), lpad(col("id").cast("string"), 8, "0")).as("doc_id"),
      lit("train").as("split"),
      concat_ws(" ", (0 until 50).map(k =>
        md5(concat(col("id").cast("string"), lit(s"t$k")))): _*).as("text"))
    val test = spark.range(nTest).select(
      concat(lit("x"), lpad(col("id").cast("string"), 8, "0")).as("doc_id"),
      lit("test").as("split"),
      concat_ws(" ", (0 until 50).map { k =>
        val own = md5(concat(col("id").cast("string"), lit(s"u$k")))
        if (k >= 10 && k <= 21)
          when(col("id") % contamEvery === 0,
               md5(concat((col("id") % nTrain).cast("string"), lit(s"t$k"))))
            .otherwise(own)
        else own
      }: _*).as("text"))
    train.unionByName(test)
  }

  case class DeconScalePoint(factor: Int, nTest: Long, nFlagged: Long,
                             tBloom: Double, tSpanSurv: Double,
                             tSpanFull: Double, nSpans: Long)

  /** Measured scale curve for the TWO-PHASE decontamination scan (the
    * q94 posture): phase 1 is the Bloom prefilter
    * ([[Dedup.bloomContaminationScan]] — build the train-side Bloom,
    * probe every test shingle map-side, flag survivor docs), phase 2 is
    * the exact span pass ([[Dedup.contaminationSpans]], q83) run ONLY
    * on the survivors, compared against the same span pass over the
    * whole test corpus. Train side is FIXED while the test corpus
    * scales 1×/10×/100× — the structural claims under test:
    *
    *  - the survivor fraction stays CONSTANT (planted 1/contamEvery
    *    plus the Bloom's false-positive rate — never scale-dependent),
    *    so the exact pass's input shrinks by that constant factor at
    *    every scale;
    *  - Bloom never misses an inserted hash, so the survivor-only span
    *    pass finds EXACTLY the spans of the unfiltered pass (required
    *    per point, not assumed);
    *  - phase-1 cost is one map-side filter scan (driver state =
    *    mBits/8 bytes — 32 KiB at the probe's 2¹⁸ default, sized
    *    ~27 bits/element for the fixed train side's 9.6k hashes).
    */
  def deconScaleCurve(spark: SparkSession, baseTest: Long,
                      nTrain: Long = 200,
                      factors: Seq[Int] = Seq(1, 10, 100),
                      reps: Int = 3,
                      mBits: Int = 1 << 18): Seq[DeconScalePoint] = {
    def med(f: => Long): (Double, Long) = medOf(reps)(f)
    // untimed warmup: the bloom probe's literal-array expression is the
    // largest codegen unit in the suite, and its first compile would
    // otherwise pollute the 1× point (measured ~2 s of Janino time)
    Pins.scope {
      val w = Pins.pin(syntheticSplitDocs(spark, nTrain, 50))
      Dedup.bloomContaminationScan(w, "doc_id", "text", col("split"),
                                   mBits = mBits).count()
      Dedup.contaminationSpans(w, "doc_id", "text", col("split")).count()
    }
    factors.map { fac => Pins.scope {
      val n = baseTest * fac
      val docs = Pins.pin(syntheticSplitDocs(spark, nTrain, n))
      val (tBloom, nFlagged) = med {
        Dedup.bloomContaminationScan(docs, "doc_id", "text", col("split"),
                                     mBits = mBits).count()
      }
      val flagged = Pins.pin(Dedup.bloomContaminationScan(docs, "doc_id", "text",
          col("split"), mBits = mBits)
        .select(col("doc_id")))
      val survivors = Pins.pin(docs.filter(col("split") === "train")
        .unionByName(docs.join(flagged, Seq("doc_id"), "left_semi")))
      val (tSpanSurv, nSpansSurv) = med {
        Dedup.contaminationSpans(survivors, "doc_id", "text",
                                 col("split")).count()
      }
      val (tSpanFull, nSpansFull) = med {
        Dedup.contaminationSpans(docs, "doc_id", "text", col("split")).count()
      }
      // the one-sided contract, checked per point: the prefiltered
      // exact pass must find every span the unfiltered pass finds
      require(nSpansSurv == nSpansFull,
        s"Bloom prefilter dropped real spans: $nSpansSurv vs $nSpansFull")
      DeconScalePoint(fac, n, nFlagged, tBloom, tSpanSurv, tSpanFull,
                      nSpansFull)
    }}
  }

  case class LearnScalePoint(factor: Int, nRows: Long, tStump: Double,
                             tReg: Double, tBoost: Double, tKmeans: Double)

  /** Scale curve for the training tier: synthetic rows with a planted
    * split (label flips at a = 50, y steps with a), histogram widths
    * FIXED (97/13 distinct values) so the curve isolates the claim
    * that cost is ONE corpus pass + histogram-bounded tail work —
    * time should grow ~linearly in rows while candidate tables stay
    * constant-size.
    */
  def learnScaleCurve(spark: SparkSession, base: Long,
                      factors: Seq[Int] = Seq(1, 10, 100),
                      reps: Int = 3): Seq[LearnScalePoint] = {
    import org.apache.spark.sql.functions._
    import graft.learn.Learn
    def med(f: => Long): (Double, Long) = medOf(reps)(f)
    factors.map { fac => Pins.scope {
      val n = base * fac
      val df = Pins.pin(spark.range(n).select(
          (col("id") % 97).cast("long").as("a"),
          (col("id") % 13).cast("long").as("b"),
          ((col("id") % 97) * 7 + (col("id") % 29)).cast("long").as("y"))
        .withColumn("lab", when(col("a") >= 50, 1L).otherwise(-1L)))
      val (tStump, _) = med {
        Learn.trainStump(df, Seq("a", "b"), "lab").count()
      }
      val (tReg, _) = med {
        Learn.trainRegressionStump(df, Seq("a", "b"), "y",
                                   scale = 1000L).count()
      }
      val (tBoost, _) = med {
        Learn.boostStumps(df, Seq("a", "b"), "y", rounds = 2,
                          gainScale = 1000L).count()
      }
      // the k-means trainer joins the family: per round ONE corpus
      // pass (broadcast-literal argmin) + a k-row shuffle — timed on
      // the clustered synthetic embeddings at the same row counts
      val emb = Pins.pin(syntheticEmbeddings(spark, n))
      val (tKmeans, _) = med {
        graft.search.Ann.withIntVec(emb, "vec_id", "embedding")(
          graft.search.Ann.kmeansFitInt(_, k = 8, rounds = 2))
        n
      }
      LearnScalePoint(fac, n, tStump, tReg, tBoost, tKmeans)
    }}
  }

  case class ProfileArtifactPoint(factor: Int, nTokens: Long,
                                  vocabRows: Long, regsRows: Long,
                                  cmsRows: Long, histRows: Long,
                                  artifactBytes: Long)

  /** Measured footprint of the stored profile artifact
    * ([[graft.text.ProfileState]]) as the corpus grows 1×/10×/100× in
    * tokens. Three of the four parts are BOUNDED by construction
    * (regs ≤ shards·strategies·256 registers, cms = d·w counters,
    * hist ≤ 64 bins per strategy); the `vocab` part is the only
    * unbounded one — vocabulary-sized, which Heaps' law makes
    * SUBLINEAR in corpus tokens (the fixture plants β = 0.5: the
    * vocabulary universe grows as √tokens, the empirical mid-range).
    * Claim under test: vocab rows and artifact bytes grow ~√(token
    * growth) while the bounded parts stay flat — the artifact a
    * 100 TB store rewrites per ingest stays index-card-sized relative
    * to the corpus. A df-floor tail tier for vocab is deliberately
    * ABSENT: q190 serves the zipf slope from this part against q169's
    * full-recompute SQL verbatim, and dropping tail terms would change
    * the slope — the exactness contract forbids lossy compaction.
    */
  def profileArtifactCurve(spark: SparkSession, base: Long = 20000L,
                           factors: Seq[Int] = Seq(1, 10, 100),
                           wordsPerDoc: Int = 50)
      : Seq[ProfileArtifactPoint] = {
    import org.apache.spark.sql.functions._
    import graft.text.ProfileState
    factors.map { fac =>
      val nDocs = base * fac
      val nTokens = nDocs * wordsPerDoc
      // Heaps' law with β=0.5: the vocabulary universe available to a
      // corpus of T tokens is ~√T
      val vocab = math.max(100, math.ceil(math.sqrt(nTokens.toDouble)).toInt)
      val chunks = syntheticWordDocs(spark, nDocs, wordsPerDoc, vocab)
        .select(col("doc_id").cast("string").as("doc_id"),
                lit("hybrid").as("strategy"), col("text").as("content"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_profile_artifact").toString
      val store = new java.io.File(dir)
      try {
        ProfileState.write(spark, dir, ProfileState.fromChunks(chunks),
                           fingerprint = "probe")
        val parts = ProfileState.read(spark, dir).get._1
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
          else Seq(f)
        ProfileArtifactPoint(fac, nTokens,
          parts.vocab.count(), parts.regs.count(), parts.cms.count(),
          parts.hist.count(),
          walk(new java.io.File(ProfileState.artifactPath(dir)))
            .map(_.length()).sum)
      } finally graft.io.Tables.rmTree(store)
    }
  }

  case class SkewPoint(factor: Int, nRows: Long, tNaive: Double,
                       tAqe: Double, tSalted: Double)

  /** Measured skew-join evidence for the `Skew` family: a big side
    * where 90% of rows carry ONE hot join key (the null-dump /
    * bot-user / default-enum shape), a 10k-key small side too big to
    * broadcast (forced), joined three ways:
    *
    *  - naive: plain shuffle join, AQE off — the hot key's rows all
    *    land on ONE reducer, wall time = that straggler;
    *  - aqe: Spark's own skew-join split (AQE on) — the after-the-fact
    *    fix for sort-merge joins;
    *  - salted: [[graft.io.Skew.saltedJoin]] — the explicit layout
    *    that spreads the hot key over `buckets` reducers and also
    *    covers the hash-join shapes AQE's split doesn't.
    *
    * All three MUST return identical row counts (required per point).
    * The claim under test: naive wall time is straggler-bound (grows
    * with the hot key's mass), while aqe and salted stay near the
    * balanced cost.
    */
  def skewJoinCurve(spark: SparkSession, base: Long = 2000000L,
                    factors: Seq[Int] = Seq(1, 4), reps: Int = 5,
                    buckets: Int = 16): Seq[SkewPoint] = {
    def med(f: => Long): (Double, Long) = medOf(reps)(f)
    val conf = spark.conf
    val keepAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val keepSkew = conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    val keepBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      factors.map { fac => Pins.scope {
        val n = base * fac
        // cold keys stride by (id div 10): the cold branch only fires on
        // multiples of 10, so a plain (id % 10000) would take only the
        // 1000 multiples-of-10 residues — div first makes the cold ids
        // consecutive and the residues genuinely uniform over 10k keys
        val big = Pins.pin(spark.range(n).select(
            col("id"),
            when(col("id") % 10 =!= 0, lit("hot"))
              .otherwise(concat(lit("k"),
                expr("(id div 10) % 10000").cast("string")))
              .as("key"),
            md5(col("id").cast("string")).as("payload")))
        val small = Pins.pin(spark.range(10001).select(
            when(col("id") === 10000, lit("hot"))
              .otherwise(concat(lit("k"), col("id").cast("string"))).as("key"),
            (col("id") * 7).as("dim")))
        def timed(aqe: Boolean)(f: => Long): (Double, Long) = {
          conf.set("spark.sql.adaptive.enabled", aqe.toString)
          conf.set("spark.sql.adaptive.skewJoin.enabled", aqe.toString)
          med(f)
        }
        val (tNaive, nNaive) = timed(aqe = false) {
          big.join(small, Seq("key")).count()
        }
        val (tAqe, nAqe) = timed(aqe = true) {
          big.join(small, Seq("key")).count()
        }
        val (tSalted, nSalted) = timed(aqe = false) {
          graft.io.Skew.saltedJoin(big, small, Seq("key"), "id", buckets)
            .count()
        }
        require(nNaive == n && nAqe == n && nSalted == n,
          s"skew-join variants diverged: $nNaive/$nAqe/$nSalted vs $n")
        SkewPoint(fac, n, tNaive, tAqe, tSalted)
      }}
    } finally {
      conf.set("spark.sql.adaptive.enabled", keepAqe)
      conf.set("spark.sql.adaptive.skewJoin.enabled", keepSkew)
      conf.set("spark.sql.autoBroadcastJoinThreshold", keepBc)
    }
  }

  case class SessionWavePoint(wave: Int, totalEvents: Long, stateRows: Long,
                              stateBytes: Long, emitted: Long)

  /** Measured state-store footprint of streaming sessionization
    * ([[graft.stream.Sessions.sessionCounts]]): `waves` bursts of
    * `keys` users × `eventsPerKey` events, each wave 2 h after the
    * last (far past gap 30 min + watermark 10 min). The bounded-state
    * claim under test: cumulative events and emitted sessions grow
    * linearly with waves, while state rows PLATEAU at the open
    * sessions inside the watermark horizon (≈ keys — each wave's
    * arrival advances the watermark past the previous wave's close, so
    * the store holds at most the newest wave plus a not-yet-finalized
    * predecessor) — never the archive.
    */
  def sessionStateCurve(spark: SparkSession, keys: Int = 500,
                        eventsPerKey: Int = 10,
                        waves: Int = 5): Seq[SessionWavePoint] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val counts = graft.stream.Sessions.sessionCounts(
      mem.toDS().toDF("ts", "user"), "ts", "user")
    // memory sink: finalized sessions accumulate in a queryable table,
    // so "emitted" is a direct count, not a sink-metric guess
    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("probe_sessions").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00").getTime
      var total = 0L
      (1 to waves).map { w =>
        val base = t0 + (w - 1) * 2L * 3600 * 1000
        mem.addData(for {
          k <- 0 until keys; e <- 0 until eventsPerKey
        } yield (new java.sql.Timestamp(base + e * 1000L), s"u$k"))
        q.processAllAvailable()
        total += keys.toLong * eventsPerKey
        val so = q.lastProgress.stateOperators.head
        SessionWavePoint(w, total, so.numRowsTotal, so.memoryUsedBytes,
                         spark.table("probe_sessions").count())
      }
    } finally {
      q.stop()
      spark.catalog.dropTempView("probe_sessions")
    }
  }

  case class FreqWavePoint(wave: Int, totalArrivals: Long, stateRows: Long,
                           stateBytes: Long, hotEst: Long, twinEst: Long,
                           nHitters: Long)

  /** Measured state-store footprint of the streaming heavy-hitter
    * monitor ([[graft.stream.FrequencyMonitor]]): cumulative arrivals
    * grow ~100× across waves — a planted hitter at 10% of every wave
    * plus a UNIQUE uniform tail per wave (the vocabulary growth that
    * would make exact per-token state unbounded) — while the claim
    * under test is that checkpointed state stays FLAT (one row per
    * scope, d·w counters packed in a fixed-width string) and every
    * emitted estimate equals the monitor's pure driver twin over
    * everything seen (the batch-sketch mergeability contract,
    * re-checked per wave, not just once).
    */
  def freqStateCurve(spark: SparkSession, scopes: Int = 4,
                     waves: Seq[Int] = Seq(1000, 9000, 90000))
      : Seq[FreqWavePoint] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.stream.FrequencyMonitor
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[FrequencyMonitor.Arrival]
    val last = new java.util.concurrent.atomic.AtomicReference[
      Seq[FrequencyMonitor.HeavyHitter]](Seq.empty)
    val q = FrequencyMonitor.run(mem.toDS()).writeStream
      .outputMode("update")
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[FrequencyMonitor.HeavyHitter],
         _: Long) => last.set(ds.collect().toSeq); ()
      }.start()
    try {
      val history = Array.fill(scopes)(
        scala.collection.mutable.ArrayBuffer.empty[String])
      var total = 0L
      waves.zipWithIndex.map { case (n, w) =>
        val batch = for {
          s <- 0 until scopes; i <- 0 until n
        } yield {
          // 10% planted hitter, 90% wave-unique tail tokens
          val tok = if (i % 10 == 0) "hot" else s"w${w}u$i"
          history(s) += tok
          FrequencyMonitor.Arrival(s"scope$s", tok)
        }
        mem.addData(batch)
        q.processAllAvailable()
        total += batch.size
        val so = q.lastProgress.stateOperators.head
        // the pure driver twin over EVERYTHING scope0 has seen
        val counters = new Array[Long](4 * 1024)
        FrequencyMonitor.mergeTokens(counters, history(0).iterator, 4, 1024)
        val twin = FrequencyMonitor.estimate(counters, "hot", 4, 1024)
        val emitted = last.get()
        val hot = emitted.find(h => h.scope == "scope0" && h.token == "hot")
          .map(_.est_cnt).getOrElse(-1L)
        FreqWavePoint(w + 1, total, so.numRowsTotal, so.memoryUsedBytes,
                      hot, twin, emitted.size.toLong)
      }
    } finally q.stop()
  }
}
