package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.chunk.Chunkers
import graft.chunk.Chunkers.{ChunkerConfig, Strategy}
import graft.metrics.Metrics
import graft.multimodal.Multimodal
import graft.search.Ann

class MetricsAnnMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("observe: chunk-size metrics ride the action (A2/A5)") {
    val docs = spark.read.parquet(s"$Sf001/documents.parquet")
    val chunks = Chunkers.chunkDocuments(docs, "doc_id", "text",
      ChunkerConfig(strategy = Strategy.FixedWidth))
    val obs = new Observation("chunking")
    val (n, secs) = Metrics.timed(Metrics.observeChunkSizes(chunks, obs).count())
    val m = obs.get
    assert(m("n_chunks") == n)
    assert(m("max_len").asInstanceOf[Int] <= 100)
    assert(secs > 0)
  }

  test("counters: exact counts by dimension (A3/A4)") {
    val runLog = Seq(("nomic", "success"), ("nomic", "success"), ("granite", "error"))
      .toDF("provider", "status")
    val got = Metrics.counters(runLog, "provider", "status")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("nomic", "success", 2L), ("granite", "error", 1L)))
  }

  test("ANN: LSH finds planted high-cosine neighbors; probe scans a corpus fraction") {
    // LSH's guarantee is about HIGH-cosine pairs (near-duplicates) —
    // plant 5 of them among 200 noise vectors and require the probe to
    // surface them. (The driver corpus's top neighbors sit at cos≈0.3,
    // where sign-LSH rightly degrades to scanning — that trade-off is
    // the point of the bucket-fraction assertion below.)
    val rnd = new scala.util.Random(42)
    def noiseVec(): Array[Float] = Array.fill(64)((rnd.nextFloat() - 0.5f))
    val base = (1 to 200).map(i => (i.toLong + 100, noiseVec()))
    val query = noiseVec()
    val planted = (1 to 5).map { i =>
      (i.toLong, query.map(x => x + 0.05f * (rnd.nextFloat() - 0.5f)))
    }
    val df = (base ++ planted :+ (0L, query)).toDF("vec_id", "embedding")
    val bucketed = Ann.lshBuckets(df, "embedding", nPlanes = 6)
    val found = Ann.lshTopK(bucketed, "vec_id", "embedding", query.toSeq,
                            k = 6, nPlanes = 6)
      .select("vec_id").as[Long].collect().toSet
    assert(found.contains(0L), "query itself must be found")
    assert((found - 0L).count(_ <= 5) >= 3, s"planted near-dups missed: $found")

    // real corpus: the probe reads a fraction, not the table
    val e = spark.read.parquet(s"$Sf01/embeddings.parquet")
    val realBuckets = Ann.lshBuckets(e, "embedding", nPlanes = 8)
    val qb = realBuckets.filter($"vec_id" === 7).select("bucket").head().getLong(0)
    val probed = realBuckets.filter($"bucket" === qb).count()
    assert(probed < e.count() / 4, s"bucket too coarse: $probed rows")
  }

  test("ANN: multi-table LSH recall dominates single-table on the same planted set") {
    val rnd = new scala.util.Random(99)
    def noiseVec(): Array[Float] = Array.fill(64)((rnd.nextFloat() - 0.5f))
    val query = noiseVec()
    val base = (1 to 300).map(i => (i.toLong + 100, noiseVec()))
    val planted = (1 to 8).map { i =>
      (i.toLong, query.map(x => x + 0.15f * (rnd.nextFloat() - 0.5f)))
    }
    val df = (base ++ planted :+ (0L, query)).toDF("vec_id", "embedding")
    val multi = Ann.lshBucketsMulti(df, "embedding", nTables = 4, nPlanes = 8)
    val foundMulti = Ann.lshTopKMulti(multi, "vec_id", "embedding", query.toSeq,
                                      k = 9, nTables = 4, nPlanes = 8)
      .select("vec_id").as[Long].collect().toSet
    val single = Ann.lshBuckets(df, "embedding", nPlanes = 8)
    val foundSingle = Ann.lshTopK(single, "vec_id", "embedding", query.toSeq,
                                  k = 9, nPlanes = 8, multiProbe = false)
      .select("vec_id").as[Long].collect().toSet
    val plantedIds = (1 to 8).map(_.toLong).toSet
    assert((foundMulti intersect plantedIds).size >= (foundSingle intersect plantedIds).size)
    assert((foundMulti intersect plantedIds).size >= 4,
           s"multi-table found only ${foundMulti intersect plantedIds}")
  }

  // IVF centroids = the quantized vectors of ids 0..3, cells 0..3
  private def firstFourCentroids(e: DataFrame): Seq[(Long, Seq[Long])] =
    e.filter($"vec_id".isin(0L, 1L, 2L, 3L)).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(Ann.quantizeL).toSeq).toSeq
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }

  test("ivfAssignInt: every vector lands in a cell, cells partition the corpus") {
    val e = spark.read.parquet(s"$Sf001/embeddings.parquet")
    val assigned = Ann.ivfAssignInt(e, "embedding", firstFourCentroids(e))
    assert(assigned.filter($"cell".isNull).count() == 0)
    val cells = assigned.select("cell").distinct().as[Long].collect().toSet
    assert(cells.subsetOf((0L until 4L).toSet) && cells.size > 1)
  }

  test("ivfTopKInt: probes nprobe cells, finds the query's own vector first") {
    val e = spark.read.parquet(s"$Sf001/embeddings.parquet")
    val centroids = firstFourCentroids(e)
    val assigned = Ann.ivfAssignInt(e, "embedding", centroids)
    val q = centroids.head._2 // vec_id 0's own quantized vector
    val hits = Ann.ivfTopKInt(assigned, "vec_id", "embedding", centroids, q, k = 5)
      .collect()
    assert(hits.head.getAs[Long]("vec_id") == 0L) // self is the top hit
    assert(hits.map(_.getAs[Long]("cell")).toSet.size <= 2) // nprobe bound
  }

  test("invalidateCache drops exactly the matching keys (set-op rewrite)") {
    import graft.search.Search
    val cache = Seq(("k1", "a"), ("k2", "b"), ("k3", "c")).toDF("cache_key", "result")
    val invalid = Seq("k1", "k3").toDF("cache_key")
    val left = Search.invalidateCache(cache, invalid)
      .select("cache_key").as[String].collect().toSet
    assert(left == Set("k2"))
  }

  test("kmeansFitInt: trained centroids give balanced cells and a working probe") {
    val e = spark.read.parquet(s"$Sf001/embeddings.parquet")
    val centroids = Ann.withIntVec(e, "vec_id", "embedding")(
      Ann.kmeansFitInt(_, k = 8, rounds = 2))
    assert(centroids.size == 8 && centroids.forall(_._2.size == 64))
    val assigned = Ann.ivfAssignInt(e, "embedding", centroids)
    val cellSizes = assigned.groupBy("cell").count().as[(Long, Long)].collect().toMap
    assert(cellSizes.size >= 4, s"degenerate clustering: $cellSizes")
    assert(cellSizes.values.max < e.count(), "one cell swallowed the corpus")
    val q = e.filter($"vec_id" === 3).select("embedding").head()
      .getSeq[Float](0).map(Ann.quantizeL).toSeq
    val hits = Ann.ivfTopKInt(assigned, "vec_id", "embedding", centroids, q, k = 5, nprobe = 2)
    assert(hits.collect().head.getAs[Long]("vec_id") == 3L)
  }

  test("multimodal: batched decode matches the column-expression stub") {
    val docs = spark.read.parquet(s"$Sf001/documents.parquet").limit(50)
    val bin = Multimodal.toBinaryTable(docs, "doc_id", "text")
    val viaExpr = Multimodal.decodeStub(bin)
      .select($"doc_id".cast("long"), $"width").as[(Long, Long)]
      .collect().toMap
    val viaBatch = Multimodal.decodeBatches(bin, "doc_id")
      .collect().map(d => d.id -> d.width.toLong).toMap
    assert(viaBatch == viaExpr)
    assert(Multimodal.decodeBatches(bin, "doc_id").collect().forall(!_.real),
           "text payloads take the labeled fallback path")
    // image payloads take the REAL codec path inside the same batch shape
    val withPng = (1L to 10L).toDF("doc_id")
      .select($"doc_id",
              graft.multimodal.Codecs.pngOf(
                (lit(20) + ($"doc_id" % 7).cast("int")), lit(15),
                ($"doc_id" % 256).cast("int")).as("payload"))
    val real = Multimodal.decodeBatches(withPng, "doc_id").collect()
    assert(real.forall(_.real))
    real.foreach(d => assert(d.width == 20 + (d.id % 7).toInt && d.height == 15))
    val frames = Multimodal.sampleFrames(Multimodal.decodeStub(bin))
    // every doc emits ceil(n_frames/5) sampled frames
    val perDoc = frames.groupBy("doc_id").count()
      .join(Multimodal.decodeStub(bin).select($"doc_id", $"n_frames"), "doc_id")
      .filter($"count" =!= ceil($"n_frames" / lit(5.0)).cast("long"))
    assert(perDoc.count() == 0)
  }
}
