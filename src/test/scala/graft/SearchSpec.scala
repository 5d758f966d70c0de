package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.embed.Embedding
import graft.search.Search

class SearchSpec extends SparkSpec {
  import spark.implicits._

  test("cosine kernel matches hand-computed values; esScore = cosine + 1") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),   // identical → 1.0
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),   // orthogonal → 0.0
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f))). // opposite → -1.0
      toDF("a", "b")
    val got = df.select(Search.cosine($"a", $"b").as("c"), Search.esScore($"a", $"b").as("s"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.map(_._1).zip(Seq(1.0, 0.0, -1.0)).forall { case (a, e) => math.abs(a - e) < 1e-9 })
    assert(got.forall { case (c, s) => math.abs(s - (c + 1.0)) < 1e-12 })
  }

  test("spellSuggest: exactly the Levenshtein-1 neighborhood — deletion, insertion, substitution — ranked by corpus frequency") {
    val docs = Seq("hello hello hello help banana").toDF("content")
    val probes = Seq("hell", "xhello", "hallo", "ohell", "hello")
      .toDF("probe")
    val got = Search.spellSuggest(docs, "content", probes, "probe")
      .orderBy("probe", "rnk").as[(String, Long, String, Long)]
      .collect().toSeq
    assert(got == Seq(
      // substitution at one position
      ("hallo", 1L, "hello", 3L),
      // "hell": hello minus its last char (deletion) AND help via
      // substitution — both, frequency-ranked
      ("hell", 1L, "hello", 3L),
      ("hell", 2L, "help", 1L),
      // "xhello": one inserted char; "ohell" is distance 2 (a
      // transposition is NOT Levenshtein-1) — no row; an exact vocab
      // hit ("hello") is never suggested for itself — no row
      ("xhello", 1L, "hello", 3L)), got.toString)
  }

  test("spellSuggest: repeated-letter deletes collapse to one candidate row; plan is UDF- and cartesian-free") {
    // "helo" reaches "hello" by deleting either 'l' — the candidate
    // must appear once, not twice
    val docs = Seq("hello hello wing").toDF("content")
    val df = Search.spellSuggest(docs, "content",
                                 Seq("helo").toDF("probe"), "probe")
    val got = df.as[(String, Long, String, Long)].collect().toSeq
    assert(got == Seq(("helo", 1L, "hello", 2L)), got.toString)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("UDF("), plan)
  }

  test("knn: top-k by score desc with provider filter (Q1+P2)") {
    val emb = Seq(
      ("e1", "nomic", Seq(1.0f, 0.0f)),
      ("e2", "nomic", Seq(0.9f, 0.1f)),
      ("e3", "nomic", Seq(-1.0f, 0.0f)),
      ("e4", "granite", Seq(1.0f, 0.0f))). // filtered out
      toDF("chunk_id", "embedding_provider", "embedding")
    val got = Search.knn(emb, Seq(1.0f, 0.0f), k = 2, provider = Some("nomic"),
                         tieBreak = Seq($"chunk_id"))
      .select("chunk_id").as[String].collect()
    assert(got.toSeq == Seq("e1", "e2"))
  }

  test("knn plans TakeOrderedAndProject — no global sort at scale") {
    val emb = spark.read.parquet(s"$Sf01/embeddings.parquet")
      .withColumnRenamed("vec_id", "chunk_id")
    val q = Search.knn(emb, Array.fill(64)(0.1f).toSeq, k = 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("knnBatch: per-query top-k over broadcast queries") {
    val emb = Seq(("e1", Seq(1.0f, 0.0f)), ("e2", Seq(0.0f, 1.0f)))
      .toDF("chunk_id", "embedding")
    val queries = Seq(("q1", Seq(1.0f, 0.0f)), ("q2", Seq(0.0f, 1.0f)))
      .toDF("query_id", "query_vec")
    val got = Search.knnBatch(emb, queries, k = 1)
      .select("query_id", "chunk_id").as[(String, String)].collect().toMap
    assert(got == Map("q1" -> "e1", "q2" -> "e2"))
  }

  test("metadataFilter: conjunctive JSON equality (Q2)") {
    val df = Seq(
      ("a", """{"team":"x","env":"prod"}"""),
      ("b", """{"team":"x","env":"dev"}"""),
      ("c", """{"team":"y","env":"prod"}""")).toDF("id", "metadata_json")
    val got = Search.metadataFilter(df, "metadata_json", Map("team" -> "x", "env" -> "prod"))
      .select("id").as[String].collect()
    assert(got.toSeq == Seq("a"))
  }

  test("textMatch: any query token matches, case-insensitive (Q3)") {
    val df = Seq(("a", "The Battle of Hastings"), ("b", "completely unrelated words"))
      .toDF("id", "content")
    val got = Search.textMatch(df, "content", "hastings battle").select("id").as[String].collect()
    assert(got.toSeq == Seq("a"))
  }

  test("cacheKey is deterministic and distinct per (vec, provider, k) (Q4/P6/F8)") {
    val df = Seq((Seq(1, 2, 3), "nomic", 10), (Seq(1, 2, 3), "nomic", 20))
      .toDF("vec", "provider", "k")
    val keys = df.select(Search.cacheKey($"vec", $"provider", lit(null), $"k")).as[String].collect()
    assert(keys.distinct.length == 2)
    assert(keys.forall(_.matches("[0-9a-f]{64}")))
  }

  test("cacheKeyOf: the driver-side key equals cacheKey evaluated by a Spark job, and starts none") {
    val vecs = Seq(Seq(0.1f, -0.25f, 3.0f), Seq.fill(8)(1e-7f),
                   Embedding.embedQuery("spark shuffle", "nomic").toSeq)
    val schema = StructType(Seq(StructField("vec", ArrayType(FloatType, false)),
                                StructField("k", IntegerType)))
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    for (v <- vecs; k <- Seq(1, 3, 10)) {
      // the form persisted caches were keyed with, and the key column
      // computed row-wise in a job over a non-local frame
      val folded = spark.range(1)
        .select(Search.cacheKey(typedLit(v), lit("nomic"), lit(null).cast("string"), lit(k)))
        .as[String].head()
      val byJob = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(v, k)), 1), schema)
        .select(Search.cacheKey($"vec", lit("nomic"), lit(null).cast("string"), $"k"))
        .as[String].head()
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val onDriver = try {
        val key = Search.cacheKeyOf(spark, v, "nomic", k)
        ListenerBusDrain(spark.sparkContext)
        key
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(onDriver == folded && onDriver == byJob, s"vec $v, k $k")
    }
    assert(jobs.get == 0, s"the driver-side key started ${jobs.get} jobs")
  }
}
