package graft

import org.apache.spark.sql.functions._

import graft.text.TextStats

/** BPE merge induction (q95): adjacent char-pair counts weighted by
  * word frequency, computed on the distinct-word vocabulary.
  */
class BpeMergeSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side twin: tokenize on \W+, count words, then every 2-char
    * window of every distinct word weighted by its frequency.
    */
  private def ref(texts: Seq[String]): Map[String, Long] = {
    val words = texts.flatMap(_.toLowerCase.split("\\W+")).filter(_.nonEmpty)
    val vocab = words.groupBy(identity).view.mapValues(_.size.toLong)
    vocab.toSeq.flatMap { case (w, f) =>
      (0 until w.length - 1).map(i => w.substring(i, i + 2) -> f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
  }

  test("pair counts match the driver twin exactly") {
    val texts = Seq("the theme thesis", "banana bandana", "the banana's theme!")
    val got = TextStats.bpePairCounts(texts.map(Tuple1(_)).toDF("text"), "text")
      .as[(String, Long)].collect().toMap
    assert(got === ref(texts))
  }

  test("counts weight by word frequency, not document count") {
    // "zz" appears in one doc but the word repeats 3 times -> f=3
    val got = TextStats.bpePairCounts(
        Seq(Tuple1("zz zz zz")).toDF("text"), "text")
      .as[(String, Long)].collect().toMap
    assert(got === Map("zz" -> 3L))
  }

  test("single-char words contribute no pairs; case folds") {
    val got = TextStats.bpePairCounts(
        Seq(Tuple1("a B a AB")).toDF("text"), "text")
      .as[(String, Long)].collect().toMap
    assert(got === Map("ab" -> 1L))
  }

  test("plan: two map-side-combined aggregates, no UDF, no join") {
    val df = Seq(Tuple1("some words for the plan test")).toDF("text")
    val plan = TextStats.bpePairCounts(df, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") && plan.contains("partial_sum"),
           s"both aggregates must combine map-side:\n$plan")
    assert(!plan.contains("UDF("), s"must be UDF-free:\n$plan")
    assert(!plan.contains("Join"), s"no join belongs here:\n$plan")
  }

  test("bpeTrain: greedy non-overlapping merges with recounting, hand-computed") {
    // corpus: "aaaa" ×2 and "ab" ×1.
    //  round 1: pairs (a,a)×3 per "aaaa" → 6; (a,b) → 1. merge (a,a).
    //    GREEDY: "aaaa" → (aa)(aa), never (aa)(a)(a).
    //  round 2: "aaaa" is now (aa)(aa) → pair (aa,aa) count 2 beats
    //    (a,b) count 1 — the recount is what q95's one-shot ranking
    //    cannot see. merge (aa,aa).
    //  round 3: "aaaa" is a single symbol; only (a,b) remains.
    val docs = Seq("aaaa aaaa ab").toDF("text")
    val got = TextStats.bpeTrain(docs, "text", rounds = 3)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", "a", 6L), (2L, "aa", "aa", 2L),
                      (3L, "a", "b", 1L)), got.toString)
    // early stop: once every word is one symbol, training ends short
    val tiny = Seq("xy xy").toDF("text")
    val short = TextStats.bpeTrain(tiny, "text", rounds = 5)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(short == Seq((1L, "x", "y", 2L)), short.toString)
  }

  test("bpeTrain: a round's pin keeps its size estimate within Long.MaxValue") {
    // the CLI tokenizer runs 16 rounds, the queries 3; 20 merges exist
    // in these two 11-letter words
    val docs = Seq("abcdefghijk lmnopqrstuv abcdefghijk").toDF("text")
    val (merges, vocab) = TextStats.bpeTrainWithVocab(docs, "text", rounds = 20)
    val sizes = vocab.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.computeStats().sizeInBytes
    }
    assert(merges.count() == 20L)
    assert(sizes.nonEmpty && sizes.forall(_ <= BigInt(Long.MaxValue)), sizes)
    graft.io.Pins.release(vocab)
  }

  test("bpeApply: ordered merges compress per-doc token counts, partial merges exact") {
    val docs = Seq(("d1", "aaaa aaaa ab"), ("d2", "aab a")).toDF("doc_id", "text")
    val merges = Seq(("a", "a"), ("aa", "aa"), ("a", "b"))
    val got = TextStats.bpeApply(docs, "doc_id", "text", merges)
      .orderBy($"doc_id")
      .as[(String, Long, Long)].collect().toSeq
    // d1: "aaaa"→[aa,aa]→[aaaa] = 1 token (×2), "ab"→[ab] = 1 → 3 words, 3 tokens
    // d2: "aab"→[aa,b] = 2 (the (a,b) merge must NOT fire after (a,a)
    //     consumed the 'a'), "a" = 1 → 2 words, 3 tokens
    assert(got == Seq(("d1", 3L, 3L), ("d2", 2L, 3L)), got.toString)
    // no merges = plain char counts
    val raw = TextStats.bpeApply(docs, "doc_id", "text", Seq.empty)
      .orderBy($"doc_id").as[(String, Long, Long)].collect().toSeq
    assert(raw == Seq(("d1", 3L, 10L), ("d2", 2L, 4L)), raw.toString)
  }
}
