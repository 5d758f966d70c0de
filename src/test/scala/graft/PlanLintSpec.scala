package graft

/** Suite-wide plan lint: every driver query's physical plan, checked
  * against the anti-patterns that kill a 100 TB run regardless of
  * which operator they appear in. Per-query plan shapes are pinned in
  * the targeted specs (PlansSpec, StoreBucketingSpec, Bm25Spec, ...);
  * this spec is the safety net that covers the queries those don't.
  *
  *  - `CartesianProduct` — a non-broadcast cross join; quadratic scan.
  *  - Python eval nodes — would break whole-stage codegen (none exist;
  *    pinned so none appear).
  *  - `ScalaUDF` — interpreted per row, allowed ONLY where the work is
  *    inherent JVM byte-code (image/WAV/AVI codecs, PDF, OOXML zip);
  *    the allowlist is exact, so a new query that reaches for a UDF
  *    (or a refactor that drops a codegen Expression back to a UDF)
  *    fails here.
  */
class PlanLintSpec extends SparkSpec {

  // queries whose operators are documented JVM work with no SQL form:
  // codecs (Codecs.scala, Pdf.scala, Office.scala) and the
  // lexer-driven chunk strategies (Chunkers.scala:307 — q36's Hybrid
  // chunker; its UDF was always there, but the pre-r9 verify-persist
  // split the plan so the lint only saw the post-read search half)
  private val UdfAllowed = Set(
    "q33_multimodal_meta", "q34_frame_sample", "q36_pipeline_search",
    "q49_pdf_roundtrip", "q52_image_roundtrip", "q53_wav_roundtrip",
    "q56_docx_roundtrip", "q63_feature_extract", "q84_pptx_roundtrip",
    "q85_xlsx_roundtrip", "q86_image_dhash", "q88_audio_fingerprint")

  // plans computed ONCE for both tests — building a query executes its
  // eager pins, so the scope frees them before any assertion (they'd
  // otherwise stay resident for every later suite in the shared
  // session)
  private lazy val plans: Map[String, String] = graft.io.Pins.scope {
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, Sf001).queryExecution.executedPlan.toString
    }.toMap
  }

  test("no query plans a CartesianProduct, Python eval, or unexpected ScalaUDF") {
    val offenders = plans.toSeq.sortBy(_._1).flatMap { case (name, plan) =>
      val bad = Seq(
        "CartesianProduct" -> plan.contains("CartesianProduct"),
        "PythonEval" -> (plan.contains("BatchEvalPython") ||
                         plan.contains("ArrowEvalPython")),
        "ScalaUDF" -> (plan.contains("UDF(") && !UdfAllowed(name)))
        .collect { case (what, true) => what }
      if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(", ")}")
    }
    assert(offenders.isEmpty, s"plan lint failures:\n${offenders.mkString("\n")}")
  }

  test("the UDF allowlist is tight: every allowed query still uses its codec UDF") {
    // if a codec path gains a codegen Expression, shrink the allowlist
    // instead of letting it go stale
    val stale = UdfAllowed.toSeq.sorted.filterNot(name => plans(name).contains("UDF("))
    assert(stale.isEmpty, s"allowlisted but UDF-free (remove from list): $stale")
  }
}
