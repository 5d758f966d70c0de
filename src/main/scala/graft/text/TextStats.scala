package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Pins.pin

/** Text-analysis operators for a training-data pipeline (north-star
  * extension per BASELINE.json; not present in the reference, which
  * stops at chunking — solaius/data_pipeline2 `services/docling_service.py`).
  *
  * Every operator is pure column algebra (whole-stage codegen, no UDFs)
  * and embarrassingly parallel — at 100 TB these run map-side only, no
  * shuffle, and every intermediate stays columnar. Counts are exact
  * integers so a DuckDB oracle can verify them bit-for-bit; ratios are
  * derived single IEEE divisions (deterministic in both engines).
  */
object TextStats {

  /** Whitespace tokens, empties dropped (both engines agree on the
    * regex class).
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** BPE-ish lexer tokens: letter runs | digit runs | single
    * non-alphanumeric-non-space (the standard pre-tokenizer shape).
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Minimal English-ish stopword list used by the quality score;
    * fixed and public so the oracle can embed the same list.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  /** Quality-signal columns: exact counts a filter can threshold on.
    * n_chars/n_tokens/n_bpe/punct/stopword counts + the boolean gate
    * used for corpus filtering (length and stopword-signal bounds).
    */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_bpe_tokens", size(bpeTokens(t)).cast("long"))
      .withColumn("n_punct",
        (length(t) - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))).cast("long"))
      .withColumn("n_stopwords",
        size(filter(toks, w => lower(w).isInCollection(Stopwords))).cast("long"))
      .withColumn("quality_ok",
        col("n_tokens") >= 5 && col("n_chars") >= 20 &&
        col("n_stopwords") * 100 >= col("n_tokens") * 2) // >= 2% stopwords
  }

  /** The canonical function-word list of the Gopher "stop word"
    * rule (Rae et al. 2021, arXiv:2112.11446 §A1.1): a kept document
    * must contain at least 2 of these 8.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** GOPHER-STYLE RULE BUNDLE (Rae et al. 2021, arXiv:2112.11446
    * §A1.1) — the named heuristic battery web corpora are cleaned
    * with, reported per document as one flag per rule plus the
    * conjunction, so a curation pass can threshold, audit, or ablate
    * rules individually:
    *
    *  - `words_ok`     word count in [minWords, maxWords]
    *  - `word_len_ok`  mean word length in [3, 10] chars
    *  - `symbol_ok`    (# + ellipsis) to word ratio ≤ 1/10
    *  - `bullet_ok`    ≤ 90% of lines start with a bullet
    *  - `ellipsis_ok`  ≤ 30% of lines end with an ellipsis
    *  - `alpha_ok`     ≥ 80% of words carry an alphabetic character
    *  - `stopword_ok`  ≥ 2 of the 8 canonical function words present
    *
    * Every ratio rule is an exact-integer cross-multiplication (mean
    * word length 3 ≤ s/n ≤ 10 becomes 3n ≤ s ≤ 10n) — no floats, so
    * the verdicts replay bit-for-bit in another engine. Pure per-row
    * column algebra over one tokenize + one line split: no shuffle,
    * fused into the scan at any scale.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val m = df.select(col(idCol),
      size(tokens(t)).cast("long").as("n_words"),
      // Σ token length ≡ non-whitespace char count: no HOF aggregate
      length(regexp_replace(t, "\\s", "")).cast("long").as("sum_word_len"),
      size(filter(tokens(t), w => w.rlike("[A-Za-z]")))
        .cast("long").as("n_alpha"),
      size(split(t, "\n")).cast("long").as("n_lines"),
      size(filter(split(t, "\n"), l => l.rlike("^[-*]")))
        .cast("long").as("n_bullet"),
      size(filter(split(t, "\n"), l => l.rlike("\\.\\.\\.$")))
        .cast("long").as("n_ellipsis"),
      (size(regexp_extract_all(t, lit("#"), lit(0))) +
        size(regexp_extract_all(t, lit("\\.\\.\\."), lit(0))))
        .cast("long").as("n_symbols"),
      GopherStopwords.map(sw =>
          when(array_contains(transform(tokens(t), w => lower(w)), sw), 1L)
            .otherwise(0L))
        .reduce(_ + _).as("n_stop_hits"))
    m.withColumn("words_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("word_len_ok",
        lit(3) * col("n_words") <= col("sum_word_len") &&
          col("sum_word_len") <= lit(10) * col("n_words"))
      .withColumn("symbol_ok", col("n_symbols") * 10 <= col("n_words"))
      .withColumn("bullet_ok", col("n_bullet") * 10 <= col("n_lines") * 9)
      .withColumn("ellipsis_ok", col("n_ellipsis") * 10 <= col("n_lines") * 3)
      .withColumn("alpha_ok", col("n_alpha") * 10 >= col("n_words") * 8)
      .withColumn("stopword_ok", col("n_stop_hits") >= 2)
      .withColumn("kept",
        col("words_ok") && col("word_len_ok") && col("symbol_ok") &&
          col("bullet_ok") && col("ellipsis_ok") && col("alpha_ok") &&
          col("stopword_ok"))
  }

  /** TOP-N-GRAM CHARACTER FRACTION (Rae et al. 2021, arXiv:2112.11446
    * §A1.1, the repetition block's char-fraction half — the
    * frequency-ratio half, dup lines + top-bigram count, is
    * [[repetitionSignals]]/q69): for n ∈ {2, 3, 4}, the fraction of a
    * document's characters covered by its MOST COMMON word n-gram (a
    * looping template or a stuck generator repeats one phrase;
    * thresholds 0.20 / 0.18 / 0.16). Characters-in-gram = occurrences
    * · non-space gram length; totals are the doc's non-whitespace
    * chars; every threshold a cross-multiplied integer rational (0.18
    * becomes 50·top ≤ 9·total). Top-gram ties break lexicographically
    * so the verdict is total.
    *
    * Plan shape: the three gram sizes explode in one union (3× token
    * rows, narrow), ONE (doc, n, gram) count shuffle, a per-(doc, n)
    * rank-1 window, and a doc-keyed pivot — all corpus-linear; no
    * pairwise anything.
    */
  def topNgramSignals(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val t = lower(col(textCol))
    def base = df.select(col(idCol), tokens(t).as("__toks"),
      length(regexp_replace(t, "\\s", "")).cast("long").as("total_chars"))
    // all three gram sizes generate from ONE tokenize pass: per row,
    // each size contributes an array of (n, gram) structs and the
    // concatenation explodes once — a per-size union would re-parse
    // the corpus three times (no subtree sharing across branches)
    val gramArrs = Seq(2, 3, 4).map { n =>
      when(size(col("__toks")) >= n,
          transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
            i => struct(lit(n).as("n"),
                        array_join(slice(col("__toks"), i, lit(n)), " ")
                          .as("g"))))
        // sequence(1, 0) DESCENDS — short docs must contribute nothing
        .otherwise(array().cast("array<struct<n:int,g:string>>"))
    }
    val grams = base
      .select(col(idCol), explode(concat(gramArrs: _*)).as("__ng"))
      .select(col(idCol), col("__ng.n").as("n"), col("__ng.g").as("g"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("n")).orderBy(col("c").desc, col("g").asc)
    val top = grams.groupBy(col(idCol), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("n"),
              (col("c") * (length(col("g")) - (col("n") - 1))).as("tc"))
    val pivoted = top.groupBy(col(idCol))
      .agg(sum(when(col("n") === 2, col("tc")).otherwise(0L)).as("top2_chars"),
           sum(when(col("n") === 3, col("tc")).otherwise(0L)).as("top3_chars"),
           sum(when(col("n") === 4, col("tc")).otherwise(0L)).as("top4_chars"))
    base.select(col(idCol), size(col("__toks")).cast("long").as("n_words"),
                col("total_chars"))
      .join(pivoted, Seq(idCol), "left")
      .withColumn("top2_chars", coalesce(col("top2_chars"), lit(0L)))
      .withColumn("top3_chars", coalesce(col("top3_chars"), lit(0L)))
      .withColumn("top4_chars", coalesce(col("top4_chars"), lit(0L)))
      .withColumn("rep2_ok", col("top2_chars") * 5 <= col("total_chars"))
      .withColumn("rep3_ok", col("top3_chars") * 50 <= col("total_chars") * 9)
      .withColumn("rep4_ok", col("top4_chars") * 25 <= col("total_chars") * 4)
      .withColumn("kept",
        col("rep2_ok") && col("rep3_ok") && col("rep4_ok"))
  }

  /** Language-ID marker profiles: per-language high-frequency function
    * words (public linguistic knowledge). Deterministic n-gram-free
    * heuristic: predicted = argmax language over marker hits, ties to
    * the lexicographically first language, 'und' when nothing matches.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "est"),
    "zh" -> Seq("de", "le", "shi", "zai", "you", "wo", "ta", "men"))

  /** Marker-hit count for one language over the token array. */
  def langScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, w => lower(w).isInCollection(markers))).cast("long")

  /** Adds `score_<lang>` columns + `pred_lang` (argmax, lexicographic
    * tie-break, 'und' if all scores are 0).
    */
  def languageId(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val withScores = LangMarkers.foldLeft(df) { case (d, (lang, markers)) =>
      d.withColumn(s"score_$lang", langScore(toks, markers))
    }
    // argmax with lexicographic tie-break = fold keeping strictly-greater
    val pred = LangMarkers.map(_._1).foldLeft((lit("und"), lit(0L))) {
      case ((bestLang, bestScore), lang) =>
        val s = col(s"score_$lang")
        (when(s > bestScore, lit(lang)).otherwise(bestLang),
         when(s > bestScore, s).otherwise(bestScore))
    }._1
    withScores.withColumn("pred_lang", pred)
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercase
    * text — robust to case/whitespace-only edits; the cheap first tier
    * of near-dup detection (full MinHash lives in graft.dedup).
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", filter(split(lower(text), "\\s+"), t => t =!= "")))

  /** PII patterns shared by the Spark plan and the SQL oracle — kept to
    * the Java-regex ∩ RE2 dialect subset (no lookaround, no
    * backreferences) so both engines match identically.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    // whitespace class spelled explicitly: Java's \s includes \x0B,
    // RE2's does not — an explicit class makes both engines match the
    // same span by construction
    ("url", "https?://[^ \\t\\n\\f\\r]+", "<URL>"),
    ("ip", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"))

  /** PII REDACTION — the scrub pass a training corpus runs before
    * anything else sees the text: emails, URLs and IPv4 addresses are
    * replaced with placeholder tokens, with an exact per-category match
    * count kept for audit. Pure codegen'd column algebra (regexp count
    * + replace, applied in a fixed order so engines agree when
    * categories overlap); linear per row, no shuffle at all.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val counted = PiiPatterns.foldLeft(df) { case (d, (name, pat, _)) =>
      d.withColumn(s"n_$name",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long"))
    }
    val redacted = PiiPatterns.foldLeft(col(textCol)) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    counted.withColumn("redacted", redacted)
  }

  /** BOILERPLATE LINE REMOVAL — the web-corpus cleaner: a line that
    * appears (verbatim) in more than `dfCap` distinct documents is
    * template chrome (headers, footers, nav, license banners), not
    * content, and is stripped from every document. Document order is
    * preserved by rebuilding from position-tagged lines; documents
    * whose every line is boilerplate survive with empty text.
    *
    * Plan shape: one narrow line explode → document-frequency
    * aggregation on the line (two-level, map-combined) → anti-join of
    * the hot-line set (tiny by construction: only lines above the cap)
    * → one regroup per doc. Nothing is ever quadratic; the hot-line
    * side broadcasts.
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       dfCap: Int = 10): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("ln", "line")))
    // EMPTY lines are paragraph separators, not template chrome — on any
    // multi-paragraph corpus they are shared by >dfCap docs and would be
    // stripped from every document, collapsing the \n\n structure
    // downstream operators (dedupParagraphs) depend on. Same structural
    // exemption dedupParagraphs applies.
    val hot = lines.filter(col("line") =!= "").groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") > dfCap)
      .select(col("line"))
    val rebuilt = lines.join(broadcast(hot), Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
           concat_ws("\n",
             transform(array_sort(collect_list(struct(col("ln"), col("line")))),
                       x => x.getField("line"))).as("clean"))
    df.select(col(idCol),
              size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"),
              coalesce(col("clean"), lit("")).as("clean"))
  }

  /** REPETITION quality signals — the Gopher/MassiveText repetition
    * rules (Rae et al. 2021, §A1.1): documents dominated by repeated
    * lines or a single repeated bigram are template/spam, not prose.
    * All counts are exact integers (dup-line count, characters inside
    * duplicated lines, total bigrams, the top bigram's frequency) and
    * the gate compares integer products, so the oracle matches
    * bit-for-bit with no float thresholds.
    *
    * Plan shape: two narrow explode→two-level-aggregate branches (one
    * on (doc, line), one on (doc, bigram) — both map-combined, keys
    * include the doc id so no key is ever hot) joined back to the doc
    * id spine. Linear in corpus size; per-doc state during the regroup
    * is one counter, never a resident line/bigram set.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val lineCnt = df
      .select(id, explode(split(col(textCol), "\n")).as("line"))
      .groupBy(id, col("line")).agg(count(lit(1)).as("c"))
      .groupBy(id)
      .agg(sum(col("c")).as("n_lines"),
           sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_lines"),
           sum(when(col("c") > 1, col("c") * length(col("line")))
                 .otherwise(0L)).as("chars_dup_lines"))
    // bigram array built in its OWN projection (HOFs are CodegenFallback;
    // keep the generator input a bare attribute)
    val bigrams = df
      .select(id, tokens(lower(col(textCol))).as("toks"))
      .select(id, filter(
        zip_with(col("toks"), slice(col("toks"), lit(2), size(col("toks"))),
                 (a, b) => concat_ws(" ", a, b)),
        p => p.contains(" ")).as("bg"))
      .select(id, explode(col("bg")).as("bigram"))
      .groupBy(id, col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(id)
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_count"))
    df.select(id)
      .join(lineCnt, Seq(idCol), "left")
      .join(bigrams, Seq(idCol), "left")
      .select(id,
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_dup_lines"), lit(0L)).as("n_dup_lines"),
        coalesce(col("chars_dup_lines"), lit(0L)).as("chars_dup_lines"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_count"), lit(0L)).as("top_bigram_count"))
      .withColumn("rep_ok",
        (col("n_lines") === 0L || col("n_dup_lines") * 10L <= col("n_lines") * 3L) &&
        (col("n_bigrams") === 0L || col("top_bigram_count") * 10L <= col("n_bigrams") * 2L))
  }

  /** Deterministic SEQUENCE PACKING — the last mile of training-data
    * prep: assign documents to fixed-token-budget training sequences.
    * Docs are hash-bucketed ([[graft.dedup.Dedup.hashBucket]] — the
    * same reproducible md5 buckets the split uses), then streamed in
    * id order within each bucket; a doc's sequence is the budget
    * window its starting token offset falls in
    * (`seq = bucket·2⁲⁰ + cum_before div budget` — globally unique).
    *
    * Scale shape: the running token sum is a window per BUCKET, so
    * parallelism = `buckets` and no global sort ever exists; packing is
    * reproducible across runs, partitionings and cluster sizes (the
    * rand()-free property training reproducibility needs). Token cost
    * is the BPE-ish lexer count ([[bpeTokens]]) — the same cost model
    * the hybrid chunker budgets with.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int = 512, buckets: Int = 32): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(idCol),
              graft.dedup.Dedup.hashBucket(col(idCol), buckets).as("bucket"),
              size(bpeTokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_no",
        col("bucket") * lit(1L << 20) +
          expr(s"cum_before div CAST($budget AS BIGINT)"))
  }

  /** EXACT PARAGRAPH DEDUP — the corpus-wide first-occurrence rewrite
    * (the paragraph-granularity cousin of Lee et al.'s exact-substring
    * dedup): every verbatim re-occurrence of a paragraph AFTER its
    * globally first appearance is dropped, and documents are rebuilt
    * in order from what survives. "First" is total and deterministic:
    * smallest (doc id, position). Complements [[stripBoilerplate]],
    * which only strips lines shared more widely than a cap — this
    * removes the SECOND copy of anything, however rare.
    *
    * Plan shape: paragraph explode → one shuffle on the paragraph hash
    * → rank-1 retention (WindowGroupLimit keeps a hot paragraph from
    * ever materializing its full occurrence list per task) → regroup
    * per doc. Linear at any corpus size.
    *
    * Pins its exploded table (one scan feeds both branches); the pin
    * belongs to the caller's [[graft.io.Pins.scope]].
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    // one explode feeds both aggregates — without the pin Catalyst
    // splits them into two full corpus scans (the q65 idiom)
    val paras = pin(df.select(id,
        posexplode(split(col(textCol), "\n\n")).as(Seq("pn", "para"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("para"))).orderBy(id.asc, col("pn").asc)
    // EMPTY paragraphs (3+ consecutive newlines make "" split entries)
    // are separator structure, not content — they bypass the window
    // entirely (an OR in the rank filter would also defeat the
    // WindowGroupLimit map-side pushdown)
    val kept = paras.filter(col("para") =!= "")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .unionByName(paras.filter(col("para") === ""))
    val rebuilt = kept.groupBy(id)
      .agg(count(lit(1)).as("n_kept"),
           concat_ws("\n\n",
             transform(array_sort(collect_list(struct(col("pn"), col("para")))),
                       x => x.getField("para"))).as("clean"))
    paras.groupBy(id).agg(count(lit(1)).as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(id, col("n_paras"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"),
              coalesce(col("clean"), lit("")).as("clean"))
  }

  /** OOV-RATE quality scoring — the CCNet-style vocabulary filter: a
    * reference vocabulary is built from the TRAIN split (the same md5
    * split as q58, so it is leakage-safe and reproducible), keeping
    * terms with at least `minCount` train occurrences; every document
    * is then scored by how many of its tokens fall outside that
    * vocabulary. High OOV rate flags garbled/boilerplate/foreign text
    * relative to the corpus the model trains on. Exact integer counts;
    * the gate compares integer products.
    *
    * Plan shape: ONE scan+tokenize into the (doc, split, term, tf)
    * table, materialized (the q65 idiom — without it Catalyst splits
    * the vocab and scoring branches into two full corpus scans), then
    * the vocabulary is a map-combined aggregate of the train slice and
    * scoring is a BOUNDED-broadcast anti-join
    * ([[graft.io.Joins.boundedBroadcast]]): under the bound the
    * stopword-heavy keys never shuffle; an oversized induced vocab
    * (Heaps' law at web scale) falls back to a shuffle, never a
    * multi-GB driver build.
    * The pin belongs to the caller's [[graft.io.Pins.scope]].
    */
  def oovSignals(df: DataFrame, idCol: String, textCol: String,
                 minCount: Int = 2): DataFrame = {
    val id = col(idCol)
    val tf = pin(df
      .select(id, graft.dedup.Dedup.splitAssign(id).as("split"),
              explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(id, col("split"), col("term")).agg(count(lit(1)).as("tf")))
    val vocab = tf.filter(col("split") === "train")
      .groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      .filter(col("cnt") >= minCount).select(col("term"))
    val totals = tf.groupBy(id).agg(sum(col("tf")).as("n_tokens"))
    val oov = tf.join(graft.io.Joins.boundedBroadcast(vocab), Seq("term"), "left_anti")
      .groupBy(id).agg(sum(col("tf")).as("n_oov"))
    df.select(id, graft.dedup.Dedup.splitAssign(id).as("split"))
      .join(totals, Seq(idCol), "left")
      .join(oov, Seq(idCol), "left")
      .select(id, col("split"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_ok",
        col("n_tokens") === 0L || col("n_oov") * 10L <= col("n_tokens") * 3L)
  }

  /** N-GRAM LM FLUENCY — the CCNet-family perplexity-filter proxy,
    * with the transcendental stripped so both engines agree
    * bit-for-bit: a bigram LM with add-one smoothing is trained on the
    * TRAIN split (leakage-safe, same [[graft.dedup.Dedup.splitAssign]]
    * as q58/q72/q76) and every document scores the mean scaled
    * transition probability over its adjacent BPE-token pairs:
    *
    *   s(w1,w2) = ⌊10^6 · (c(w1,w2)+1) / (c(w1·)+V)⌋
    *   fluency  = ⌊Σ s / n_pairs⌋          (docs with <2 tokens → 0)
    *
    * where c are train-split pair counts and V is the train context
    * vocabulary (distinct w1). Monotone in the smoothed LM likelihood's
    * geometric-mean analogue — fluent in-distribution text scores high,
    * gibberish and wrong-language text score near the 1/(c+V) floor —
    * and exact integers end-to-end (the floor-per-pair sum is the
    * documented score, not an approximation of a float).
    *
    * Plan shape: ONE scan+tokenize into the (doc, split, w1, w2) pair
    * table via a zip HOF (never a positional self-join), materialized
    * (q65's idiom — the two train-count branches and the scoring
    * branch all read it); c(w1·) is dictionary-sized and rides a
    * BOUNDED broadcast ([[graft.io.Joins.boundedBroadcast]] — the
    * stopword-hot w1 key never shuffles while the vocab is provably
    * small, and an oversized one falls back to a shuffle instead of a
    * driver-side build); V is 1 row; only the bigram-count join
    * always shuffles, on the well-spread (w1,w2) key.
    * The pin belongs to the caller's [[graft.io.Pins.scope]].
    */
  def lmFluency(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val toks = bpeTokens(col(textCol))
    val nPairs = greatest(size(toks) - 1, lit(0))
    val pairs = pin(df
      .select(id, graft.dedup.Dedup.splitAssign(id).as("split"),
              explode(zip_with(slice(toks, lit(1), nPairs), slice(toks, lit(2), nPairs),
                               (a, b) => struct(a.as("w1"), b.as("w2")))).as("pr"))
      .select(id, col("split"), col("pr.w1").as("w1"), col("pr.w2").as("w2")))
    val train = pairs.filter(col("split") === "train")
    val cBi = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cbi"))
    val cUni = train.groupBy(col("w1")).agg(count(lit(1)).as("cuni"))
    val v = train.agg(countDistinct(col("w1")).as("V"))
    val scored = pairs
      .join(cBi, Seq("w1", "w2"), "left")
      .join(graft.io.Joins.boundedBroadcast(cUni), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("s",
        expr("(1000000L * (coalesce(cbi, 0L) + 1L)) div (coalesce(cuni, 0L) + V)"))
    val agg = scored.groupBy(id)
      .agg(count(lit(1)).as("n_pairs"),
           expr("sum(s) div count(1)").as("fluency"))
    df.select(id, graft.dedup.Dedup.splitAssign(id).as("split"))
      .join(agg, Seq(idCol), "left")
      .select(id, col("split"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("fluency"), lit(0L)).as("fluency"))
  }

  /** PMI COLLOCATIONS — the phrase-mining pass (Church & Hanks 1990's
    * word-association ratio): the adjacent word pairs that co-occur
    * far more than their parts predict name the corpus's fixed
    * phrases — the multi-word units a tokenizer or vocab builder
    * should learn whole. PMI = log p(x,y)/(p(x)p(y)); log is monotone,
    * so the EXP-FREE integer rational 10⁶·c_xy·N div (c_x·c_y) ranks
    * identically with no transcendental (the engine-wide convention).
    * Marginals are POSITIONAL over the bigram event space (c_x = pairs
    * with x first, c_y = pairs with y second, N = total pairs) so the
    * three counts describe one probability space. Pairs below
    * `minCount` are noise-gated (a hapax pair maximizes PMI trivially
    * — the standard guard).
    *
    * Scale shape: one corpus tokenize into the pinned pair stream;
    * three map-combined aggregates over it; the scored join runs on
    * the ≥minCount bigram table (vocabulary-sized); top-k is
    * TakeOrderedAndProject. Products in decimal(38,0): c_xy·N at
    * 2.5·10¹⁴ corpus tokens stays exact where int64 would overflow.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5, k: Int = 20): DataFrame = {
    val toks = filter(split(lower(coalesce(col(textCol), lit(""))), "\\W+"),
                      t => t =!= "")
    val base = df.select(toks.as("__toks"))
      .select(col("__toks"),
              greatest(size(col("__toks")) - 1, lit(0)).as("__np"))
    // four readers: bigram, both marginals, N
    val pairs = pin(base
      .select(explode(zip_with(
          slice(col("__toks"), lit(1), col("__np")),
          slice(col("__toks"), lit(2), col("__np")),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2")))
    val cBi = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val cX = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c_x"))
    val cY = pairs.groupBy(col("w2")).agg(count(lit(1)).as("c_y"))
    val n = pairs.agg(count(lit(1)).as("N"))
    cBi.join(cX, Seq("w1")).join(cY, Seq("w2")).crossJoin(broadcast(n))
      .withColumn("pmi_fp", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * c_xy * N) div " +
        "(CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)"))
      .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c_xy"), col("pmi_fp"))
  }

  /** VOCABULARY INDUCTION + TOKENIZE-TO-IDS — the last text step
    * before tensors: a fixed vocabulary is induced from the TRAIN
    * split (terms with ≥ `minCount` occurrences, ids ranked by
    * frequency then term — the standard frequency-sorted tokenizer
    * vocab, deterministic and leakage-safe) and every document is
    * mapped to its id sequence (unknown → 0). The sequence itself is
    * emitted as scalar audit columns (`n_ids`, `n_unk`, and the md5 of
    * the comma-joined ids) — bit-comparable across engines without
    * fragile array output.
    *
    * Plan shape: one scan+tokenize into the positioned token table,
    * materialized (q65's idiom — both the vocab and the apply branch
    * read it); the ranked vocab is a dictionary-sized single-partition
    * window (k rows, never the corpus) joined back onto the tokens
    * under a BOUNDED broadcast ([[graft.io.Joins.boundedBroadcast]] —
    * shuffle fallback if the induced vocab outgrows the bound); one
    * regroup per doc.
    * The pin belongs to the caller's [[graft.io.Pins.scope]].
    */
  def tokenizeToIds(df: DataFrame, idCol: String, textCol: String,
                    minCount: Int = 2): DataFrame = {
    val id = col(idCol)
    val tok = pin(df
      .select(id, graft.dedup.Dedup.splitAssign(id).as("split"),
              posexplode(bpeTokens(col(textCol))).as(Seq("pos", "term"))))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("term").asc) // dictionary-sized, not corpus
    val vocab = tok.filter(col("split") === "train")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .withColumn("tid", row_number().over(w).cast("long"))
      .select(col("term"), col("tid"))
    val ids = tok.join(graft.io.Joins.boundedBroadcast(vocab), Seq("term"), "left")
      .select(id, col("pos"), coalesce(col("tid"), lit(0L)).as("tid"))
    val agg = ids.groupBy(id)
      .agg(count(lit(1)).as("n_ids"),
           sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_unk"),
           md5(concat_ws(",",
             transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
                       x => x.getField("tid").cast("string")))).as("ids_md5"))
    df.select(id, graft.dedup.Dedup.splitAssign(id).as("split"))
      .join(agg, Seq(idCol), "left")
      .select(id, col("split"),
        coalesce(col("n_ids"), lit(0L)).as("n_ids"),
        coalesce(col("n_unk"), lit(0L)).as("n_unk"),
        coalesce(col("ids_md5"), md5(lit(""))).as("ids_md5"))
  }

  /** TF-IDF top-`k` terms per document — the keyword/topic signal a
    * corpus-analysis pipeline extracts per doc. Scoring is EXACT
    * integer arithmetic (`tf·10⁶ div df` — the corpus-size factor is a
    * constant that cannot change per-doc ordering, so it is dropped;
    * integral division is identical in Spark and DuckDB), ties broken
    * lexicographically, so the result is oracle-hashable bit-for-bit.
    *
    * Plan shape: ONE scan+tokenize into the (doc, term, tf) table,
    * materialized (same idiom as the simhash signature table — without
    * it Catalyst prunes the df branch into a second full scan whose
    * exchange cannot be reused), then a map-combined df aggregation
    * broadcast-joined back and one window rank per doc. A
    * count-over-term window would avoid the join but buffers a hot
    * term's whole partition — the groupBy keeps stopword terms as
    * partial counts, never a resident row set.
    * The pin belongs to the caller's [[graft.io.Pins.scope]].
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val tf = pin(df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("score", expr("tf * CAST(1000000 AS BIGINT) div df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** ZIPF SLOPE — the corpus-health scalar from the rank-frequency
    * log-log plot (natural text ≈ −1; template spam flattens it,
    * truncated vocab steepens it), computed EXACTLY: top-`topK` terms
    * by (freq desc, term asc), both axes through
    * [[graft.functions.FixedPoint]]'s log2fp, least-squares slope kept
    * as the DIVISION-FREE rational (num, den) = (nΣxy − ΣxΣy,
    * nΣx² − (Σx)²) — num is negative and a truncating divide would
    * diverge between engines, so it never divides. One token-count
    * shuffle + a `topK`-row tail: corpus-linear at any scale.
    *
    * Output: one row (n_terms, slope_num, slope_den).
    */
  def zipfSlope(df: DataFrame, textCol: String, topK: Int = 64): DataFrame =
    zipfSlopeFromVocab(termFrequencies(df, textCol), topK)

  /** The corpus term-frequency table behind [[zipfSlope]] (whitespace
    * tokens, case-preserving — the zipf token model): one (term, freq)
    * row per distinct term. This is the zipf family's MERGEABLE
    * representation — freq is additive, so batch deltas fold (and
    * demotions subtract) EXACTLY, which is what lets a stored
    * `profile_state` serve [[zipfSlopeFromVocab]] bit-identically to a
    * full recompute. Vocabulary-sized (corpus-sublinear under Heaps'
    * law), never corpus-sized.
    */
  def termFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))

  /** [[zipfSlope]] served from a (term, freq) table — the stored-state
    * form: identical algebra from the top-`topK` tail down.
    */
  def zipfSlopeFromVocab(tf: DataFrame, topK: Int = 64): DataFrame = {
    val top = tf.orderBy(col("freq").desc, col("term")).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("term"))))
    graft.functions.FixedPoint
      .withLog2(top, Seq("rank" -> "lx", "freq" -> "ly"))
      .agg(count(lit(1)).as("n_terms"),
           sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
           sum(col("lx") * col("ly")).as("sxy"),
           sum(col("lx") * col("lx")).as("sxx"))
      .select(col("n_terms"),
              (col("n_terms") * col("sxy") - col("sx") * col("sy"))
                .as("slope_num"),
              (col("n_terms") * col("sxx") - col("sx") * col("sx"))
                .as("slope_den"))
  }

  /** Per-doc TOKEN ENTROPY — the Shannon-diversity quality signal
    * (template/boilerplate docs score low, natural prose high; the
    * standard complement to [[repetitionSignals]]' n-gram gates) in
    * EXACT fixed-point algebra:
    *
    *   H_fp = ⌊ Σ_w c_w · (log2fp(n) − log2fp(c_w)) / n ⌋
    *
    * with [[graft.functions.FixedPoint]]'s log2fp — scale 2^12 bits of
    * log₂, no transcendental, reproducible bit-for-bit by the oracle's
    * recursive CTE. H_fp/4096 ∈ [0, log₂ n].
    *
    * Scale shape: explode is map-side; then ONE shuffle
    * (`repartition` on the id) under which BOTH the (id, token) count
    * aggregate and the per-doc window/aggregate are satisfied
    * (hash-partitioning by id clusters every (id, token) group too),
    * so the whole reduction is one exchange. The log recurrence is ~40
    * integer ops per DISTINCT (id, token) pair, inside codegen.
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(col(idCol),
              explode(tokens(lower(col(textCol)))).as("__tok"))
      .repartition(col(idCol))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
    val logged = graft.functions.FixedPoint.withLog2(
      counts, Seq(("__c", "__l2c"), ("__n", "__l2n")))
    logged
      .groupBy(col(idCol))
      .agg(max(col("__n")).as("n_tokens"),
           count(lit(1)).as("distinct_tokens"),
           sum(expr("__c * (__l2n - __l2c)")).as("__hsum"))
      .withColumn("entropy_fp", expr("__hsum div n_tokens"))
      .drop("__hsum")
  }

  /** BPE MERGE INDUCTION (round 1): adjacent character-pair
    * frequencies weighted by word frequency — the count table a BPE
    * tokenizer trainer ranks to pick its next merge. The corpus pays
    * exactly ONE map-side-combined aggregate (corpus → distinct-word
    * vocabulary); all per-character work then runs on VOCABULARY-sized
    * rows — at 100 TB the corpus scan counts words and everything
    * after is bounded by |vocab|, not corpus size. Pairs are 2-char
    * substrings (`Column.substr` over a position sequence — no char
    * arrays, no UDF), so the whole plan stays in codegen except the
    * vocab-sized HOF projection.
    */

  /** MULTI-ROUND BPE TRAINER — the actual tokenizer-training loop
    * [[bpePairCounts]] only emits round-1 candidates for: each round
    * picks the highest-count adjacent symbol pair (ties to the
    * lexicographically smallest (lft, rgt)), merges it GREEDILY
    * left-to-right in every vocab word (non-overlapping, the standard
    * BPE convention: in "aaaa" the pair (a,a) merges to (aa)(aa),
    * never (aa)(a)(a) or overlapping), and recounts. Returns the
    * learned merge table (round, lft, rgt, pair_count) — the artifact
    * a BPE tokenizer IS.
    *
    * Scale shape: the corpus pays ONE word-count aggregate; every
    * round after that is vocab-sized (pair explode + one map-side
    * combined groupBy + a 1-row collect + the merge fold, an
    * interpreted HOF kept off the corpus). Each round's vocab is
    * pinned so the per-round folds never re-execute through earlier
    * rounds' lambdas. Stops early if no pairs remain (every word a
    * single symbol).
    */
  /** Greedy left-to-right merge of one BPE pair over a symbol array,
    * as a fold: the merged symbol (strictly longer than `l`) can never
    * re-match as a pair side in the same pass, so the fold IS the
    * standard non-overlapping scan ("aaaa" + (a,a) → (aa)(aa)).
    * Vocab-sized inputs only — the lambda is interpreted.
    */
  private def bpeMergeFold(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, sym) =>
        when(size(acc) > 0 &&
             element_at(acc, -1) === lit(l) && sym === lit(r),
             concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(sym))))

  /** Apply an ORDERED learned merge list ([[bpeTrain]]'s output) to a
    * corpus and report per-document token counts — the consumer side
    * of tokenizer training, and the metric that judges it: n_words /
    * n_tokens is the compression the merges bought. Vocab-side cost:
    * only DISTINCT words pay the merge folds; per-doc counts come
    * back through one join against the vocab-sized (word, n_syms)
    * table.
    */
  def bpeApply(df: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "\\W+"),
                     w => w =!= "")).as("w"))
    val folded = merges.foldLeft(
        words.select(col("w")).distinct()
          .withColumn("syms", split(col("w"), ""))) {
      case (v, (l, r)) => v.withColumn("syms", bpeMergeFold(col("syms"), l, r))
    }
    bpeApplyVocab(df, idCol, textCol, folded)
  }

  /** [[bpeApply]] against an ALREADY-FOLDED vocabulary (`w`, `syms`) —
    * e.g. [[bpeTrainWithVocab]]'s second return on the same corpus: the
    * per-doc counts join the vocab-sized (word, n_syms) table directly,
    * skipping the distinct pass and the merge re-folds. Words of `df`
    * absent from `vocab` drop from the counts (identical to
    * [[bpeApply]], whose vocab always covers its own `df`).
    */
  def bpeApplyVocab(df: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame): DataFrame = {
    val words = df.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "\\W+"),
                     w => w =!= "")).as("w"))
    words.join(vocab.select(col("w"), size(col("syms")).cast("long").as("__n")),
               Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__n")).as("n_tokens"))
  }

  def bpeTrain(df: DataFrame, textCol: String, rounds: Int = 3): DataFrame =
    graft.io.Pins.scope(bpeTrainWithVocab(df, textCol, rounds)._1)

  /** [[bpeTrain]] exposing the FOLDED VOCABULARY its last round already
    * holds — (word, syms) after every learned merge — so a
    * train-then-apply consumer (q161's fertility report) joins per-doc
    * words straight against `size(syms)` instead of re-deriving the
    * distinct vocab from the corpus and re-running every merge fold
    * over it ([[bpeApply]]'s standalone path, still the right shape
    * for STORED merges). The returned vocab and every round's vocab
    * are pins of the caller's [[graft.io.Pins.scope]].
    */
  def bpeTrainWithVocab(df: DataFrame, textCol: String,
                        rounds: Int = 3): (DataFrame, DataFrame) = {
    val sp = df.sparkSession
    import sp.implicits._
    var cur = pin(df
      .select(explode(filter(split(lower(col(textCol)), "\\W+"),
                             w => w =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(col("w"), col("f"), split(col("w"), "").as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      // single-symbol words carry no pairs — and MUST be filtered, not
      // left to the sequence: Spark's sequence(1, 0) DESCENDS
      val best = cur.filter(size(col("syms")) >= 2)
        .select(col("f"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("lft"),
                        element_at(col("syms"), i + 1).as("rgt")))).as("p"))
        .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("lft").asc, col("rgt").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (l, rt, cnt) =
          (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        merges += ((r.toLong, l, rt, cnt))
        cur = pin(cur.withColumn("syms", bpeMergeFold(col("syms"), l, rt)))
        r += 1
      }
    }
    (merges.toSeq.toDF("round", "lft", "rgt", "pair_count"), cur)
  }

  def bpePairCounts(df: DataFrame, textCol: String): DataFrame = {
    val vocab = df
      .select(explode(filter(split(lower(col(textCol)), "\\W+"),
                             w => w =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    vocab
      .filter(length(col("w")) >= 2)
      .select(col("f"),
              explode(transform(sequence(lit(1), length(col("w")) - 1),
                                i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
  }

  /** Per-source LEXICAL DIVERGENCE — KL(source ‖ corpus) over token
    * distributions, the mixture-QA report that names WHICH source's
    * language drifts from the blend (a templated or off-domain source
    * scores high; a representative one near 0). In fixed-point bits
    * ([[graft.functions.FixedPoint]], scale 2^12):
    *
    *   KL_fp = Σ_t c·(log2fp(c) + log2fp(N) − log2fp(Ns) − log2fp(Ct))
    *           div Ns   (TRUNCATING division — both engines: Spark
    *                     `div` and DuckDB `//` truncate toward zero,
    *                     including on the tiny negative residues
    *                     per-term log truncation can leave)
    *
    * with c = source-token count, Ns = source total, Ct = corpus-wide
    * token count, N = corpus total — every factor an integer, the log
    * the digit-extraction recurrence, so ANY engine replaying the
    * algebra gets the same bits. KL ≥ 0 mathematically.
    *
    * Plan shape for 100 TB: the corpus pays ONE explode + map-side
    * (source, token) count aggregate; everything downstream —
    * per-source totals, per-token totals, the 1-row corpus total, the
    * four log recurrences, the final fold — is bounded by
    * vocab × sources. The per-TOKEN totals join is a plain SHUFFLE
    * join on `tok`: a `\W+` vocabulary over web-scale text runs to
    * 10⁸–10⁹ distinct tokens (typos, numbers, hashes), so
    * broadcasting it would build a multi-GB driver-side table — the
    * same failure mode as a corpus collect. `tok` is a well-spread
    * key, so the shuffle is clean; only the SOURCES-sized per-source
    * totals and the 1-row corpus total broadcast. The counts table
    * is pinned because three aggregates read it; the pin belongs to
    * the caller's [[graft.io.Pins.scope]]. Headroom: Σ c·Δlog stays in BIGINT to ~10^13 tokens per
    * source.
    */
  def sourceKlDivergence(df: DataFrame, sourceCol: String,
                         textCol: String): DataFrame = {
    val counts = pin(df
      .select(col(sourceCol).as("source"),
              explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c")))
    val perSource = counts.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val perToken = counts.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
    val total = perSource.agg(sum(col("ns")).as("n"))
    val joined = counts
      .join(perToken.hint("shuffle_hash"), Seq("tok"))
      .join(broadcast(perSource), Seq("source"))
      .crossJoin(broadcast(total))
    graft.functions.FixedPoint.withLog2(joined,
        Seq(("c", "lc"), ("ct", "lct"), ("ns", "lns"), ("n", "ln")))
      .withColumn("__term",
        col("c") * (col("lc") + col("ln") - col("lns") - col("lct")))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_tokens"), sum(col("__term")).as("__tsum"))
      .withColumn("kl_fp", expr("__tsum div n_tokens"))
      .select(col("source"), col("n_tokens"), col("kl_fp"))
  }
}
