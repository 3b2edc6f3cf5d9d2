package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import Nlp._

/** Text-analysis operators — the language-ID / quality / token-statistics
  * / fingerprinting stages of an LLM training-data pipeline — exposed as a
  * column-parameterized public API (any DataFrame with an id + text
  * column) plus the driver-checked query bindings over `documents`. All
  * map-only (no shuffle, NO sort), codegen-friendly, each with a DuckDB
  * oracle — map-only means every function here also composes with
  * `readStream` (StreamingExtrasSpec runs `qualityScore` on a stream).
  */
object TextOps {

  private val stopEn = "('the', 'a')"
  private val stopData = "('table', 'row', 'column', 'query')"

  private def norm(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String) = Nlp.normDocs(docs, idCol, textCol)

  // ======================= public operator API =======================

  /** Stopword-vote language heuristic → pred_lang ∈ {en, data}. */
  def langId(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame =
    norm(docs, idCol, textCol)
      .withColumn("toks", expr(toksExpr))
      .withColumn("en_hits", expr(s"size(filter(toks, x -> x IN $stopEn))"))
      .withColumn("data_hits", expr(s"size(filter(toks, x -> x IN $stopData))"))
      .select(
        col("doc_id"), col("en_hits"), col("data_hits"),
        when(col("en_hits") * 3 >= col("data_hits"), lit("en"))
          .otherwise(lit("data")).as("pred_lang"))

  /** Length/uniqueness/stopword-ratio quality composite ∈ [0, 1]. */
  def qualityScore(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame =
    norm(docs, idCol, textCol)
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("uniq_tokens", expr("size(array_distinct(toks))"))
      .withColumn("stop_hits", expr(s"size(filter(toks, x -> x IN $stopEn))"))
      .withColumn("uniq_ratio", col("uniq_tokens").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens"))
      .withColumn("len_score",
        when(col("n_tokens") >= 20 && col("n_tokens") <= 80, 1.0).otherwise(0.5))
      .withColumn("quality",
        col("len_score") * 0.5 + col("uniq_ratio") * 0.3 + col("stop_ratio") * 0.2)
      .select(col("doc_id"), col("n_tokens"), col("uniq_tokens"), col("uniq_ratio"),
        col("stop_ratio"), col("quality"))

  /** Flesch–Kincaid grade level in exact micro-units — the classic
    * readability signal curation stacks run next to the Gopher rules
    * (too-low grade ≈ boilerplate/listicles, absurdly high ≈ OCR junk).
    * Syllables are the standard vowel-group heuristic ([aeiouy]+ runs
    * per word, min 1); sentences are [.!?]+ runs (min 1). The grade's
    * rational constants (0.39, 11.8, 15.59) stay exact:
    *
    *   fk_micro = ⌊390000·words/sentences⌋ + ⌊11800000·syllables/words⌋
    *              − 15590000
    *
    * (each term floored independently — documented determinism trade,
    * error < 2 µ-grades). Map-only regexp counting, one scan; docs with
    * zero words are excluded (no denominator). Output: (doc_id,
    * n_sentences, n_words, n_syllables, fk_grade_micro).
    */
  def readability(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame =
    norm(docs, idCol, textCol)
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_words", expr("cast(size(toks) as bigint)"))
      .filter(col("n_words") >= 1)
      .withColumn("n_sentences", expr(
        "greatest(1L, cast(size(regexp_extract_all(text, '[.!?]+', 0)) as bigint))"))
      .withColumn("n_syllables", expr(
        """aggregate(transform(toks, t ->
             greatest(1L, cast(size(regexp_extract_all(lower(t), '[aeiouy]+', 0)) as bigint))),
           0L, (a, b) -> a + b)"""))
      .select(col("doc_id"), col("n_sentences"), col("n_words"), col("n_syllables"),
        expr("""390000L * n_words div n_sentences
                + 11800000L * n_syllables div n_words - 15590000L""")
          .as("fk_grade_micro"))
      .orderBy(col("doc_id"))

  private val qReadability = GraftQuery(
    "qt_readability",
    (s, dir) => readability(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
    m AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
        CAST(list_sum(list_transform(toks, t ->
          GREATEST(1, len(regexp_extract_all(lower(t), '[aeiouy]+'))))) AS BIGINT) AS n_syllables
      FROM t WHERE len(toks) >= 1)
    SELECT doc_id, n_sentences, n_words, n_syllables,
      CAST(390000 * n_words // n_sentences
        + 11800000 * n_syllables // n_words - 15590000 AS BIGINT) AS fk_grade_micro
    FROM m ORDER BY doc_id"""))

  /** Classifier-vs-label confusion matrix with per-cell share — the
    * evaluation rollup run after ANY per-row classifier (here the langId
    * heuristic vs the corpus's `lang` label): one (label, pred) uniform-
    * key aggregation plus a per-label window for the row-normalized
    * share in bp. The inputs are whole columns, so any predictor slots
    * in; cell counts are the precision/recall raw material.
    * Output: (labeled, predicted, n, row_share_bp) ordered by cell.
    */
  def confusionMatrix(rows: org.apache.spark.sql.DataFrame,
      labelCol: String, predCol: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("labeled"))
    rows.select(col(labelCol).as("labeled"), col(predCol).as("predicted"))
      .groupBy(col("labeled"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("_tot", sum(col("n")).over(w))
      .withColumn("row_share_bp", expr("10000 * n div _tot"))
      .drop("_tot")
      .orderBy(col("labeled"), col("predicted"))
  }

  private val qLangConfusion = GraftQuery(
    "qt_lang_confusion",
    (s, dir) => confusionMatrix(
      langId(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text")))
        .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), "doc_id"),
      "lang", "pred_lang"),
    Some(s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
    h AS (SELECT doc_id, lang,
      len(list_filter(toks, x -> x IN $stopEn)) AS en_hits,
      len(list_filter(toks, x -> x IN $stopData)) AS data_hits
    FROM t),
    p AS (SELECT lang AS labeled,
      CASE WHEN en_hits * 3 >= data_hits THEN 'en' ELSE 'data' END AS predicted
    FROM h),
    c AS (SELECT labeled, predicted, CAST(COUNT(*) AS BIGINT) AS n
      FROM p GROUP BY labeled, predicted)
    SELECT labeled, predicted, n,
      CAST(10000 * n // SUM(n) OVER (PARTITION BY labeled) AS BIGINT) AS row_share_bp
    FROM c ORDER BY labeled, predicted"""))

  /** Deterministic train/test split by CONTENT fingerprint, not row id:
    * identical documents always land in the same split, so exact
    * duplicates cannot leak from train into test. bucket ∈ [0, 100),
    * split = "train" iff bucket < trainPct. Map-only, reproducible across
    * runs and engines.
    */
  def trainTestSplit(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      trainPct: Int = 80): org.apache.spark.sql.DataFrame =
    norm(docs, idCol, textCol)
      .withColumn("nrm", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .withColumn("bucket", (expr(h60("nrm")) % 100).cast("int"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < trainPct, lit("train")).otherwise(lit("test")).as("split"))

  /** Benchmark-contamination check — the decontamination pass a training
    * pipeline runs before anything else ships: flag every training doc
    * whose normalized text exactly matches a benchmark doc, or that shares
    * ANY `window`-token shingle window with one (partial overlap — the
    * n-gram decontamination used by open-data pipelines; 8–13 token
    * windows, because short-gram overlap is all false positives).
    *
    * Scale shape: the benchmark side is MBs against a 100 TB corpus, so
    * its fingerprint and window-hash sets are aggregated tiny and
    * BROADCAST; the corpus side is one map-scan plus an explode of window
    * hashes into broadcast semi-joins — no corpus shuffle except the
    * per-doc-id distinct. Window hashing explodes the window starts and
    * hashes with top-level (whole-stage-codegen) expressions — see the
    * PERF note at `windowHashes`.
    *
    * Output: (doc_id, exact_contam, partial_contam, contaminated), one row
    * per training doc.
    */
  // Base pass: normalized fingerprint + token array, all codegen'd.
  private def contamBase(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("nrm", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
    .withColumn("fp60", expr(h60("nrm")))
    .withColumn("toks", expr(toksExpr))
    .select(col("doc_id"), col("fp60"), col("toks"))

  // Window hashes as one row per (doc, window): explode the window starts,
  // then slice/join/md5 as TOP-LEVEL expressions. Keeping the md5 out of a
  // transform() lambda keeps it inside whole-stage codegen (higher-order
  // lambdas run interpreted — this was a measured ~5× on the sf0.1 binding),
  // and the per-doc distinct that the array form needed is subsumed by the
  // post-join doc_id distinct.
  private def contamWindowHashes(b: org.apache.spark.sql.DataFrame,
      window: Int) = b
    .filter(expr(s"size(toks) >= $window"))
    .select(col("doc_id"), col("toks"),
      explode(expr(s"sequence(1, size(toks) - $window + 1)")).as("i"))
    .select(col("doc_id"),
      expr(h60(s"array_join(slice(toks, i, $window), ' ')")).as("h"))

  def contaminationCheck(train: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      benchTextCol: String = "text", window: Int = 8): org.apache.spark.sql.DataFrame = {
    val tn = contamBase(norm(train, idCol, textCol))
    val bn = contamBase(
      benchmark.select(col(benchTextCol).as("text"), lit(0L).as("doc_id")))
    val bfp = bn.select(col("fp60").as("bfp")).distinct()
    val bwh = contamWindowHashes(bn, window).select(col("h").as("bh")).distinct()
    val exact = tn.join(broadcast(bfp), col("fp60") === col("bfp"), "left_semi")
      .select(col("doc_id")).withColumn("e", lit(true))
    val part = contamWindowHashes(tn, window)
      .join(broadcast(bwh), col("h") === col("bh"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("p", lit(true))
    tn.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(part, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(false)).as("exact_contam"),
        coalesce(col("p"), lit(false)).as("partial_contam"),
        (coalesce(col("e"), lit(false)) || coalesce(col("p"), lit(false)))
          .as("contaminated"))
  }

  /** Within-document repetition removal, C4/Gopher-style: split the text on
    * `lineSep`, measure duplicate lines, and rebuild a cleaned text keeping
    * only the FIRST occurrence of each line. Map-only (array functions, no
    * shuffle, no UDF), so it composes with streaming reads.
    *
    * The keep-first filter is quadratic in lines-per-doc (array_position
    * scans the line array per element) — bounded by document size, so
    * per-row work stays constant as the corpus scales; for pathological
    * million-line single documents, explode + groupBy(doc, line) min(pos)
    * is the shuffle-based alternative.
    */
  def lineDedup(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
      textCol: String = "text", lineSep: String = "\n"): org.apache.spark.sql.DataFrame =
    norm(docs, idCol, textCol)
      // split pattern goes through the DSL, not an expr() string: SQL
      // string-literal escape parsing would mangle Pattern.quote's \Q...\E
      .withColumn("lines",
        filter(split(col("text"), java.util.regex.Pattern.quote(lineSep)),
          x => x =!= ""))
      .withColumn("kept",
        expr("filter(lines, (x, i) -> array_position(lines, x) == i + 1)"))
      .select(
        col("doc_id"),
        size(col("lines")).as("n_lines"),
        (size(col("lines")) - size(col("kept"))).as("n_dup_lines"),
        when(size(col("lines")) === 0, lit(0.0))
          .otherwise((size(col("lines")) - size(col("kept"))).cast("double") / size(col("lines")))
          .as("dup_line_ratio"),
        array_join(col("kept"), lineSep).as("clean_text"))

  /** Gopher-style within-document repetition statistics over the token
    * stream: duplicate word-3-gram fraction (all occurrences, NOT distinct
    * shingles) plus elongation cleanup — consecutive repeated tokens
    * collapsed to one, keeping the first. Map-only. The 3-gram list and the
    * collapse are built with zip_with over slices, never `toks[i]` inside a
    * lambda (computed-array indexing re-evaluates the array per element —
    * see the Nlp.shingles PERF note).
    */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame =
    norm(docs, idCol, textCol)
      .withColumn("toks", expr(toksExpr))
      .withColumn("grams", expr(
        "CASE WHEN size(toks) >= 3 THEN " +
          "zip_with(zip_with(slice(toks, 1, size(toks) - 2), slice(toks, 2, size(toks) - 2), " +
          "(x, y) -> concat(x, ' ', y)), slice(toks, 3, size(toks) - 2), " +
          "(xy, z) -> concat(xy, ' ', z)) ELSE cast(array() as array<string>) END"))
      .withColumn("collapsed", expr(
        "CASE WHEN size(toks) <= 1 THEN toks ELSE " +
          "filter(zip_with(toks, concat(array(''), slice(toks, 1, size(toks) - 1)), " +
          "(x, p) -> CASE WHEN x = p THEN NULL ELSE x END), x -> x IS NOT NULL) END"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("grams")).as("n_grams3"),
        (size(col("grams")) - expr("size(array_distinct(grams))")).as("n_dup_grams3"),
        when(size(col("grams")) === 0, lit(0.0))
          .otherwise((size(col("grams")) - expr("size(array_distinct(grams))")).cast("double")
            / size(col("grams"))).as("dup_gram_ratio"),
        (size(col("toks")) - size(col("collapsed"))).as("n_consec_dups"),
        array_join(col("collapsed"), " ").as("clean_text"))

  // ==================== driver-checked query bindings ====================

  // Token statistics: counts, char mass, deterministic avg token length.
  private val qTokens = GraftQuery(
    "qt_token_stats",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .select(
          col("doc_id"),
          col("n_chars"),
          size(col("toks")).as("n_tokens"),
          expr("aggregate(toks, 0, (acc, x) -> acc + length(x))").as("tok_chars"),
          (expr("cast(aggregate(toks, 0, (acc, x) -> acc + length(x)) as double)") /
            size(col("toks"))).as("avg_tok_len"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, n_chars, $toksSql AS toks FROM documents)
    SELECT doc_id, n_chars, len(toks) AS n_tokens,
      CAST(list_sum(list_transform(toks, x -> length(x))) AS INTEGER) AS tok_chars,
      CAST(CAST(list_sum(list_transform(toks, x -> length(x))) AS INTEGER) AS DOUBLE) / len(toks) AS avg_tok_len
    FROM t ORDER BY doc_id"""))

  // BPE-style token counting: a GPT-2-ish pre-tokenizer regex (word /
  // number / punctuation runs, each optionally space-prefixed) plus a
  // subword estimate of ceil(len/4) per pre-token — the standard cheap
  // stand-in for a real BPE vocab when budgeting training tokens. The
  // alternation is first-match-wins in both Java regex and RE2, so the
  // engines tokenize identically. Map-only, codegen'd regexp.
  private val bpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
  private val qBpeTokens = GraftQuery(
    "qt_bpe_tokens",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("pt", expr(s"regexp_extract_all(text, '$bpePattern', 0)"))
        .select(
          col("doc_id"),
          size(col("pt")).as("n_pretokens"),
          expr("aggregate(pt, 0, (acc, t) -> acc + cast(ceil(length(t) / 4.0) as int))")
            .as("est_bpe_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '$bpePattern') AS pt FROM documents)
    SELECT doc_id, len(pt) AS n_pretokens,
      CAST(list_sum(list_transform(pt, t -> CAST(ceil(length(t) / 4.0) AS INTEGER))) AS INTEGER) AS est_bpe_tokens
    FROM t ORDER BY doc_id"""))

  // Heuristic language ID: stopword-count vote with deterministic tiebreak.
  // (The n-gram-profile approach from real lang-ID reduced to the two
  // classes this synthetic vocabulary can express: English function words
  // vs data-domain jargon.)
  private val qLangId = GraftQuery(
    "qt_lang_id",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("en_hits", expr(s"size(filter(toks, x -> x IN $stopEn))"))
        .withColumn("data_hits", expr(s"size(filter(toks, x -> x IN $stopData))"))
        .select(
          col("doc_id"), col("lang").as("labeled_lang"),
          col("en_hits"), col("data_hits"),
          when(col("en_hits") * 3 >= col("data_hits"), lit("en"))
            .otherwise(lit("data")).as("pred_lang"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
    h AS (SELECT doc_id, lang,
      len(list_filter(toks, x -> x IN $stopEn)) AS en_hits,
      len(list_filter(toks, x -> x IN $stopData)) AS data_hits
    FROM t)
    SELECT doc_id, lang AS labeled_lang, en_hits, data_hits,
      CASE WHEN en_hits * 3 >= data_hits THEN 'en' ELSE 'data' END AS pred_lang
    FROM h ORDER BY doc_id"""))

  // Quality scoring: length/stopword/uniqueness ratios + a fixed-form
  // composite score. Every double comes from one IEEE division or a fixed
  // left-to-right expression, so it is bit-identical across engines.
  private val qQuality = GraftQuery(
    "qt_quality_score",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("uniq_tokens", expr("size(array_distinct(toks))"))
        .withColumn("stop_hits", expr(s"size(filter(toks, x -> x IN $stopEn))"))
        .withColumn("uniq_ratio", col("uniq_tokens").cast("double") / col("n_tokens"))
        .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens"))
        .withColumn("len_score",
          when(col("n_tokens") >= 20 && col("n_tokens") <= 80, 1.0).otherwise(0.5))
        .withColumn("quality",
          col("len_score") * 0.5 + col("uniq_ratio") * 0.3 + col("stop_ratio") * 0.2)
        .select(col("doc_id"), col("n_tokens"), col("uniq_tokens"), col("uniq_ratio"),
          col("stop_ratio"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    m AS (SELECT doc_id, len(toks) AS n_tokens,
      len(list_distinct(toks)) AS uniq_tokens,
      len(list_filter(toks, x -> x IN $stopEn)) AS stop_hits FROM t),
    r AS (SELECT doc_id, n_tokens, uniq_tokens,
      CAST(uniq_tokens AS DOUBLE) / n_tokens AS uniq_ratio,
      CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
      CASE WHEN n_tokens >= 20 AND n_tokens <= 80 THEN 1.0 ELSE 0.5 END AS len_score
    FROM m)
    SELECT doc_id, n_tokens, uniq_tokens, uniq_ratio, stop_ratio,
      len_score * 0.5 + uniq_ratio * 0.3 + stop_ratio * 0.2 AS quality
    FROM r ORDER BY doc_id"""))

  // Document fingerprinting: md5 of the whitespace-normalized text plus a
  // 60-bit numeric fingerprint (the join-key form used by exact dedup).
  private val qFingerprint = GraftQuery(
    "qt_fingerprint",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("norm", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
        .select(
          col("doc_id"),
          md5(col("norm").cast("binary")).as("fp_md5"),
          expr(h60("norm")).as("fp60"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents)
    SELECT doc_id, md5(norm) AS fp_md5, ${h60Sql("norm")} AS fp60
    FROM t ORDER BY doc_id"""))

  /** Language rebalancing: deterministically downsample each language to
    * at most `cap` documents — the data-mix operation that keeps an
    * over-represented language from dominating a training corpus. The
    * kept subset is selected by content-fingerprint order (reproducible
    * across runs/engines, independent of ingestion order), not by random
    * sampling.
    */
  def rebalanceByLang(docs: org.apache.spark.sql.DataFrame, cap: Int,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("fp60"), col("doc_id"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"), col(langCol).as("lang"))
      .withColumn("nrm", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .withColumn("fp60", expr(h60("nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("doc_id"), col("lang"), col("rn"))
  }

  private val qRebalance = GraftQuery(
    "qt_lang_rebalance",
    (s, dir) => rebalanceByLang(Tables.documents(s, dir), cap = 100)
      .orderBy(col("lang"), col("rn")),
    Some(s"""WITH t AS (SELECT doc_id, lang,
      ${h60Sql("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")} AS fp60 FROM documents),
    r AS (SELECT doc_id, lang,
      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY fp60, doc_id) AS rn FROM t)
    SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 100
    ORDER BY lang, rn"""))

  private val qSplit = GraftQuery(
    "qt_train_test_split",
    (s, dir) => trainTestSplit(Tables.documents(s, dir)).orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id,
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nrm FROM documents)
    SELECT doc_id, CAST(${h60Sql("nrm")} % 100 AS INTEGER) AS bucket,
      CASE WHEN ${h60Sql("nrm")} % 100 < 80 THEN 'train' ELSE 'test' END AS split
    FROM t ORDER BY doc_id"""))

  // Gopher-style repetition stats: 27/500 sf0.01 docs carry duplicate
  // 3-grams and 388/500 carry consecutive repeated tokens, so both metrics
  // and the collapsed clean_text are non-degenerate under the gate.
  private val qRepetition = GraftQuery(
    "qt_repetition",
    (s, dir) => repetitionStats(Tables.documents(s, dir)).orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    g AS (SELECT doc_id, toks,
      CASE WHEN len(toks) >= 3 THEN list_transform(generate_series(1, len(toks) - 2),
        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) ELSE [] END AS grams,
      list_filter(toks, (x, i) -> i = 1 OR toks[i-1] != x) AS collapsed
    FROM t)
    SELECT doc_id, len(toks) AS n_tokens, len(grams) AS n_grams3,
      len(grams) - len(list_distinct(grams)) AS n_dup_grams3,
      CASE WHEN len(grams) = 0 THEN 0.0
        ELSE CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams) END AS dup_gram_ratio,
      len(toks) - len(collapsed) AS n_consec_dups,
      array_to_string(collapsed, ' ') AS clean_text
    FROM g ORDER BY doc_id"""))

  // Within-doc line dedup over a deterministic line view (2-token chunks —
  // 181/500 sf0.01 docs contain a duplicate chunk, so the keep-first
  // removal is exercised for real). Both engines construct the same view,
  // then run the same keep-first-occurrence semantics.
  private val qLineDedup = GraftQuery(
    "qt_line_dedup",
    (s, dir) => {
      val lineView = Tables.documents(s, dir)
        .withColumn("toks", expr(toksExpr))
        .withColumn("lines0", expr(
          "CASE WHEN size(toks) = 0 THEN cast(array() as array<string>) ELSE " +
            "transform(sequence(1, cast(ceil(size(toks) / 2.0) as int)), " +
            "i -> array_join(slice(toks, (i - 1) * 2 + 1, 2), ' ')) END"))
        .select(col("doc_id"), array_join(col("lines0"), "\n").as("text"))
      lineDedup(lineView).orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    lv AS (SELECT doc_id,
      CASE WHEN len(toks) = 0 THEN []
        ELSE list_transform(generate_series(1, CAST(ceil(len(toks) / 2.0) AS BIGINT)),
          i -> array_to_string(toks[(i-1)*2+1:i*2], ' ')) END AS lines
    FROM t),
    d AS (SELECT doc_id, lines,
      list_filter(lines, (x, i) -> list_position(lines, x) = i) AS kept FROM lv)
    SELECT doc_id, len(lines) AS n_lines,
      len(lines) - len(kept) AS n_dup_lines,
      CASE WHEN len(lines) = 0 THEN 0.0
        ELSE CAST(len(lines) - len(kept) AS DOUBLE) / len(lines) END AS dup_line_ratio,
      array_to_string(kept, chr(10)) AS clean_text
    FROM d ORDER BY doc_id"""))

  // Contamination check with documents(doc_id % 17 = 0) standing in as the
  // benchmark set: 30 exact hits (the benchmark members re-found in train)
  // plus 2 genuine partial-overlap contaminants at sf0.01 — non-degenerate
  // on both flags.
  private val qContamination = GraftQuery(
    "qt_contamination",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      contaminationCheck(docs, docs.filter(col("doc_id") % 17 === 0))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tn AS (SELECT doc_id,
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nrm,
      $toksSql AS toks FROM documents),
    tf AS (SELECT doc_id, ${h60Sql("nrm")} AS fp60, toks FROM tn),
    tw AS (SELECT doc_id, fp60, CASE WHEN len(toks) >= 8 THEN
        list_distinct(list_transform(generate_series(1, len(toks) - 7),
          i -> ${h60Sql("array_to_string(toks[i:i+7], ' ')")}))
      ELSE [] END AS wh FROM tf),
    bfp AS (SELECT DISTINCT fp60 AS bfp FROM tf WHERE doc_id % 17 = 0),
    bsh AS (SELECT DISTINCT h AS bh FROM
      (SELECT unnest(wh) AS h FROM tw WHERE doc_id % 17 = 0)),
    ex AS (SELECT DISTINCT doc_id FROM tf JOIN bfp ON fp60 = bfp),
    pt AS (SELECT DISTINCT doc_id FROM
      (SELECT doc_id, unnest(wh) AS h FROM tw) u JOIN bsh ON h = bh)
    SELECT t.doc_id,
      t.doc_id IN (SELECT doc_id FROM ex) AS exact_contam,
      t.doc_id IN (SELECT doc_id FROM pt) AS partial_contam,
      t.doc_id IN (SELECT doc_id FROM ex) OR t.doc_id IN (SELECT doc_id FROM pt)
        AS contaminated
    FROM tf t ORDER BY t.doc_id"""))

  /** Deterministic stratified sampling: exactly `min(k, |stratum|)` rows
    * per stratum, chosen by content-hash rank — reproducible across runs,
    * engines, and cluster layouts, unlike `sampleBy` (Bernoulli per row:
    * approximate counts, RNG-partition-order dependent). Rank is
    * `row_number` over (h60(text ⊕ salt), doc_id) inside each stratum; the
    * salt decorrelates this sample from every other hash-keyed decision
    * (mix/split) on the same corpus.
    *
    * Scale shape: the `rank <= k` filter on a window rewrites to
    * WindowGroupLimit (pinned in PlanAuditSpec) — every input partition
    * keeps at most k rows PER STRATUM before the shuffle, so the exchange
    * carries ~k·parts rows per stratum, not the stratum itself. A
    * billion-row stratum therefore never funnels through one task's sort;
    * the post-shuffle per-stratum merge handles k·parts rows.
    *
    * Output: (doc_id, stratum, rk) for the sampled rows, ordered.
    */
  def stratifiedSample(docs: org.apache.spark.sql.DataFrame, k: Int,
      stratumCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text", salt: String = "strat"): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum"))
      .orderBy(col("hr"), col("doc_id"))
    docs.select(col(idCol).as("doc_id"), col(stratumCol).as("stratum"),
        col(textCol).as("text"))
      .withColumn("hr", expr(h60(s"concat(text, '|$salt')")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("stratum"), col("rk"))
      .orderBy(col("stratum"), col("rk"))
  }

  private val StratK = 20

  private val qStratified = GraftQuery(
    "qt_stratified_sample",
    (s, dir) => stratifiedSample(Tables.documents(s, dir), StratK),
    Some(s"""WITH h AS (SELECT doc_id, lang AS stratum,
      ${h60Sql("text || '|strat'")} AS hr FROM documents),
    r AS (SELECT doc_id, stratum,
      ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY hr, doc_id) AS rk FROM h)
    SELECT doc_id, stratum, CAST(rk AS INTEGER) AS rk FROM r
    WHERE rk <= $StratK ORDER BY stratum, rk"""))

  /** Deterministic weighted sampling WITHOUT replacement (the
    * priority-sampling family — Duffield/Lund/Thorup 2007: give row i
    * priority u_i/w_i and keep the k smallest). The uniform u is 30
    * salted hash bits of the row id and the sort key is the EXACT
    * integer quotient (u·10⁹) DIV w — no ln, no pow, no RNG state — so
    * the chosen sample is bit-reproducible across engines, runs, and
    * partitionings (the same log-free-determinism stance as the DSIR
    * weights). Doubling a row's weight halves its expected key, so
    * inclusion probability scales with w; zero/negative-weight rows are
    * excluded by definition.
    *
    * Scale shape: map-only key projection + global k-smallest, which
    * Spark plans as TakeOrderedAndProject (per-partition top-k, one
    * k·parts merge — never a global sort).
    *
    * Output: (doc_id, w, skey) ascending by (skey, doc_id).
    */
  def weightedSample(docs: org.apache.spark.sql.DataFrame, k: Int,
      weight: org.apache.spark.sql.Column, idCol: String = "doc_id",
      salt: String = "wsample"): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    docs.select(col(idCol).as("doc_id"), weight.cast("long").as("w"))
      .filter(col("w") >= 1)
      .withColumn("skey", expr(s"((${h60(s"concat('$salt', cast(doc_id as string))")}" +
        " & 1073741823) * 1000000000) DIV w"))
      .orderBy(col("skey"), col("doc_id")).limit(k)
      .select(col("doc_id"), col("w"), col("skey"))
  }

  private val WeightedK = 50

  // Weight = token count: length-proportional document sampling, the
  // common corpus-subsample shape (sampling documents ∝ tokens samples
  // TOKENS uniformly).
  private val qWeighted = GraftQuery(
    "qt_weighted_sample",
    (s, dir) => weightedSample(Tables.documents(s, dir), WeightedK,
      size(expr(toksExpr))),
    Some(s"""WITH t AS (SELECT doc_id, len($toksSql) AS w FROM documents),
    h AS (SELECT doc_id, w,
      ${h60Sql("'wsample' || CAST(doc_id AS VARCHAR)")} & 1073741823 AS u30
      FROM t WHERE w >= 1),
    sk AS (SELECT doc_id, w, (u30 * 1000000000) // w AS skey FROM h)
    SELECT doc_id, w, skey FROM sk ORDER BY skey, doc_id LIMIT $WeightedK"""))

  /** Per-group duplicate-n-gram rate: the share of a group's (doc,
    * 3-gram) occurrences whose 3-gram appears in MORE THAN ONE document
    * corpus-wide — the memorization-risk readout behind "dedup before
    * training" (near-verbatim text that survives doc-level dedup shows
    * up here as a high rate). Shingles are per-doc DISTINCT, so the
    * cross-doc count of a shingle = its document frequency; occurrences
    * travel as 60-bit hashes (16 bytes/row through the shuffle, not the
    * shingle string).
    *
    * Plan: shingle explode (map-side Generate) → df count on the uniform
    * hash key → one hash join back → per-group agg. Two shuffles, both
    * on uniform keys; linear in total shingle volume.
    */
  def dupNgramRate(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      groupCol: String = "source"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, explode}
    val occ = docs
      .select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
        expr(toksExprOn(textCol)).as("toks"))
      .select(col("doc_id"), col("grp"),
        explode(expr(Nlp.shingles("toks"))).as("sh"))
      .filter(col("sh") =!= "")
      .select(col("doc_id"), col("grp"), expr(h60("sh")).as("h"))
      // r15: occ feeds both the df count and the join back — checkpoint
      // so the tokenize+shingle+hash explode runs once, not twice
      .localCheckpoint()
    val df60 = occ.groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
    occ.join(df60, "h")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("dup_grams"))
      .select(col("grp").as("source"), col("n_grams"), col("dup_grams"),
        expr("(10000 * dup_grams) div n_grams").as("dup_rate_bp"))
      .orderBy(col("source"))
  }

  private val qDupNgram = GraftQuery(
    "qt_dup_ngram_rate",
    (s, dir) => dupNgramRate(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
    shl AS (SELECT doc_id, source, ${shinglesSql("toks")} AS sh FROM t),
    sx AS (SELECT doc_id, source, unnest(sh) AS shingle FROM shl),
    f AS (SELECT doc_id, source, ${h60Sql("shingle")} AS h
      FROM sx WHERE shingle != ''),
    c AS (SELECT h, COUNT(*) AS ndocs FROM f GROUP BY h)
    SELECT f.source, COUNT(*) AS n_grams,
      CAST(SUM(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
      CAST((10000 * SUM(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END))
        // COUNT(*) AS BIGINT) AS dup_rate_bp
    FROM f JOIN c USING (h) GROUP BY f.source ORDER BY f.source"""))

  /** Corpus percentile rank of any per-row integer feature — the
    * quantile-normalization every threshold-free curation rule wants
    * ("drop the worst 5 %" instead of hand-picked cutoffs, stable under
    * any monotone rescale of the raw feature). pct_bp is the inclusive
    * ECDF in basis points, ⌊10⁴·cum/n⌋.
    *
    * Plan: value-DOMAIN collapse (groupBy value) → the distributed
    * two-level cumsum ([[Scans.rangedCumSum]] — no single-partition
    * window even when the distinct-value domain scales with the corpus)
    * → one hash join back on the value key. No per-row rank window ever
    * runs.
    */
  def percentileRank(rows: org.apache.spark.sql.DataFrame, idCol: String,
      valueCol: String): org.apache.spark.sql.DataFrame = {
    val base = rows.select(col(idCol).as("_id"), col(valueCol).as("_v"))
      .filter(col("_v").isNotNull)
    val g = base.groupBy(col("_v")).agg(count(lit(1)).as("k"))
    val cum = Scans.rangedCumSum(g, "_v", col("k"), "cum")
      .select(col("_v"), col("cum"))
    val tot = g.agg(sum(col("k")).as("n"))
    base.join(cum, "_v").crossJoin(broadcast(tot))
      .select(col("_id").as(idCol), col("_v").as(valueCol),
        expr("CAST((10000 * cum) div n AS BIGINT)").as("pct_bp"))
  }

  /** Each doc's corpus percentile of Flesch–Kincaid grade — readability
    * quantile-normalized for threshold-free band filters.
    */
  /** Readability percentiles are the shared prefix of
    * qt_readability_percentile and qt_curriculum — ranked once per
    * (session, sf).
    */
  private[analytics] def fkPercentiles(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Memo.cached(s, s"fkPercentiles:$dir")(
      percentileRank(
        readability(Tables.documents(s, dir))
          .select(col("doc_id"), col("fk_grade_micro")),
        "doc_id", "fk_grade_micro"))

  private val qReadPct = GraftQuery(
    "qt_readability_percentile",
    (s, dir) => fkPercentiles(s, dir).orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
    m AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
        CAST(list_sum(list_transform(toks, t ->
          GREATEST(1, len(regexp_extract_all(lower(t), '[aeiouy]+'))))) AS BIGINT) AS n_syllables
      FROM t WHERE len(toks) >= 1),
    fk AS (SELECT doc_id,
        CAST(390000 * n_words // n_sentences
          + 11800000 * n_syllables // n_words - 15590000 AS BIGINT) AS fk_grade_micro
      FROM m),
    g AS (SELECT fk_grade_micro, COUNT(*) AS k FROM fk GROUP BY fk_grade_micro),
    c AS (SELECT fk_grade_micro, SUM(k) OVER (ORDER BY fk_grade_micro
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER () AS n
      FROM g)
    SELECT fk.doc_id, fk.fk_grade_micro,
      CAST((10000 * c.cum) // c.n AS BIGINT) AS pct_bp
    FROM fk JOIN c ON fk.fk_grade_micro = c.fk_grade_micro ORDER BY fk.doc_id"""))

  /** Per-source doc-length histogram on the power-of-two grid: the
    * bucket is bit-length (length of the binary representation — an
    * exact integer ⌊log₂⌋+1 with no float log in either engine). The
    * "is this source all tweets or all books" scan-level readout.
    */
  private val qLengthHist = GraftQuery(
    "qprof_length_hist",
    (s, dir) => Tables.documents(s, dir)
      .filter(col("n_chars") >= 1)
      .groupBy(col("source"), length(bin(col("n_chars"))).cast("long").as("bits"))
      .agg(count(lit(1)).as("n"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"), col("bits")),
    Some("""SELECT source, CAST(length(bin(n_chars)) AS BIGINT) AS bits,
      COUNT(*) AS n, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents WHERE n_chars >= 1
    GROUP BY source, bits ORDER BY source, bits"""))

  /** T5-style span corruption — the TRAINING-PAIR GENERATOR stage:
    * tokens are grouped into 3-token spans, ~15 % of spans (hash-chosen:
    * h60(doc:span) mod 20 < 3 — the bootstrap derandomization, so both
    * engines corrupt the identical spans) are replaced by a sentinel in
    * the input and concatenated into the target. Output is the actual
    * (input, target) example pair per doc plus mask accounting.
    *
    * Plan: token Generate → (doc, span) agg rebuilding span text with an
    * ORDER-PINNED aggregation (struct-sorted collect on the Spark side,
    * ORDER BY inside string_agg on DuckDB — collect_list alone has no
    * order contract) → per-doc agg assembling the pair the same way.
    * Two uniform-key shuffles, linear in tokens.
    */
  private val qSpanCorrupt = GraftQuery(
    "qt_span_corruption",
    (s, dir) => {
      val e = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(expr(toksExpr)).as(Seq("pos", "tok")))
        .withColumn("span", expr("pos div 3"))
      val sp = e.groupBy(col("doc_id"), col("span"))
        .agg(expr("concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok))")
          .as("txt"))
        .withColumn("masked", expr(s"${h60("concat(doc_id, ':', span)")} % 20 < 3"))
      sp.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
          expr("""concat_ws(' ', transform(array_sort(collect_list(
              struct(span, CASE WHEN masked THEN '<extra>' ELSE txt END AS piece))),
              x -> x.piece))""").as("input"),
          expr("""concat_ws(' ', transform(filter(array_sort(collect_list(
              struct(span, masked, txt))), x -> x.masked), x -> x.txt))""")
            .as("target"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    e AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
      FROM t, unnest(generate_series(1, len(toks))) g(i)),
    sp AS (SELECT doc_id, pos // 3 AS span,
        string_agg(tok, ' ' ORDER BY pos) AS txt
      FROM e GROUP BY doc_id, pos // 3),
    m AS (SELECT doc_id, span, txt,
        ${h60Sql("doc_id || ':' || span")} % 20 < 3 AS masked FROM sp)
    SELECT doc_id, COUNT(*) AS n_spans,
      CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
      string_agg(CASE WHEN masked THEN '<extra>' ELSE txt END, ' '
        ORDER BY span) AS input,
      COALESCE(string_agg(CASE WHEN masked THEN txt END, ' '
        ORDER BY span), '') AS target
    FROM m GROUP BY doc_id ORDER BY doc_id"""))

  /** Fill-in-the-middle (PSM) transform — the second training-pair
    * generator: each doc's token stream is split at two hash-derived
    * points (p1 = h mod ⌈n/2⌉, p2 = p1 + 1 + h' mod (n−p1−1), both
    * derandomized per doc), and re-emitted in prefix–suffix–middle
    * order with sentinels — the causal-LM infilling format. Docs with
    * < 3 tokens pass through unsplit (fim_applied = false, psm = text).
    *
    * Map-only: slice/concat on the token array per row, no shuffle at
    * all — composes with readStream like every other map-only text op.
    */
  private val qFim = GraftQuery(
    "qt_fim_transform",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"), col("toks"))
      .withColumn("p1", expr(
        s"CASE WHEN n >= 3 THEN ${h60("concat('fim1:', doc_id)")} % ((n + 1) div 2) END"))
      .withColumn("p2", expr(
        s"CASE WHEN n >= 3 THEN p1 + 1 + ${h60("concat('fim2:', doc_id)")} % (n - p1 - 1) END"))
      .select(col("doc_id"), col("n"), (col("n") >= 3).as("fim_applied"),
        expr("""CASE WHEN n >= 3 THEN concat(
            '<pre> ', concat_ws(' ', slice(toks, 1, cast(p1 as int))),
            ' <suf> ', concat_ws(' ', slice(toks, cast(p2 + 1 as int), cast(n - p2 as int))),
            ' <mid> ', concat_ws(' ', slice(toks, cast(p1 + 1 as int), cast(p2 - p1 as int))))
          ELSE concat_ws(' ', toks) END""").as("psm"))
      .orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n, toks FROM t),
    p AS (SELECT doc_id, n, toks,
        CASE WHEN n >= 3 THEN ${h60Sql("'fim1:' || doc_id")} % ((n + 1) // 2) END AS p1
      FROM b),
    q AS (SELECT doc_id, n, toks, p1,
        CASE WHEN n >= 3 THEN p1 + 1 + ${h60Sql("'fim2:' || doc_id")} % (n - p1 - 1) END AS p2
      FROM p)
    SELECT doc_id, n, n >= 3 AS fim_applied,
      CASE WHEN n >= 3 THEN
        '<pre> ' || COALESCE(array_to_string(list_slice(toks, 1, p1), ' '), '')
        || ' <suf> ' || COALESCE(array_to_string(list_slice(toks, p2 + 1, n), ' '), '')
        || ' <mid> ' || COALESCE(array_to_string(list_slice(toks, p1 + 1, p2), ' '), '')
      ELSE COALESCE(array_to_string(toks, ' '), '') END AS psm
    FROM q ORDER BY doc_id"""))

  // ------------------------------------------- semantic chunk boundaries
  /** TextTiling-style topic-shift boundaries (Hearst 1997, the
    * exact-integer core): cut a document where adjacent token blocks stop
    * sharing vocabulary — the "semantic chunking" upgrade over
    * fixed-window RAG chunking ([[graft.analytics.TextOps]] `chunk`),
    * which splits mid-topic by construction. Blocks are `w` consecutive
    * tokens; boundary similarity is the multiset vocabulary overlap
    * Σ_t min(count_t(b), count_t(b+1)) — an integer, no cosine — and a
    * boundary is a CUT when it is a strict local minimum of the
    * similarity sequence AND its overlap is under ¼ block (4·sim < w).
    *
    * Plan: posexplode → (doc, block, token) counts (checkpointed — four
    * consumers) → adjacent-block equi-join on (doc, token) → per-doc
    * lag/lead windows (partitioned by doc, uniform) → filter. Everything
    * linear in tokens; no global windows, no pair scans.
    *
    * Output: one row per cut — (doc_id, boundary, sim, prev_sim,
    * next_sim), boundary b meaning "cut between blocks b and b+1",
    * ordered by (doc_id, boundary).
    */
  def textTiling(docs: org.apache.spark.sql.DataFrame, w: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(w >= 2, s"block width must be >= 2, got $w")
    import org.apache.spark.sql.expressions.Window
    val c = docs
      .select(col(idCol).as("doc_id"),
        posexplode(expr(toksExprOn(textCol))).as(Seq("pos", "tok")))
      .select(col("doc_id"), expr(s"pos div $w").as("blk"), col("tok"))
      .groupBy(col("doc_id"), col("blk"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val mb = c.groupBy(col("doc_id")).agg(max(col("blk")).as("mx"))
    val bnd = c.select(col("doc_id"), col("blk")).distinct()
      .join(mb, "doc_id").filter(col("blk") < col("mx"))
      .select(col("doc_id"), col("blk").as("bnd"))
    val a = c.select(col("doc_id"), col("blk").as("bnd"), col("tok"),
      col("n").as("na"))
    val b = c.select(col("doc_id"), (col("blk") - 1).as("bnd"), col("tok"),
      col("n").as("nb"))
    val ov = a.join(b, Seq("doc_id", "bnd", "tok"))
      .groupBy(col("doc_id"), col("bnd"))
      .agg(sum(least(col("na"), col("nb"))).as("sim0"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("bnd"))
    bnd.join(ov, Seq("doc_id", "bnd"), "left")
      .withColumn("sim", coalesce(col("sim0"), lit(0L)))
      .withColumn("ps", lag(col("sim"), 1).over(wd))
      .withColumn("ns", lead(col("sim"), 1).over(wd))
      .filter(col("ps").isNotNull && col("ns").isNotNull &&
        col("sim") < col("ps") && col("sim") < col("ns") &&
        col("sim") * 4 < w)
      .select(col("doc_id"), col("bnd").as("boundary"), col("sim"),
        col("ps").as("prev_sim"), col("ns").as("next_sim"))
      .orderBy(col("doc_id"), col("boundary"))
  }

  private val TileW = 20

  private val qTextTiling = GraftQuery(
    "qt_text_tiling",
    (s, dir) => textTiling(Tables.documents(s, dir), TileW),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    tok AS (SELECT doc_id, (i - 1) // $TileW AS blk, toks[i] AS tok
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g),
    c AS (SELECT doc_id, blk, tok, COUNT(*) AS n FROM tok GROUP BY 1, 2, 3),
    mb AS (SELECT doc_id, MAX(blk) AS mx FROM c GROUP BY doc_id),
    bnd AS (SELECT DISTINCT c.doc_id, c.blk AS bnd
      FROM c JOIN mb ON c.doc_id = mb.doc_id WHERE c.blk < mb.mx),
    ov AS (SELECT a.doc_id, a.blk AS bnd, SUM(LEAST(a.n, b.n)) AS sim
      FROM c a JOIN c b ON a.doc_id = b.doc_id AND a.tok = b.tok
        AND b.blk = a.blk + 1
      GROUP BY 1, 2),
    s AS (SELECT bnd.doc_id, bnd.bnd, COALESCE(ov.sim, 0) AS sim
      FROM bnd LEFT JOIN ov ON bnd.doc_id = ov.doc_id AND bnd.bnd = ov.bnd),
    w AS (SELECT doc_id, bnd, sim,
        LAG(sim) OVER (PARTITION BY doc_id ORDER BY bnd) AS ps,
        LEAD(sim) OVER (PARTITION BY doc_id ORDER BY bnd) AS ns
      FROM s)
    SELECT doc_id, CAST(bnd AS BIGINT) AS boundary, CAST(sim AS BIGINT) AS sim,
      CAST(ps AS BIGINT) AS prev_sim, CAST(ns AS BIGINT) AS next_sim
    FROM w
    WHERE ps IS NOT NULL AND ns IS NOT NULL AND sim < ps AND sim < ns
      AND 4 * sim < $TileW
    ORDER BY doc_id, boundary"""))

  // ------------------------------- temperature-scaled sampling weights
  /** Temperature-scaled multilingual/domain sampling weights at τ = 1/2
    * (the exponential-smoothing mix XLM-R/mT5 popularized): sampling
    * probability pᵢ ∝ nᵢ^τ flattens the natural distribution so head
    * languages stop drowning the tail — the WEIGHT computation
    * companion to [[rebalanceByLang]]'s hard cap.
    *
    * τ = 1/2 keeps this exact: nᵢ^½ is the integer square root,
    * computed as one fixed-form double sqrt + a two-sided integer
    * correction (`r ± 1` so r² ≤ n < (r+1)² holds EXACTLY whatever the
    * double rounding did) — so weights, shares, and boosts are pure
    * integer arithmetic with no order-dependent double sums anywhere
    * (a float Σnᵢ^τ over a group frame would be aggregation-order
    * nondeterministic). One group-domain agg; 1-row broadcast totals.
    *
    * Output: (lang, n_docs, nat_bp, tau_bp, boost_milli) by lang —
    * boost = pᵢ(τ)/pᵢ(natural), > 1000 for tail languages.
    */
  def temperatureWeights(docs: org.apache.spark.sql.DataFrame,
      groupCol: String = "lang"): org.apache.spark.sql.DataFrame = {
    val isq = "CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"
    val g = docs.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"))
      .withColumn("r0", expr(isq))
      .withColumn("rt", expr(
        "r0 - CAST(r0 * r0 > n AS BIGINT) " +
          "+ CAST((r0 + 1) * (r0 + 1) <= n AS BIGINT)"))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("rt")).as("s"))
    g.crossJoin(broadcast(tot))
      .select(col("grp").as("lang"), col("n").as("n_docs"),
        expr("CAST(10000 * n div nn AS BIGINT)").as("nat_bp"),
        expr("CAST(10000 * rt div s AS BIGINT)").as("tau_bp"),
        expr("""CAST((1000 * rt * nn) div (s * n) AS BIGINT)""")
          .as("boost_milli"))
      .orderBy(col("lang"))
  }

  private val qTauWeights = GraftQuery(
    "qt_tau_weights",
    (s, dir) => temperatureWeights(Tables.documents(s, dir)),
    Some("""WITH g AS (SELECT lang AS grp, COUNT(*) AS n FROM documents
      GROUP BY lang),
    r AS (SELECT grp, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS r0
      FROM g),
    q AS (SELECT grp, n,
        r0 - CAST(r0 * r0 > n AS BIGINT)
          + CAST((r0 + 1) * (r0 + 1) <= n AS BIGINT) AS rt FROM r),
    t AS (SELECT SUM(n) AS nn, SUM(rt) AS s FROM q)
    SELECT grp AS lang, CAST(n AS BIGINT) AS n_docs,
      CAST(10000 * n // t.nn AS BIGINT) AS nat_bp,
      CAST(10000 * rt // t.s AS BIGINT) AS tau_bp,
      CAST((1000 * rt * t.nn) // (t.s * n) AS BIGINT) AS boost_milli
    FROM q, t ORDER BY lang"""))

  // ----------------------------------------------- chi-square keyness
  /** Keyness analysis — which terms are statistically OVER-represented
    * in one subcorpus vs the rest (the corpus-linguistics comparison
    * behind "what makes this source different", cf. Rayson & Garside):
    * per term, the 2×2 chi-square over (occurrences in A, occurrences
    * in B) against the token totals,
    *
    *   χ² = N·(a·d − b·c)² / ((a+b)(c+d)(a+c)(b+d)),
    *
    * exact integers in DECIMAL(38,0), milli-floored; `enriched` marks
    * direction (a·NB > b·NA). Dunning's G² is the log-likelihood
    * variant — ln() is not cross-engine-exact, χ² is, same ranking in
    * practice. One token Generate → (term, side) counts → term-domain
    * rollup; top k by χ².
    *
    * Output: (w, a, b, enriched, chi2_milli) by χ² desc, term asc.
    */
  def keyness(docs: org.apache.spark.sql.DataFrame, isA: Column,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    val c = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        isA.cast("int").as("ia"))
      .select(col("ia"), explode(expr(toksExpr)).as("w"))
      .groupBy(col("w"))
      .agg(sum(col("ia")).as("a"), sum(lit(1) - col("ia")).as("b"))
    val tot = c.agg(sum(col("a")).cast("decimal(38,0)").as("na"),
      sum(col("b")).cast("decimal(38,0)").as("nb"))
    c.crossJoin(broadcast(tot))
      .select(col("w"), col("a"), col("b"),
        (dec(col("a")) * col("nb") > dec(col("b")) * col("na")).as("enriched"),
        expr("""CAST((1000 * (na + nb)
            * (CAST(a AS DECIMAL(38,0)) * (nb - b) - CAST(b AS DECIMAL(38,0)) * (na - a))
            * (CAST(a AS DECIMAL(38,0)) * (nb - b) - CAST(b AS DECIMAL(38,0)) * (na - a)))
          div nullif((CAST(a AS DECIMAL(38,0)) + b) * (na - a + nb - b) * na * nb,
            CAST(0 AS DECIMAL(38,0))) AS BIGINT)""").as("chi2_milli"))
      .orderBy(col("chi2_milli").desc, col("w"))
      .limit(k)
  }

  private def dec(c: Column) = c.cast("decimal(38,0)")

  private val qKeyness = GraftQuery(
    "qt_keyness",
    (s, dir) => keyness(Tables.documents(s, dir), col("source") === "src0"),
    Some(s"""WITH t AS (SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS ia,
        unnest($toksSql) AS w FROM documents),
    c AS (SELECT w, CAST(SUM(ia) AS HUGEINT) AS a,
        CAST(SUM(1 - ia) AS HUGEINT) AS b FROM t GROUP BY w),
    tt AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM c)
    SELECT w, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
      a * tt.nb > b * tt.na AS enriched,
      CAST((1000 * (tt.na + tt.nb)
          * (a * (tt.nb - b) - b * (tt.na - a))
          * (a * (tt.nb - b) - b * (tt.na - a)))
        // NULLIF((a + b) * (tt.na - a + tt.nb - b) * tt.na * tt.nb, 0)
        AS BIGINT) AS chi2_milli
    FROM c, tt ORDER BY chi2_milli DESC, w LIMIT 20"""))

  // -------------------------------------------- Neyman allocation
  /** Neyman-optimal stratified sample allocation with Hamilton
    * largest-remainder rounding — the DESIGN step in front of
    * qt_stratified_sample's execution step: minimum-variance allocation
    * of a fixed budget puts n_h ∝ N_h·σ_h (Neyman 1934), sampling
    * high-variance strata past their population share where
    * proportional allocation wastes budget on homogeneous ones.
    *
    * Exactness: per-stratum variance is the integer floor of
    * (N·Σx²−(Σx)²)/(N(N−1)); σ_h is the fixed-form-double isqrt with
    * the two-sided integer correction (the [[temperatureWeights]]
    * convention — exactness restored by integer comparisons). Rounding
    * is Hamilton's: floor shares by one decimal division, then the
    * budget−Σfloor leftover units go to the largest remainders
    * (ties by stratum name) — so Σ alloc == budget EXACTLY, no float
    * apportionment drift. One corpus scan to a strata-sized frame;
    * everything after is k-row arithmetic (the remainder rank is an
    * alphabet-sized window — benign by construction). Degenerate edge:
    * an all-zero-variance corpus has no Neyman signal and falls back
    * to lexicographic leftovers, documented not hidden.
    *
    * Output: (grp, n_docs, sigma, alloc) ordered by grp.
    */
  def neymanAllocation(docs: org.apache.spark.sql.DataFrame, strataCol: String,
      measure: Column, budget: Long): org.apache.spark.sql.DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    import org.apache.spark.sql.expressions.Window
    val g = docs.select(col(strataCol).as("grp"), measure.cast("long").as("x"))
      .filter(col("x").isNotNull)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("nh"), sum(dec(col("x"))).as("sx"),
        sum(dec(col("x")) * col("x")).as("sx2"))
      .withColumn("s2", coalesce(expr(
        """CAST((nh * sx2 - sx * sx)
          div nullif(CAST(nh AS DECIMAL(38,0)) * (nh - 1),
            CAST(0 AS DECIMAL(38,0))) AS BIGINT)"""), lit(0L)))
      .withColumn("r0", expr("CAST(floor(sqrt(CAST(s2 AS DOUBLE))) AS BIGINT)"))
      .withColumn("sg", expr("r0 - CAST(r0 * r0 > s2 AS BIGINT)" +
        " + CAST((r0 + 1) * (r0 + 1) <= s2 AS BIGINT)"))
      .withColumn("wgt", expr("CAST(nh AS DECIMAL(38,0)) * sg"))
    val tw = g.agg(sum(col("wgt")).as("sw"))
    val shares = g.crossJoin(broadcast(tw))
      .withColumn("share", coalesce(expr(
        s"CAST(($budget * wgt) div nullif(sw, CAST(0 AS DECIMAL(38,0)))" +
          " AS BIGINT)"), lit(0L)))
      .withColumn("rem", coalesce(expr(
        s"CAST(($budget * wgt) % nullif(sw, CAST(0 AS DECIMAL(38,0)))" +
          " AS BIGINT)"), lit(0L)))
      .localCheckpoint() // strata-sized; consumed by the total AND the rank
    val ts = shares.agg(sum(col("share")).as("tot"))
    val wr = Window.orderBy(col("rem").desc, col("grp"))
    shares.crossJoin(broadcast(ts))
      .withColumn("rk", row_number().over(wr))
      .select(col("grp"), col("nh").as("n_docs"), col("sg").as("sigma"),
        (col("share") +
          when(col("rk") <= lit(budget) - col("tot"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("grp"))
  }

  /** Allocate a 1000-doc inspection budget across languages by n_chars
    * dispersion — the variance-aware upgrade of a proportional split.
    */
  private val qNeyman = GraftQuery(
    "qt_neyman_alloc",
    (s, dir) => neymanAllocation(Tables.documents(s, dir), "lang",
      col("n_chars"), budget = 1000L),
    Some("""WITH g AS (SELECT lang AS grp, CAST(COUNT(*) AS HUGEINT) AS nh,
        CAST(SUM(n_chars) AS HUGEINT) AS sx,
        SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sx2
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
    v AS (SELECT grp, nh,
        COALESCE((nh * sx2 - sx * sx) // NULLIF(nh * (nh - 1), 0), 0) AS s2
      FROM g),
    r AS (SELECT grp, nh, s2,
        CAST(floor(sqrt(CAST(s2 AS DOUBLE))) AS HUGEINT) AS r0 FROM v),
    sg AS (SELECT grp, nh,
        r0 - CAST(r0 * r0 > s2 AS INT) + CAST((r0+1) * (r0+1) <= s2 AS INT)
          AS sg FROM r),
    w AS (SELECT grp, nh, sg, nh * sg AS wgt FROM sg),
    tw AS (SELECT SUM(wgt) AS sw FROM w),
    sh AS (SELECT grp, nh, sg,
        COALESCE((1000 * wgt) // NULLIF(sw, 0), 0) AS share,
        COALESCE((1000 * wgt) % NULLIF(sw, 0), 0) AS rem FROM w, tw),
    ts AS (SELECT SUM(share) AS tot FROM sh),
    rk AS (SELECT sh.*, ts.tot,
        row_number() OVER (ORDER BY rem DESC, grp) AS rk FROM sh, ts)
    SELECT grp, CAST(nh AS BIGINT) AS n_docs, CAST(sg AS BIGINT) AS sigma,
      CAST(share + CASE WHEN rk <= 1000 - tot THEN 1 ELSE 0 END AS BIGINT)
        AS alloc
    FROM rk ORDER BY grp"""))

  // --------------------------------------- code-switch detection
  /** Within-document language mixing ("code-switching") detector — the
    * per-SEGMENT upgrade of [[langId]]'s whole-doc vote: a document that
    * opens in one language and switches mid-way averages out to a
    * confident-looking whole-doc label, which is exactly how mixed docs
    * slip past per-doc language filters into "monolingual" corpora. The
    * doc's tokens split into `segs` equal chunks, each chunk votes with
    * the same stopword rule, a chunk with zero stopword hits abstains,
    * and a doc is MIXED when labeled chunks disagree. Map-only — one
    * nested array expression, streams as-is.
    *
    * Output: (doc_id, n_labeled, n_en, n_data, mixed), ordered by id.
    */
  def codeSwitch(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      segs: Int = 4): org.apache.spark.sql.DataFrame = {
    require(segs >= 2 && segs <= 16, s"segs in [2, 16], got $segs")
    norm(docs, idCol, textCol)
      .withColumn("toks", expr(toksExpr))
      .withColumn("L", expr(s"(size(toks) + ${segs - 1}) div $segs"))
      .withColumn("labs", expr(
        s"""transform(sequence(0, ${segs - 1}), i -> CASE
          WHEN size(filter(slice(toks, i * L + 1, L), x -> x IN $stopEn))
             + size(filter(slice(toks, i * L + 1, L), x -> x IN $stopData))
             = 0 THEN NULL
          WHEN size(filter(slice(toks, i * L + 1, L), x -> x IN $stopEn)) * 3
            >= size(filter(slice(toks, i * L + 1, L), x -> x IN $stopData))
            THEN 'en' ELSE 'data' END)"""))
      .select(col("doc_id"),
        expr("size(filter(labs, p -> p IS NOT NULL))").as("n_labeled"),
        expr("size(filter(labs, p -> p = 'en'))").as("n_en"),
        expr("size(filter(labs, p -> p = 'data'))").as("n_data"),
        expr("""size(filter(labs, p -> p = 'en')) > 0
          AND size(filter(labs, p -> p = 'data')) > 0""").as("mixed"))
      .orderBy(col("doc_id"))
  }

  private val qCodeSwitch = GraftQuery(
    "qt_code_switch",
    (s, dir) => codeSwitch(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    b AS (SELECT doc_id, toks, (len(toks) + 3) // 4 AS L FROM t),
    lb AS (SELECT doc_id, list_transform(generate_series(0, 3), i -> CASE
        WHEN len(list_filter(toks[i * L + 1 : (i + 1) * L],
            x -> x IN $stopEn))
          + len(list_filter(toks[i * L + 1 : (i + 1) * L],
            x -> x IN $stopData)) = 0 THEN NULL
        WHEN len(list_filter(toks[i * L + 1 : (i + 1) * L],
            x -> x IN $stopEn)) * 3
          >= len(list_filter(toks[i * L + 1 : (i + 1) * L],
            x -> x IN $stopData))
          THEN 'en' ELSE 'data' END) AS labs
      FROM b)
    SELECT doc_id,
      CAST(len(list_filter(labs, p -> p IS NOT NULL)) AS INT) AS n_labeled,
      CAST(len(list_filter(labs, p -> p = 'en')) AS INT) AS n_en,
      CAST(len(list_filter(labs, p -> p = 'data')) AS INT) AS n_data,
      len(list_filter(labs, p -> p = 'en')) > 0
        AND len(list_filter(labs, p -> p = 'data')) > 0 AS mixed
    FROM lb ORDER BY doc_id"""))

  val queries: Seq[GraftQuery] =
    Seq(qTokens, qBpeTokens, qLangId, qQuality, qFingerprint, qSplit, qRebalance,
      qRepetition, qLineDedup, qContamination, qStratified, qWeighted,
      qReadability, qLangConfusion, qDupNgram, qReadPct, qLengthHist,
      qSpanCorrupt, qFim, qTextTiling, qTauWeights, qKeyness, qNeyman,
      qCodeSwitch)
}
