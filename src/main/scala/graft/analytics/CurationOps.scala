package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import Nlp._

/** Corpus-curation operators — the PII-redaction / boilerplate-filtering /
  * cross-document paragraph-dedup passes of an LLM training-data pipeline
  * (the C4 / Gopher / Dolma cleaning recipe), exposed as column-
  * parameterized public API functions plus driver-checked bindings.
  *
  * `piiRedact` and `c4LineFilter` are map-only (regex + array lambdas, no
  * shuffle — they compose with `readStream`). `paragraphDedup` is the one
  * shuffling op: corpus-wide keep-first paragraph dedup shuffles once on
  * the 60-bit paragraph hash (uniform key) and once back on doc id.
  *
  * The synthetic corpus contains no PII or punctuation, so the bindings
  * build deterministic fixture views (PII spliced in by doc_id arithmetic,
  * line views from token chunks) — both engines construct the identical
  * view, then run the identical semantics; the API functions themselves
  * take any DataFrame.
  */
object CurationOps {

  private def norm(docs: DataFrame, idCol: String, textCol: String) =
    Nlp.normDocs(docs, idCol, textCol)

  // ======================= public operator API =======================

  /** RE2-safe PII patterns (no backrefs/lookaround — identical semantics
    * in Java regex and DuckDB's RE2; kept deliberately simple: recall
    * tuning belongs to the caller, the operator is the plumbing).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** PII detection + redaction: count emails / IPv4s / phone numbers and
    * rewrite them to `<EMAIL>` / `<IP>` / `<PHONE>` placeholders.
    * Redaction applies email → ip → phone, and each pattern is COUNTED on
    * the progressively redacted text (emails on the original, IPs after
    * emails are gone, phones after IPs are gone) — so an IP-shaped
    * substring inside an email counts once as an email, never twice.
    * Map-only, codegen'd regexes.
    */
  def piiRedact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    norm(docs, idCol, textCol)
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))))
      .withColumn("_t1", regexp_replace(col("text"), EmailRe, "<EMAIL>"))
      .withColumn("n_ips",
        size(regexp_extract_all(col("_t1"), lit(Ipv4Re), lit(0))))
      .withColumn("_t2", regexp_replace(col("_t1"), Ipv4Re, "<IP>"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("_t2"), lit(PhoneRe), lit(0))))
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
        regexp_replace(col("_t2"), PhoneRe, "<PHONE>").as("redacted_text"))

  /** C4-style line-level quality filter: keep a line iff it ends with
    * terminal punctuation, has at least `minWords` whitespace words, and
    * contains none of `blockWords` (case-insensitive substring — the C4
    * blocklist rule). Emits per-doc line counts, kept ratio, and the
    * filtered text. Map-only array lambdas.
    */
  def c4LineFilter(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", lineSep: String = "\n", minWords: Int = 4,
      blockWords: Seq[String] = Seq("javascript", "lorem ipsum")): DataFrame = {
    require(blockWords.forall(w => !w.contains("'")),
      "block words must not contain single quotes")
    // escape backslashes for Spark's SQL string-literal parser — an
    // unescaped \b would silently become a backspace char in the predicate
    val blockPred = blockWords
      .map(w => w.toLowerCase.replace("\\", "\\\\"))
      .map(w => s"instr(lower(x), '$w') = 0")
      .foldLeft("true")((a, b) => s"$a AND $b")
    norm(docs, idCol, textCol)
      .withColumn("lines",
        filter(split(col("text"), java.util.regex.Pattern.quote(lineSep)),
          x => x =!= ""))
      .withColumn("kept", expr(
        s"""filter(lines, x -> x rlike '[.!?]$$'
          AND size(filter(split(x, ' '), w -> w != '')) >= $minWords
          AND $blockPred)"""))
      .select(
        col("doc_id"),
        size(col("lines")).as("n_lines"),
        size(col("kept")).as("n_kept"),
        when(size(col("lines")) === 0, lit(0.0))
          .otherwise(size(col("kept")).cast("double") / size(col("lines")))
          .as("kept_ratio"),
        array_join(col("kept"), lineSep).as("clean_text"))
  }

  /** Cross-document exact paragraph dedup (Dolma/Falcon-style): split every
    * doc on `paraSep`, keep only the corpus-wide FIRST occurrence of each
    * paragraph (ordered by doc id, then position), and rebuild each doc
    * from its surviving paragraphs. The global keep-first is one
    * row_number window partitioned BY PARAGRAPH HASH — a uniform 60-bit
    * key, so the shuffle balances at any corpus size (contrast a
    * partition-less window); the rebuild groups back by doc id.
    * Output: (doc_id, n_paras, n_kept, clean_text).
    */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", paraSep: String = "\n"): DataFrame = {
    val paras = norm(docs, idCol, textCol)
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), java.util.regex.Pattern.quote(paraSep)),
          x => x =!= "")).as(Seq("pos", "para")))
      .withColumn("h", expr(h60("para")))
    val firstWin = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    paras
      .withColumn("keep", row_number().over(firstWin) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("pos"), col("para"))))),
            s => s.getField("para")),
          paraSep).as("clean_text"))
  }

  /** Gopher's document-level stopword set (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", §A1.1 — public method): a doc must
    * contain at least `minStopwords` distinct members to pass.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The FULL Gopher document-quality rule set (Rae et al. 2021, §A1.1),
    * complementing [[c4LineFilter]]'s line-level rules with document-level
    * ones — every threshold a parameter with the paper's defaults:
    *
    *  - word count within [minWords, maxWords] (paper: 50..100,000)
    *  - mean word length within [minMeanWordLen, maxMeanWordLen] (3..10)
    *  - symbol-to-word ratio (`#` and ellipsis) ≤ maxSymbolRatio (0.1)
    *  - ≤ maxBulletRatio of lines starting with a bullet (0.9)
    *  - ≤ maxEllipsisRatio of lines ending with an ellipsis (0.3)
    *  - ≥ minAlphaRatio of words containing a letter (0.8)
    *  - ≥ minStopwords distinct [[GopherStopwords]] present (2)
    *
    * Map-only (regex + array lambdas, no shuffle — composes with
    * `readStream` like the other filters). Every ratio is one exact IEEE
    * division of integer counts, so the whole scorecard is
    * oracle-checkable bit-for-bit. Output: (doc_id, n_words,
    * mean_word_len, symbol_ratio, bullet_line_ratio, ellipsis_line_ratio,
    * alpha_word_ratio, n_stopwords, kept).
    */
  def gopherFilter(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", lineSep: String = "\n",
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.9,
      maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
      minStopwords: Int = 2,
      stopwords: Seq[String] = GopherStopwords): DataFrame = {
    require(stopwords.forall(_.forall(ch => ch >= 'a' && ch <= 'z')),
      "stopwords must be lowercase a-z words")
    val stopArr = stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    norm(docs, idCol, textCol)
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("lines",
        filter(split(col("text"), java.util.regex.Pattern.quote(lineSep)),
          x => x =!= ""))
      .withColumn("mean_word_len", when(col("n_words") === 0, lit(0.0))
        .otherwise(expr(
          "cast(aggregate(toks, cast(0 as bigint), (a, x) -> a + length(x)) as double)")
          / col("n_words")))
      // symbol occurrences by length delta; '...' counts non-overlapping
      // runs left-to-right, identically in both engines
      .withColumn("n_symbols", expr(
        """length(text) - length(replace(text, '#', ''))
          + cast((length(text) - length(replace(text, '...', ''))) / 3 as bigint)
          + length(text) - length(replace(text, '…', ''))"""))
      .withColumn("symbol_ratio", when(col("n_words") === 0, lit(0.0))
        .otherwise(col("n_symbols").cast("double") / col("n_words")))
      .withColumn("bullet_line_ratio", when(size(col("lines")) === 0, lit(0.0))
        .otherwise(expr(
          "cast(size(filter(lines, x -> x like '- %' or x like '* %' or x like '• %')) as double)")
          / size(col("lines"))))
      .withColumn("ellipsis_line_ratio", when(size(col("lines")) === 0, lit(0.0))
        .otherwise(expr(
          "cast(size(filter(lines, x -> x like '%...' or x like '%…')) as double)")
          / size(col("lines"))))
      .withColumn("alpha_word_ratio", when(col("n_words") === 0, lit(0.0))
        .otherwise(expr(
          "cast(size(filter(toks, w -> w rlike '[a-zA-Z]')) as double)")
          / col("n_words")))
      // ltoks hoisted: a lambda body gets no CSE, so inlining the
      // transform would re-lowercase every token once PER STOPWORD
      .withColumn("ltoks", expr("transform(toks, t -> lower(t))"))
      .withColumn("n_stopwords", expr(
        s"cast(size(filter($stopArr, sw -> array_contains(ltoks, sw))) as bigint)"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("bullet_line_ratio"),
        col("ellipsis_line_ratio"), col("alpha_word_ratio"), col("n_stopwords"),
        (col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_line_ratio") <= maxBulletRatio &&
          col("ellipsis_line_ratio") <= maxEllipsisRatio &&
          col("alpha_word_ratio") >= minAlphaRatio &&
          col("n_stopwords") >= minStopwords).as("kept"))
  }

  /** The WEB-crawl curation recipe as one composed call — the CCNet /
    * RefinedWeb front half that precedes the text-cleaning half:
    * URL-level dedup first (cheapest key, kills whole fetches
    * before any text work), then the Gopher document scorecard, then
    * exact content dedup of what survives. Every stage is the
    * already-oracle-checked operator; this wires columns and the
    * keep-reason so a pipeline can audit WHY each doc dropped.
    *
    * Scale: urlDedup shuffles on the normalized URL (uniform); gopher is
    * map-only and only scores URL-survivors; exact dedup's fingerprint
    * shuffle sees only gopher-survivors — the funnel ordering that makes
    * web curation affordable (each stage's input is the previous stage's
    * keep set). Output: (doc_id, kept, drop_reason ∈
    * {null, 'url_dup', 'quality', 'content_dup'}).
    */
  def webPipeline(docs: DataFrame, idCol: String = "doc_id",
      urlCol: String = "url", textCol: String = "text",
      minStopwords: Int = 2): DataFrame = {
    val ids = docs.select(col(idCol).as("doc_id"), col(urlCol).as("url"),
      col(textCol).as("text"))
    val u = DedupOps.urlDedup(ids, idCol = "doc_id", urlCol = "url")
      .select(col("doc_id"), col("kept_url"))
    val urlKept = ids.join(u, "doc_id").filter(col("kept_url"))
    val g = gopherFilter(urlKept, idCol = "doc_id", textCol = "text",
        minStopwords = minStopwords)
      .select(col("doc_id"), col("kept").as("kept_quality"))
    val qualKept = urlKept.join(g, "doc_id").filter(col("kept_quality"))
    val e = DedupOps.exactDedup(qualKept, idCol = "doc_id", textCol = "text")
      .select(col("doc_id"), col("is_dup"))
    ids.select(col("doc_id"))
      .join(u, Seq("doc_id"), "left")
      .join(g, Seq("doc_id"), "left")
      .join(e, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_url"), lit(false)) &&
          coalesce(col("kept_quality"), lit(false)) &&
          !coalesce(col("is_dup"), lit(true)),
        when(!col("kept_url"), lit("url_dup"))
          .when(!col("kept_quality"), lit("quality"))
          .when(col("is_dup"), lit("content_dup")))
      .toDF("doc_id", "kept", "drop_reason")
  }

  // ==================== driver-checked query bindings ====================

  // ---- PII fixture: splice synthetic PII into the (PII-free) corpus by
  // doc_id arithmetic — identical construction in both engines, so the
  // detector sees per-doc-varying email/IP/phone populations.
  private def dirtyDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 5 < 2,
          concat(lit(" node 10.2."), (col("doc_id") % 250).cast("string"),
            lit(".7 up"))).otherwise(lit("")),
        when(col("doc_id") % 7 < 3,
          concat(lit(" call 555-010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today"))).otherwise(lit(""))).as("text"))

  private val dirtySql = """SELECT doc_id, text
      || CASE WHEN doc_id % 3 = 0
        THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now' ELSE '' END
      || CASE WHEN doc_id % 5 < 2
        THEN ' node 10.2.' || CAST(doc_id % 250 AS VARCHAR) || '.7 up' ELSE '' END
      || CASE WHEN doc_id % 7 < 3
        THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END
      AS text FROM documents"""

  private val qPii = GraftQuery(
    "qt_pii_redact",
    (s, dir) => piiRedact(dirtyDocs(s, dir)).orderBy(col("doc_id")),
    Some(s"""WITH d AS ($dirtySql),
    e AS (SELECT doc_id, text,
      regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS t1 FROM d),
    i AS (SELECT *, regexp_replace(t1, '$Ipv4Re', '<IP>', 'g') AS t2 FROM e)
    SELECT doc_id,
      len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
      len(regexp_extract_all(t1, '$Ipv4Re')) AS n_ips,
      len(regexp_extract_all(t2, '$PhoneRe')) AS n_phones,
      regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g') AS redacted_text
    FROM i ORDER BY doc_id"""))

  // ---- line-view fixture for the C4 filter: 4-token chunks, with '.'
  // appended unless (doc_id + i) % 3 = 0 — so the terminal-punctuation,
  // min-words (short tail chunks), and blocklist ('slow' is corpus
  // vocabulary) rules all bite.
  private def lineViewDf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .withColumn("lines0", expr(
        "CASE WHEN size(toks) = 0 THEN cast(array() as array<string>) ELSE " +
          "transform(sequence(1, cast(ceil(size(toks) / 4.0) as int)), " +
          "i -> concat(array_join(slice(toks, (i - 1) * 4 + 1, 4), ' '), " +
          "CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END)) END"))
      .select(col("doc_id"), array_join(col("lines0"), "\n").as("text"))

  private val lineViewSql = s"""SELECT doc_id, array_to_string(
      CASE WHEN len(toks) = 0 THEN []
        ELSE list_transform(generate_series(1, CAST(ceil(len(toks) / 4.0) AS BIGINT)),
          i -> array_to_string(toks[(i-1)*4+1:i*4], ' ')
            || CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END) END,
      chr(10)) AS text
    FROM (SELECT doc_id, $toksSql AS toks FROM documents)"""

  private val qC4 = GraftQuery(
    "qt_c4_line_filter",
    (s, dir) => c4LineFilter(lineViewDf(s, dir), minWords = 4,
      blockWords = Seq("slow")).orderBy(col("doc_id")),
    Some(s"""WITH lv AS ($lineViewSql),
    l AS (SELECT doc_id,
      list_filter(regexp_split_to_array(text, '\\n'), x -> x != '') AS lines FROM lv),
    k AS (SELECT doc_id, lines,
      list_filter(lines, x -> regexp_matches(x, '[.!?]$$')
        AND len(list_filter(regexp_split_to_array(x, ' '), w -> w != '')) >= 4
        AND instr(lower(x), 'slow') = 0) AS kept FROM l)
    SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
      CASE WHEN len(lines) = 0 THEN 0.0
        ELSE CAST(len(kept) AS DOUBLE) / len(lines) END AS kept_ratio,
      coalesce(array_to_string(kept, chr(10)), '') AS clean_text
    FROM k ORDER BY doc_id"""))

  // ---- paragraph view for cross-doc dedup: 3-token chunks. The tiny
  // vocabulary makes cross-document chunk collisions common, so the
  // corpus-wide keep-first policy is exercised hard (most docs lose
  // paragraphs to earlier docs).
  private def paraViewDf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .withColumn("paras0", expr(
        "CASE WHEN size(toks) = 0 THEN cast(array() as array<string>) ELSE " +
          "transform(sequence(1, cast(ceil(size(toks) / 3.0) as int)), " +
          "i -> array_join(slice(toks, (i - 1) * 3 + 1, 3), ' ')) END"))
      .select(col("doc_id"), array_join(col("paras0"), "\n").as("text"))

  private val paraViewSql = s"""SELECT doc_id, array_to_string(
      CASE WHEN len(toks) = 0 THEN []
        ELSE list_transform(generate_series(1, CAST(ceil(len(toks) / 3.0) AS BIGINT)),
          i -> array_to_string(toks[(i-1)*3+1:i*3], ' ')) END,
      chr(10)) AS text
    FROM (SELECT doc_id, $toksSql AS toks FROM documents)"""

  private val qParaDedup = GraftQuery(
    "qt_para_dedup",
    (s, dir) => paragraphDedup(paraViewDf(s, dir)).orderBy(col("doc_id")),
    Some(s"""WITH pv AS ($paraViewSql),
    p0 AS (SELECT doc_id,
      list_filter(regexp_split_to_array(text, '\\n'), x -> x != '') AS paras FROM pv),
    px AS (SELECT doc_id,
      unnest(list_transform(generate_series(1, len(paras)),
        i -> struct_pack(pos := i, para := paras[i]))) AS s FROM p0),
    p2 AS (SELECT doc_id, s.pos AS pos, s.para AS para FROM px),
    r AS (SELECT doc_id, pos, para,
      ROW_NUMBER() OVER (PARTITION BY ${h60Sql("para")}
        ORDER BY doc_id, pos) = 1 AS keep FROM p2)
    SELECT doc_id, COUNT(*) AS n_paras,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      coalesce(array_to_string(list(para ORDER BY pos) FILTER (WHERE keep), chr(10)), '')
        AS clean_text
    FROM r GROUP BY doc_id ORDER BY doc_id"""))

  // ---- Gopher fixture: 6-token lines with a bullet prefix every 4th
  // line, an ellipsis suffix every 5th, and a symbol-only '# # #' line on
  // every 7th doc — so the symbol, bullet, ellipsis, and alpha-word rules
  // all bite. minStopwords=1 in the binding: the synthetic vocabulary
  // carries only 'the' from the Gopher set, so the paper's >=2 would zero
  // every doc (the threshold is a parameter; the rule still varies).
  private def gopherViewDf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .withColumn("toks", expr(toksExpr))
      .withColumn("lines0", expr(
        "CASE WHEN size(toks) = 0 THEN cast(array() as array<string>) ELSE " +
          "transform(sequence(1, cast(ceil(size(toks) / 6.0) as int)), " +
          "i -> concat(CASE WHEN (doc_id + i) % 4 = 0 THEN '- ' ELSE '' END, " +
          "array_join(slice(toks, (i - 1) * 6 + 1, 6), ' '), " +
          "CASE WHEN (doc_id + i) % 5 = 0 THEN ' ...' ELSE '' END)) END"))
      .select(col("doc_id"),
        concat(array_join(col("lines0"), "\n"),
          when(col("doc_id") % 7 === 0, lit("\n# # #")).otherwise(lit("")))
          .as("text"))

  private val gopherViewSql = s"""SELECT doc_id, array_to_string(
      CASE WHEN len(toks) = 0 THEN []
        ELSE list_transform(generate_series(1, CAST(ceil(len(toks) / 6.0) AS BIGINT)),
          i -> (CASE WHEN (doc_id + i) % 4 = 0 THEN '- ' ELSE '' END)
            || array_to_string(toks[(i-1)*6+1:i*6], ' ')
            || CASE WHEN (doc_id + i) % 5 = 0 THEN ' ...' ELSE '' END) END,
      chr(10)) || CASE WHEN doc_id % 7 = 0 THEN chr(10) || '# # #' ELSE '' END AS text
    FROM (SELECT doc_id, $toksSql AS toks FROM documents)"""

  private val qGopher = GraftQuery(
    "qt_gopher_filter",
    (s, dir) => gopherFilter(gopherViewDf(s, dir), minStopwords = 1)
      .orderBy(col("doc_id")),
    Some(s"""WITH gv AS ($gopherViewSql),
    t AS (SELECT doc_id, text, $toksSql AS toks,
      list_filter(regexp_split_to_array(text, '\\n'), x -> x != '') AS lines FROM gv),
    m AS (SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_words,
      CASE WHEN len(toks) = 0 THEN 0.0
        ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) END
        AS mean_word_len,
      length(text) - length(replace(text, '#', ''))
        + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
        + length(text) - length(replace(text, '…', '')) AS n_symbols,
      CAST(len(list_filter(lines, x -> x LIKE '- %' OR x LIKE '* %' OR x LIKE '• %')) AS DOUBLE)
        AS n_bullets,
      CAST(len(list_filter(lines, x -> x LIKE '%...' OR x LIKE '%…')) AS DOUBLE) AS n_ellip,
      CAST(len(lines) AS BIGINT) AS n_lines,
      CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) AS n_alpha,
      CAST(len(list_filter(${GopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")},
        sw -> list_contains(list_transform(toks, t -> lower(t)), sw))) AS BIGINT) AS n_stopwords
      FROM t),
    r AS (SELECT doc_id, n_words, mean_word_len,
      CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_symbols AS DOUBLE) / n_words END AS symbol_ratio,
      CASE WHEN n_lines = 0 THEN 0.0 ELSE n_bullets / n_lines END AS bullet_line_ratio,
      CASE WHEN n_lines = 0 THEN 0.0 ELSE n_ellip / n_lines END AS ellipsis_line_ratio,
      CASE WHEN n_words = 0 THEN 0.0 ELSE n_alpha / n_words END AS alpha_word_ratio,
      n_stopwords FROM m)
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_ratio,
      ellipsis_line_ratio, alpha_word_ratio, n_stopwords,
      (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_ratio <= 0.1 AND bullet_line_ratio <= 0.9
        AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.8
        AND n_stopwords >= 1) AS kept
    FROM r ORDER BY doc_id"""))

  // ---- web pipeline binding: the urlDedup fixture URLs + the raw corpus
  // text, end-to-end through url-dedup → Gopher (minStopwords=1, same
  // rationale as qt_gopher_filter) → exact content dedup, hash-checked as
  // ONE composed query.
  private val qWebPipeline = GraftQuery(
    "qt_web_pipeline",
    (s, dir) => {
      val dv = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .join(DedupOps.urlViewDf(s, dir), "doc_id")
      webPipeline(dv, minStopwords = 1).orderBy(col("doc_id"))
    },
    Some(s"""WITH uv AS (${DedupOps.urlViewSql}),
    dv AS (SELECT uv.doc_id, uv.url, d.text FROM uv JOIN documents d USING (doc_id)),
    n AS (SELECT doc_id, text, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        lower(url),
        '^[a-z][a-z0-9+.-]*://', ''), '^www\\.', ''), '[?#].*$$', ''), '/+$$', '') AS norm_url
      FROM dv),
    ku AS (SELECT doc_id, text,
      doc_id = MIN(doc_id) OVER (PARTITION BY norm_url) AS kept_url FROM n),
    gt AS (SELECT doc_id, text, $toksSql AS toks,
      list_filter(regexp_split_to_array(text, '\\n'), x -> x != '') AS lines
      FROM ku WHERE kept_url),
    gm AS (SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_words,
      CASE WHEN len(toks) = 0 THEN 0.0
        ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) END
        AS mean_word_len,
      length(text) - length(replace(text, '#', ''))
        + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
        + length(text) - length(replace(text, '…', '')) AS n_symbols,
      CAST(len(list_filter(lines, x -> x LIKE '- %' OR x LIKE '* %' OR x LIKE '• %')) AS DOUBLE)
        AS n_bullets,
      CAST(len(list_filter(lines, x -> x LIKE '%...' OR x LIKE '%…')) AS DOUBLE) AS n_ellip,
      CAST(len(lines) AS BIGINT) AS n_lines,
      CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) AS n_alpha,
      CAST(len(list_filter(${GopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")},
        sw -> list_contains(list_transform(toks, t -> lower(t)), sw))) AS BIGINT) AS n_stopwords
      FROM gt),
    gr AS (SELECT doc_id,
      (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_symbols AS DOUBLE) / n_words END) <= 0.1
        AND (CASE WHEN n_lines = 0 THEN 0.0 ELSE n_bullets / n_lines END) <= 0.9
        AND (CASE WHEN n_lines = 0 THEN 0.0 ELSE n_ellip / n_lines END) <= 0.3
        AND (CASE WHEN n_words = 0 THEN 0.0 ELSE n_alpha / n_words END) >= 0.8
        AND n_stopwords >= 1) AS kept_quality
      FROM gm),
    qk AS (SELECT ku.doc_id, ku.text FROM ku JOIN gr ON ku.doc_id = gr.doc_id
      WHERE gr.kept_quality),
    f AS (SELECT doc_id,
      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM qk),
    ed AS (SELECT doc_id,
      doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS is_dup FROM f)
    SELECT d.doc_id,
      coalesce(ku.kept_url, false) AND coalesce(gr.kept_quality, false)
        AND NOT coalesce(ed.is_dup, true) AS kept,
      CASE WHEN NOT ku.kept_url THEN 'url_dup'
        WHEN NOT gr.kept_quality THEN 'quality'
        WHEN ed.is_dup THEN 'content_dup' END AS drop_reason
    FROM documents d
    LEFT JOIN ku ON d.doc_id = ku.doc_id
    LEFT JOIN gr ON d.doc_id = gr.doc_id
    LEFT JOIN ed ON d.doc_id = ed.doc_id
    ORDER BY d.doc_id"""))

  // ------------------------- per-domain boilerplate line detection
  /** Frequency-based boilerplate detection per domain (the
    * RefinedWeb/CCNet line-dedup-within-domain pass): a line is
    * BOILERPLATE in its group when it appears in ≥ `minDf` docs AND in
    * ≥ `shareBp` (bp) of the group's docs — navigation chrome, cookie
    * banners, footers. This is the cross-DOC frequency rule the
    * within-doc repetition filters (qt_line_dedup) and the corpus-wide
    * keep-first (qt_para_dedup) both miss: a footer appears once per
    * doc and only floods one domain.
    *
    * Plan: explode lines once, hash to 60-bit keys, one
    * (group, doc, hash) collapse, one (group, hash) df aggregation, one
    * group-keyed doc count — every shuffle keyed by (group, hash) or
    * group; no line text past the first map. Output: one row per group
    * — (g, ndocs, n_boiler_lines, boiler_occurrences, line_occurrences,
    * boiler_share_bp), ordered by g.
    */
  def boilerplateLines(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", groupCol: String = "source",
      minDf: Int = 3, shareBp: Int = 1000): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    require(shareBp >= 1 && shareBp <= 10000, s"shareBp in [1,10000]: $shareBp")
    val occ = docs.select(col(groupCol).as("g"), col(idCol).as("doc_id"),
        explode(filter(split(col(textCol),
          java.util.regex.Pattern.quote("\n")), x => x =!= "")).as("line"))
      .withColumn("h", expr(Nlp.h60("line")))
      .groupBy(col("g"), col("doc_id"), col("h"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val nd = occ.select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
    val dfr = occ.groupBy(col("g"), col("h")).agg(count(lit(1)).as("df"))
    occ.join(dfr, Seq("g", "h")).join(nd, "g")
      .withColumn("boiler", col("df") >= minDf &&
        col("df") * 10000 >= lit(shareBp.toLong) * col("ndocs"))
      .groupBy(col("g"))
      .agg(max(col("ndocs")).as("ndocs"),
        countDistinct(when(col("boiler"), col("h"))).as("n_boiler_lines"),
        sum(when(col("boiler"), col("cnt")).otherwise(0L))
          .as("boiler_occurrences"),
        sum(col("cnt")).as("line_occurrences"),
        expr("""10000 * sum(case when boiler then cnt else 0 end)
          div sum(cnt)""").as("boiler_share_bp"))
      .orderBy(col("g"))
  }

  /** Boilerplate audit per source feed over the synthetic line view —
    * the small vocabulary makes 4-token lines recur across docs of a
    * source, exercising the df threshold hard.
    */
  private val qBoilerplate = GraftQuery(
    "qt_boilerplate",
    (s, dir) => boilerplateLines(
      lineViewDf(s, dir).join(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id")),
    Some(s"""WITH lv AS ($lineViewSql),
      d AS (SELECT lv.doc_id, lv.text, doc.source AS g
        FROM lv JOIN documents doc ON doc.doc_id = lv.doc_id),
      occ AS (SELECT g, doc_id, ${h60Sql("line")} AS h, COUNT(*) AS cnt
        FROM (SELECT g, doc_id, unnest(list_filter(
            regexp_split_to_array(text, chr(10)), x -> x != '')) AS line
          FROM d)
        GROUP BY g, doc_id, h),
      nd AS (SELECT g, COUNT(DISTINCT doc_id) AS ndocs FROM occ GROUP BY g),
      dfr AS (SELECT g, h, COUNT(*) AS df FROM occ GROUP BY g, h),
      j AS (SELECT occ.g, occ.h, occ.cnt,
          dfr.df >= 3 AND dfr.df * 10000 >= 1000 * nd.ndocs AS boiler,
          nd.ndocs
        FROM occ JOIN dfr ON dfr.g = occ.g AND dfr.h = occ.h
        JOIN nd ON nd.g = occ.g)
      SELECT g, CAST(MAX(ndocs) AS BIGINT) AS ndocs,
        CAST(COUNT(DISTINCT CASE WHEN boiler THEN h END) AS BIGINT)
          AS n_boiler_lines,
        CAST(SUM(CASE WHEN boiler THEN cnt ELSE 0 END) AS BIGINT)
          AS boiler_occurrences,
        CAST(SUM(cnt) AS BIGINT) AS line_occurrences,
        CAST(10000 * SUM(CASE WHEN boiler THEN cnt ELSE 0 END) // SUM(cnt)
          AS BIGINT) AS boiler_share_bp
      FROM j GROUP BY g ORDER BY g"""))

  val queries: Seq[GraftQuery] = Seq(qPii, qC4, qParaDedup, qGopher,
    qWebPipeline, qBoilerplate)
}
