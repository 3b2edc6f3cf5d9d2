package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import Nlp._

/** Corpus-vocabulary operators: global token statistics and per-document
  * keyword extraction — the "what is in this corpus" pass before tokenizer
  * training / mixture design.
  *
  * Scale shapes: one explode + one hash aggregation on the token (uniform
  * key, partial-agg friendly: per-partition combine collapses each
  * partition to its distinct tokens before the shuffle). The global top-k
  * goes through `orderBy(...).limit(k)` = TakeOrderedAndProject — parallel
  * per-partition top-k, never a single-task global sort. Keyword ranking
  * windows partition by doc_id (uniform), never globally.
  */
object VocabOps {

  private def norm(docs: DataFrame, idCol: String, textCol: String) =
    Nlp.normDocs(docs, idCol, textCol)

  // ======================= public operator API =======================

  /** Global top-k vocabulary by total occurrence count (ties broken by
    * token). Output: (token, n_occurrences, n_docs).
    */
  def vocabulary(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 100): DataFrame =
    norm(docs, idCol, textCol)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  /** Per-document keywords by log-free TF-IDF: score = tf / df (document
    * frequency), which orders identically to tf·(N/df) for a fixed corpus
    * and keeps the score an exact IEEE division both engines compute
    * bit-identically (ln() carries no cross-engine exactness guarantee —
    * deliberately avoided). Top `k` tokens per doc, ties by token.
    * Output: (doc_id, rank, token, tf, df, score).
    *
    * SKEW NOTE (100 TB): the tf⋈df join keys on the token, and a stopword
    * key carries one (doc, token) row per containing doc — a genuinely hot
    * key at web scale. The guard is the same df-cap pattern as
    * `DedupOps.ngramJaccard`: stopword-class tokens (df above a cap) can be
    * pre-dropped via a broadcast anti-join before the tf⋈df shuffle — they
    * can never be keywords, since their score tf/df is dominated by any
    * rarer token's. Not applied here because the gate corpus has a
    * 31-token vocabulary; apply the cap when wiring a real corpus.
    */
  def tfidfKeywords(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    val tf = norm(docs, idCol, textCol)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("score"))
  }

  /** Shared Spark/DuckDB BM25 term-score expression: the Okapi BM25 form
    * with the log dropped from the IDF — `(N − df + 0.5)/(df + 0.5)` is a
    * strictly monotone transform of the standard `ln(1 + (N−df+0.5)/(df+0.5))`,
    * so document ranking is preserved while every operation stays an exact
    * IEEE double (ln() carries no cross-engine bit-exactness guarantee —
    * same policy as [[tfidfKeywords]]). Every operand is explicitly cast to
    * double so both engines evaluate the identical float expression tree.
    */
  private def bm25TermExpr(k1: Double, b: Double): String =
    s"((cast(n_docs as double) - cast(df as double) + 0.5) / (cast(df as double) + 0.5))" +
      s" * (cast(tf as double) * cast(${k1 + 1} as double))" +
      s" / (cast(tf as double) + cast($k1 as double) * (1 - cast($b as double)" +
      s" + cast($b as double) * cast(dl as double)" +
      s" / (cast(sum_dl as double) / cast(n_docs as double))))"

  /** BM25 document ranking for a fixed bag of query terms — the retrieval
    * scorer over a corpus (quality-filter / contamination-triage companion).
    *
    * Scale shape: NO corpus-sized shuffle anywhere. Non-matching tokens are
    * filtered BEFORE the tf aggregation, so the only token shuffle carries
    * query-term hits; doc length is `size(tokens)` (map-only, no shuffle —
    * identical to sum(tf) by definition); the corpus-stats frame partial-aggs
    * to one row per partition; df collapses to |terms| rows and both small
    * sides BROADCAST into the score map. Final top-k is
    * TakeOrderedAndProject (per-partition top-k), never a global sort.
    *
    * Determinism: the per-document score is a sum of per-term doubles, and
    * float addition does not commute — so terms are folded in SORTED token
    * order from init 0.0 (`aggregate(sort_array(...))`), which the oracle
    * mirrors with `list_reduce(list_prepend(0.0, list(ts ORDER BY token)))`.
    * Output: (doc_id, n_terms, score), score DESC, doc_id tiebreak, top k.
    */
  def bm25Rank(docs: DataFrame, terms: Seq[String], idCol: String = "doc_id",
      textCol: String = "text", k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(terms.nonEmpty, "bm25Rank needs at least one query term")
    val dl = norm(docs, idCol, textCol)
      .select(col("doc_id"), size(expr(toksExpr)).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qtf = norm(docs, idCol, textCol)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = qtf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    qtf.join(broadcast(dfreq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("ts", expr(bm25TermExpr(k1, b)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sort_array(collect_list(struct(col("token"), col("ts")))).as("xs"))
      .withColumn("score",
        expr("aggregate(xs, cast(0 as double), (acc, x) -> acc + x.ts)"))
      .select(col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  // Declared before prfSql interpolates it (object init order).
  private val Bm25Terms = Seq("spark", "query", "dup")

  // ------------------------------------- pseudo-relevance feedback
  /** Pseudo-relevance-feedback query expansion (Rocchio/RM3 family, the
    * two-pass form): rank with the seed terms, harvest the `expandK`
    * most frequent terms from the top `fbDocs` documents (excluding the
    * seeds and ratio-capped stopwords: global df·5 ≤ n_docs·2, i.e.
    * ≤ 40 % of docs), and re-rank with the expanded bag — the classic
    * recall lever when seed queries are short.
    *
    * The harvested terms are the one driver fetch (≤ expandK strings
    * from an ordered-limit plan — the sanctioned BPE-argmax shape);
    * both BM25 passes are [[bm25Rank]]'s zero-corpus-shuffle plan, and
    * the harvest itself is one broadcast semi-join of the fbDocs ids
    * into a token scan plus a token-key agg. The oracle replays both
    * passes with the expansion selected by subquery membership instead
    * of a literal — same values by construction.
    * Output: the expanded-query ranking, (doc_id, n_terms, score) top
    * `topK`.
    */
  def prfExpand(docs: DataFrame, seedTerms: Seq[String], fbDocs: Int = 5,
      expandK: Int = 3, idCol: String = "doc_id", textCol: String = "text",
      topK: Int = 10): DataFrame = {
    require(seedTerms.nonEmpty && fbDocs >= 1 && expandK >= 1)
    val fb = bm25Rank(docs, seedTerms, idCol, textCol, topK = fbDocs)
      .select(col("doc_id"))
    val toks = norm(docs, idCol, textCol)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
    val nDocs = norm(docs, idCol, textCol).agg(count(lit(1)).as("n_docs"))
    val gdf = toks.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("gdf"))
    val expansion = toks.join(broadcast(fb), "doc_id")
      .groupBy(col("token")).agg(count(lit(1)).as("tf_sum"))
      .join(gdf, "token")
      .crossJoin(broadcast(nDocs))
      .filter(!col("token").isin(seedTerms: _*) &&
        col("gdf") * 5 <= col("n_docs") * 2)
      .orderBy(col("tf_sum").desc, col("token")).limit(expandK)
      .select(col("token")).collect().map(_.getString(0)).toSeq
    bm25Rank(docs, (seedTerms ++ expansion).distinct, idCol, textCol,
      topK = topK)
  }

  private val PrfFb = 5
  private val PrfK = 3

  private val prfSql = {
    val seeds = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
    dlt AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
    st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dlt),
    qt1 AS (SELECT doc_id, token, COUNT(*) AS tf FROM t
      WHERE token IN ($seeds) GROUP BY doc_id, token),
    dfx1 AS (SELECT token, COUNT(*) AS df FROM qt1 GROUP BY token),
    sc1 AS (SELECT qt1.doc_id, qt1.token, ${bm25TermExpr(1.2, 0.75)} AS ts
      FROM qt1 JOIN dfx1 USING (token) JOIN dlt USING (doc_id) CROSS JOIN st),
    ag1 AS (SELECT doc_id,
      list_reduce(list_prepend(CAST(0 AS DOUBLE), list(ts ORDER BY token)),
        (a, b) -> a + b) AS score
      FROM sc1 GROUP BY doc_id),
    fb AS (SELECT doc_id FROM ag1 ORDER BY score DESC, doc_id LIMIT $PrfFb),
    gdf AS (SELECT token, COUNT(DISTINCT doc_id) AS gdf FROM t GROUP BY token),
    cand AS (SELECT t.token, COUNT(*) AS tf_sum FROM t JOIN fb USING (doc_id)
      GROUP BY t.token),
    ex AS (SELECT cand.token FROM cand JOIN gdf USING (token) CROSS JOIN st
      WHERE cand.token NOT IN ($seeds) AND gdf.gdf * 5 <= st.n_docs * 2
      ORDER BY tf_sum DESC, cand.token LIMIT $PrfK),
    terms2 AS (SELECT token FROM ex UNION SELECT unnest([$seeds]) AS token),
    qt2 AS (SELECT doc_id, token, COUNT(*) AS tf FROM t
      WHERE token IN (SELECT token FROM terms2) GROUP BY doc_id, token),
    dfx2 AS (SELECT token, COUNT(*) AS df FROM qt2 GROUP BY token),
    sc2 AS (SELECT qt2.doc_id, qt2.token, ${bm25TermExpr(1.2, 0.75)} AS ts
      FROM qt2 JOIN dfx2 USING (token) JOIN dlt USING (doc_id) CROSS JOIN st),
    ag2 AS (SELECT doc_id, COUNT(*) AS n_terms,
      list_reduce(list_prepend(CAST(0 AS DOUBLE), list(ts ORDER BY token)),
        (a, b) -> a + b) AS score
      FROM sc2 GROUP BY doc_id)
    SELECT doc_id, n_terms, score FROM ag2 ORDER BY score DESC, doc_id LIMIT 10"""
  }

  private val qPrf = GraftQuery(
    "qt_prf_expansion",
    (s, dir) => prfExpand(Tables.documents(s, dir), Bm25Terms, PrfFb, PrfK),
    Some(prfSql))

  // ---------------------------------------------------------- BPE trainer

  /** A learned BPE merge: at `round`, symbols (`lhs`, `rhs`) — the corpus's
    * most frequent adjacent pair — fused into one symbol `lhs+rhs`, with the
    * pair's total occurrence count.
    */
  final case class BpeMerge(round: Int, lhs: String, rhs: String, pairCount: Long)

  /** Word-frequency table with each word's symbol sequence in WRAPPED form:
    * "low" → "&lt;l&gt;&lt;o&gt;&lt;w&gt;". The wrapping makes a BPE merge a plain
    * left-to-right string `replace` ('&lt;l&gt;&lt;o&gt;' → '&lt;lo&gt;') whose
    * non-overlapping greedy semantics are identical in Spark and DuckDB,
    * with no false matches across symbol boundaries (words are [a-z]+, so
    * the wrap chars never occur inside a symbol).
    */
  private def bpeWordFreq(docs: DataFrame, idCol: String, textCol: String) =
    norm(docs, idCol, textCol)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("seq"), col("cnt"))

  /** Byte-pair-encoding vocabulary TRAINER (the public method of Sennrich,
    * Haddow & Birch, "Neural Machine Translation of Rare Words with Subword
    * Units", ACL 2016, Algorithm 1; end-of-word marker omitted): `rounds`
    * iterations of [merge the corpus-wide most frequent adjacent symbol
    * pair], starting from characters. Ties break by (lhs, rhs) — fully
    * deterministic, so the whole training loop is oracle-checkable.
    *
    * Scale shape (this is why BPE training is feasible at 100 TB): the
    * corpus is scanned ONCE, collapsing to the word-frequency table — one
    * explode + one uniform-key hash agg, partial-agg friendly. Every
    * training round then runs over the VOCAB table (|distinct words| rows,
    * ≪ corpus): one pair explode + uniform-key agg, argmax via
    * orderBy().limit(1) = TakeOrdered (parallel per-partition top-1, one
    * row to the driver per round — the same sanctioned driver-loop shape
    * as PageRank / trainCentroids), merge applied map-only. The corpus
    * itself is never touched again.
    */
  def bpeTrain(docs: DataFrame, rounds: Int, idCol: String = "doc_id",
      textCol: String = "text"): Seq[BpeMerge] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val vocab0 = bpeWordFreq(docs, idCol, textCol).persist()
    try {
      var vocab = vocab0
      val merges = scala.collection.mutable.ListBuffer.empty[BpeMerge]
      var exhausted = false
      for (t <- 1 to rounds if !exhausted) {
        val best = vocab
          .withColumn("s", split(expr("substring(seq, 2, length(seq) - 2)"), "><"))
          .select(explode(expr(
            "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), " +
              "(x, y) -> named_struct('l', x, 'r', y))")).as("pr"), col("cnt"))
          .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true // every word fused to one symbol
        else {
          val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += BpeMerge(t, l, r, c)
          vocab = vocab.withColumn("seq",
            expr(s"replace(seq, '<$l><$r>', '<$l$r>')"))
        }
      }
      merges.toList
    } finally vocab0.unpersist()
  }

  /** Tokenize with a LEARNED merge table (the apply half of BPE): each
    * word starts as characters and replays the merges in training order —
    * map-only per word (the merge table is a driver-held literal chain,
    * broadcast with the plan), then one per-doc count agg.
    * Output: (doc_id, n_words, n_bpe_tokens).
    */
  def bpeTokenize(docs: DataFrame, merges: Seq[BpeMerge],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(merges.forall(m => (m.lhs + m.rhs).forall(ch => ch >= 'a' && ch <= 'z')),
      "BPE merge symbols must be [a-z]+ (the trainer's token alphabet)")
    val applied = merges.sortBy(_.round)
      .foldLeft("regexp_replace(w, '(.)', '<$1>')") { (acc, m) =>
        s"replace($acc, '<${m.lhs}><${m.rhs}>', '<${m.lhs}${m.rhs}>')"
      }
    norm(docs, idCol, textCol)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .withColumn("seq", expr(applied))
      .withColumn("n", expr(
        "cast(size(split(substring(seq, 2, length(seq) - 2), '><')) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_bpe_tokens"))
  }

  // ==================== driver-checked bindings ======================

  private val VocabK = 50

  private val qVocab = GraftQuery(
    "qt_vocab",
    (s, dir) => vocabulary(Tables.documents(s, dir), k = VocabK),
    Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents)
    SELECT token, COUNT(*) AS n_occurrences,
      COUNT(DISTINCT doc_id) AS n_docs
    FROM t GROUP BY token
    ORDER BY n_occurrences DESC, token LIMIT $VocabK"""))

  private val qKeywords = GraftQuery(
    "qt_keywords",
    (s, dir) => tfidfKeywords(Tables.documents(s, dir))
      .orderBy(col("doc_id"), col("rank")),
    Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
      CAST(tf.tf AS DOUBLE) / df.df AS score,
      ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.token) AS rank
      FROM tf JOIN df ON tf.token = df.token)
    SELECT doc_id, rank, token, tf, df, score FROM sc WHERE rank <= 3
    ORDER BY doc_id, rank"""))

  // Edit distance between consecutive docs' 40-char prefixes: a bounded-
  // cost keyed 1:1 self-join (uniform doc_id+1 key) exercising levenshtein
  // — the string-similarity builtin the dedup tier's candidate verify
  // would use for short fields (never on full docs: O(len²) per pair).
  private val qEditDist = GraftQuery(
    "qt_edit_distance",
    (s, dir) => {
      val d = norm(Tables.documents(s, dir), "doc_id", "text")
      val a = d.select(col("doc_id"), substring(col("text"), 1, 40).as("s1"))
      val b = d.select((col("doc_id") - 1).as("doc_id"),
        substring(col("text"), 1, 40).as("s2"))
      a.join(b, "doc_id")
        .select(col("doc_id"), levenshtein(col("s1"), col("s2")).as("lev_prefix40"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT a.doc_id,
      levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS lev_prefix40
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    ORDER BY a.doc_id"""))

  private val qBm25 = GraftQuery(
    "qt_bm25",
    (s, dir) => bm25Rank(Tables.documents(s, dir), Bm25Terms),
    Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
    dlt AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
    st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dlt),
    qt AS (SELECT doc_id, token, COUNT(*) AS tf FROM t
      WHERE token IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
      GROUP BY doc_id, token),
    dfx AS (SELECT token, COUNT(*) AS df FROM qt GROUP BY token),
    sc AS (SELECT qt.doc_id, qt.token, ${bm25TermExpr(1.2, 0.75)} AS ts
      FROM qt JOIN dfx USING (token) JOIN dlt USING (doc_id) CROSS JOIN st),
    ag AS (SELECT doc_id, COUNT(*) AS n_terms,
      list_reduce(list_prepend(CAST(0 AS DOUBLE), list(ts ORDER BY token)),
        (a, b) -> a + b) AS score
      FROM sc GROUP BY doc_id)
    SELECT doc_id, n_terms, score FROM ag ORDER BY score DESC, doc_id LIMIT 10"""))

  private val BpeRounds = 8

  /** One training round as DuckDB CTEs: split w{t-1}'s wrapped seqs into
    * symbol lists, count adjacent pairs weighted by word frequency, argmax
    * with the (c DESC, l, r) tie-break, then the same greedy replace.
    */
  private def bpePairCte(t: Int): String =
    s"""s$t AS (SELECT string_split(substr(seq, 2, length(seq) - 2), '><') AS s, cnt FROM w${t - 1}),
    p$t AS (SELECT unnest(generate_series(1, len(s) - 1)) AS i, s, cnt FROM s$t),
    b$t AS (SELECT s[i] AS l, s[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS c
      FROM p$t GROUP BY 1, 2 ORDER BY c DESC, l, r LIMIT 1),
    w$t AS (SELECT replace(seq, '<' || b.l || '><' || b.r || '>', '<' || b.l || b.r || '>') AS seq, cnt
      FROM w${t - 1}, b$t b)"""

  private val bpeW0 =
    """w0 AS (SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS seq,
      CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
      GROUP BY w)"""

  private val bpeTrainSql = {
    val union = (1 to BpeRounds)
      .map(t => s"SELECT $t AS round, l AS lhs, r AS rhs, c AS pair_count FROM b$t")
      .mkString(" UNION ALL ")
    s"""WITH $bpeW0,
    ${(1 to BpeRounds).map(bpePairCte).mkString(",\n    ")}
    SELECT CAST(round AS INT) AS round, lhs, rhs, pair_count
    FROM ($union) ORDER BY round"""
  }

  private val qBpeTrain = GraftQuery(
    "qt_bpe_train",
    (s, dir) => {
      import s.implicits._
      Memo.value(s, s"bpe_merges:$dir")(bpeTrain(Tables.documents(s, dir), BpeRounds))
        .toDF("round", "lhs", "rhs", "pair_count")
        .orderBy(col("round"))
    },
    Some(bpeTrainSql))

  private val bpeTokenizeSql = {
    val applied = (1 to BpeRounds).foldLeft("regexp_replace(w, '(.)', '<\\1>', 'g')") {
      (acc, t) =>
        s"replace($acc, '<' || b$t.l || '><' || b$t.r || '>', '<' || b$t.l || b$t.r || '>')"
    }
    s"""WITH $bpeW0,
    ${(1 to BpeRounds).map(bpePairCte).mkString(",\n    ")},
    dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
    ap AS (SELECT doc_id, $applied AS seq
      FROM dw, ${(1 to BpeRounds).map("b" + _).mkString(", ")}),
    ct AS (SELECT doc_id,
      CAST(len(string_split(substr(seq, 2, length(seq) - 2), '><')) AS BIGINT) AS n FROM ap)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, CAST(SUM(n) AS BIGINT) AS n_bpe_tokens
    FROM ct GROUP BY doc_id ORDER BY doc_id"""
  }

  private val qBpeTokenize = GraftQuery(
    "qt_bpe_tokenize",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      bpeTokenize(docs,
        Memo.value(s, s"bpe_merges:$dir")(bpeTrain(docs, BpeRounds)))
        .orderBy(col("doc_id"))
    },
    Some(bpeTokenizeSql))

  // ------------------------------------------------- WordPiece tokenizer
  /** WordPiece-style GREEDY LONGEST-MATCH tokenizer (Wu et al. 2016, the
    * BERT tokenizer's matching rule; continuation markers omitted like the
    * BPE family above): from each position take the longest vocabulary
    * piece that matches, advance past it; a position matching no piece
    * emits one UNK and advances a single character. This is the other
    * half of the subword-tokenizer design space next to `bpeTokenize`'s
    * merge replay — same piece inventory, different segmentation rule —
    * and the greedy match is what production tokenizers actually run at
    * inference.
    *
    * The whole left-to-right scan is ONE fold (`aggregate` over
    * character positions with (pos, n_tokens, n_unk) state) against the
    * piece inventory shipped as an array literal — no UDF, no driver
    * loop. The fold runs over the DISTINCT word domain only (vocab-
    * sized, Heaps' law) and joins counts back to occurrences on the
    * uniform word key, so the per-character work never multiplies by
    * corpus frequency. Linear at any scale, like the rest of the
    * tokenizer tier.
    * Output: (doc_id, n_words, n_wp_tokens, n_unk) ordered by doc_id.
    */
  def wordpieceTokenize(docs: DataFrame, pieces: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(pieces.nonEmpty &&
        pieces.forall(p => p.nonEmpty && p.forall(c => c >= 'a' && c <= 'z')),
      "pieces must be non-empty [a-z]+ strings (the tokenizer alphabet)")
    val pLit = pieces.map(p => s"'$p'").mkString("array(", ", ", ")")
    def mlExpr = s"""array_max(transform(filter($pLit,
        p -> substring(w, acc.pos, length(p)) = p), p -> length(p)))"""
    val foldExpr =
      s"""aggregate(sequence(1, length(w)),
          named_struct('pos', 1, 'n', 0, 'u', 0),
          (acc, i) -> IF(i = acc.pos,
            named_struct(
              'pos', acc.pos + coalesce($mlExpr, 1),
              'n', acc.n + 1,
              'u', acc.u + IF($mlExpr IS NULL, 1, 0)),
            acc),
          acc -> named_struct('n', acc.n, 'u', acc.u))"""
    // evaluate the fold over the DISTINCT word domain (Heaps' law: ≪
    // occurrences — measured 6× on the suite), then one uniform-key hash
    // join back to the occurrence stream; the oracle segments distinct
    // words for the same reason
    val occ = norm(docs, idCol, textCol)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    val perWord = occ.select(col("w")).distinct()
      .withColumn("t", expr(foldExpr))
      .select(col("w"), col("t.n").as("_n"), col("t.u").as("_u"))
    occ.join(perWord, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_n")).cast("long").as("n_wp_tokens"),
        sum(col("_u")).cast("long").as("n_unk"))
      .orderBy(col("doc_id"))
  }

  /** Greedy WordPiece over the BPE-trained piece inventory (alphabet ∪
    * learned merge symbols) — the standard "train BPE, serve greedy"
    * deployment. The DuckDB oracle re-derives the same pieces through the
    * training CTE chain, then segments each DISTINCT word by a recursive
    * CTE implementing the identical longest-match rule (depth = word
    * length) and joins counts back to occurrences — corpus-scale work
    * stays in plain aggregation on both engines.
    */
  private val wordpieceSql = s"""WITH RECURSIVE $bpeW0,
    ${(1 to BpeRounds).map(bpePairCte).mkString(",\n    ")},
    pieces AS (SELECT chr(CAST(96 + i AS INTEGER)) AS piece
        FROM (SELECT unnest(generate_series(1, 26)) AS i)
      ${(1 to BpeRounds).map(t => s"UNION ALL SELECT l || r FROM b$t").mkString(" ")}),
    dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
    words AS (SELECT DISTINCT w FROM dw),
    seg AS (SELECT w, 1 AS pos, 0 AS n, 0 AS u FROM words
      UNION ALL
      SELECT w, pos + COALESCE(ml, 1), n + 1,
        u + CASE WHEN ml IS NULL THEN 1 ELSE 0 END
      FROM (SELECT w, pos, n, u,
          (SELECT MAX(length(piece)) FROM pieces
           WHERE piece = substr(w, pos, length(piece))) AS ml
        FROM seg WHERE pos <= length(w))),
    done AS (SELECT w, n, u FROM seg WHERE pos = length(w) + 1)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(n) AS BIGINT) AS n_wp_tokens, CAST(SUM(u) AS BIGINT) AS n_unk
    FROM dw JOIN done USING (w) GROUP BY doc_id ORDER BY doc_id"""

  private val qWordpiece = GraftQuery(
    "qt_wordpiece",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Memo.value(s, s"bpe_merges:$dir")(bpeTrain(docs, BpeRounds))
      wordpieceTokenize(docs,
        ('a' to 'z').map(_.toString) ++ merges.map(m => m.lhs + m.rhs))
    },
    Some(wordpieceSql))

  // ------------------------------------------------- Heaps-law curve
  /** Vocabulary-growth (Heaps' law) curve: how many NEW distinct tokens
    * each corpus decile introduces — the instrument behind every "will
    * my vocab keep exploding at 10× the data" sizing call (and the
    * justification the BPE scaladocs lean on). A token belongs to the
    * decile of its FIRST document, so the whole curve is one
    * min-per-token aggregation + a 10-row rollup — never ten distinct
    * counts over prefixes. The cumulative window runs over ≤10 rows
    * (the sanctioned tiny-frame window).
    * Output: (decile, new_tokens, cum_tokens), decile 0-9 by doc order.
    */
  private val qHeaps = GraftQuery(
    "qt_heaps_curve",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val firstOcc = norm(docs, "doc_id", "text")
        .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
        .groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      firstOcc.crossJoin(broadcast(n))
        .withColumn("decile",
          expr("least(9L, greatest(0L, (first_doc - 1) * 10 div n_docs))"))
        .groupBy(col("decile")).agg(count(lit(1)).as("new_tokens"))
        .withColumn("cum_tokens", sum(col("new_tokens")).over(wCum))
        .orderBy(col("decile"))
    },
    Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    fo AS (SELECT token, MIN(doc_id) AS first_doc FROM t GROUP BY token),
    d AS (SELECT LEAST(9, GREATEST(0, (first_doc - 1) * 10 // n.n_docs)) AS decile
      FROM fo CROSS JOIN n),
    g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS new_tokens
      FROM d GROUP BY decile)
    SELECT CAST(decile AS BIGINT) AS decile, new_tokens,
      CAST(SUM(new_tokens) OVER (ORDER BY decile
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
    FROM g ORDER BY decile"""))

  // ------------------------------------------------- piece utilization
  /** Tokenizer-vocabulary UTILIZATION: how often each piece is actually
    * emitted by greedy segmentation over the corpus — the "which vocab
    * slots earn their keep" readout that drives piece pruning
    * (SentencePiece's EM prune step uses exactly these usage counts).
    * Reuses the [[wordpieceTokenize]] fold but accumulates the matched
    * piece SEQUENCE per distinct word (array-append in the fold state),
    * explodes it, and weights by word frequency; an uncovered character
    * surfaces as the literal piece `?` (the UNK slot). Distinct-word
    * evaluation + one uniform word-key join + piece-key agg — same
    * scale shape as the tokenizer itself.
    * Output: top `topK` (piece, n_words, usage) by usage.
    */
  def pieceUsage(docs: DataFrame, pieces: Seq[String], topK: Int = 30,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(pieces.nonEmpty &&
      pieces.forall(p => p.nonEmpty && p.forall(c => c >= 'a' && c <= 'z')),
      "pieces must be non-empty [a-z]+ strings")
    val pLit = pieces.map(p => s"'$p'").mkString("array(", ", ", ")")
    def mlExpr = s"""array_max(transform(filter($pLit,
        p -> substring(w, acc.pos, length(p)) = p), p -> length(p)))"""
    val foldExpr =
      s"""aggregate(sequence(1, length(w)),
          named_struct('pos', 1, 'ps', cast(array() as array<string>)),
          (acc, i) -> IF(i = acc.pos,
            named_struct(
              'pos', acc.pos + coalesce($mlExpr, 1),
              'ps', concat(acc.ps, array(
                IF($mlExpr IS NULL, '?', substring(w, acc.pos, $mlExpr))))),
            acc),
          acc -> acc.ps)"""
    val wf = norm(docs, idCol, textCol)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    wf.withColumn("piece", explode(expr(foldExpr)))
      .groupBy(col("piece"))
      // countDistinct, not count: a word can emit the same piece twice
      // ('aa' twice in 'aaaa') and must tally once in n_words
      .agg(countDistinct(col("w")).as("n_words"), sum(col("cnt")).as("usage"))
      .orderBy(col("usage").desc, col("piece"))
      .limit(topK)
  }

  private val PuTopK = 30

  /** Usage over the BPE-trained inventory; the oracle re-derives pieces
    * through the training CTEs and re-segments with the recursive
    * longest-match CTE, emitting each step's matched piece.
    */
  private val pieceUsageSql = s"""WITH RECURSIVE $bpeW0,
    ${(1 to BpeRounds).map(bpePairCte).mkString(",\n    ")},
    pieces AS (SELECT chr(CAST(96 + i AS INTEGER)) AS piece
        FROM (SELECT unnest(generate_series(1, 26)) AS i)
      ${(1 to BpeRounds).map(t => s"UNION ALL SELECT l || r FROM b$t").mkString(" ")}),
    wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM
      (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
      GROUP BY w),
    seg AS (SELECT w, 1 AS pos, CAST(NULL AS VARCHAR) AS pc FROM wf
      UNION ALL
      SELECT w, pos + COALESCE(ml, 1),
        CASE WHEN ml IS NULL THEN '?' ELSE substr(w, pos, ml) END
      FROM (SELECT w, pos,
          (SELECT MAX(length(piece)) FROM pieces
           WHERE piece = substr(w, pos, length(piece))) AS ml
        FROM seg WHERE pos <= length(w))),
    st AS (SELECT w, pc FROM seg WHERE pc IS NOT NULL)
    SELECT pc AS piece, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words,
      CAST(SUM(cnt) AS BIGINT) AS usage
    FROM st JOIN wf USING (w)
    GROUP BY pc ORDER BY usage DESC, piece LIMIT $PuTopK"""

  private val qPieceUsage = GraftQuery(
    "qt_piece_usage",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Memo.value(s, s"bpe_merges:$dir")(bpeTrain(docs, BpeRounds))
      pieceUsage(docs,
        ('a' to 'z').map(_.toString) ++ merges.map(m => m.lhs + m.rhs), PuTopK)
    },
    Some(pieceUsageSql))

  // ------------------------------------------------- count-min sketch
  /** Count-min sketch heavy hitters: estimate token frequencies through a
    * d×w counter grid instead of a full per-token aggregation — THE
    * sketch for frequency estimation over streams/shards, because the
    * grid is mergeable by plain addition (union of shards = sum of
    * sketches) and its size is fixed regardless of vocabulary.
    *
    * Scale shape: the build explodes each occurrence into its d row
    * hashes, but the groupBy has only d·w distinct keys, so map-side
    * partial aggregation collapses the shuffle to ~d·w rows per input
    * partition — the corpus never shuffles by token. Estimates probe the
    * (broadcast) grid: est(tok) = min over rows of its cell, an upper
    * bound on the true count (collisions only inflate).
    *
    * The query emits (token, exact, est) for the top `topK` tokens so
    * the one-sided error is visible next to ground truth; the exact side
    * exists for the comparison, not as part of the sketch. Because this
    * diagnostic needs the exact per-token counts anyway, the grid is
    * built FROM them (cells are additive in counts, so summing `exact`
    * per cell ≡ hashing every raw occurrence) — one corpus tokenize
    * instead of two. A production sketch-only build hashes occurrences
    * directly and still collapses map-side to d·w cells per partition.
    */
  def countMinHeavyHitters(docs: DataFrame, topK: Int = 10, d: Int = 4,
      w: Int = 32, textCol: String = "text"): DataFrame = {
    require(topK >= 1 && d >= 1 && w >= 2, s"bad CMS geometry topK=$topK d=$d w=$w")
    val toks = docs.select(explode(expr(toksExprOn(textCol))).as("tok"))
    def bucketed(df: DataFrame) = df
      .select(df.columns.map(col) :+ explode(expr(s"sequence(0, ${d - 1})")).as("r"): _*)
      .withColumn("bucket",
        expr(s"${h60("concat('cms', cast(r as string), tok)")} % $w"))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      .localCheckpoint()
    val sketch = bucketed(exact).groupBy(col("r"), col("bucket"))
      .agg(sum(col("exact")).as("cnt"))
    bucketed(exact).join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col("tok"), col("exact")).agg(min(col("cnt")).as("est"))
      .orderBy(col("exact").desc, col("tok")).limit(topK)
      .select(col("tok").as("token"), col("exact"), col("est"))
  }

  private val qCountMin = GraftQuery(
    "qagg_countmin",
    (s, dir) => countMinHeavyHitters(Tables.documents(s, dir)),
    Some(s"""WITH tk AS (SELECT unnest($toksSql) AS tok FROM documents),
    hashed AS (SELECT tok, r,
      ${h60Sql("'cms' || CAST(r AS VARCHAR) || tok")} % 32 AS bucket
      FROM tk CROSS JOIN generate_series(0, 3) t(r)),
    sketch AS (SELECT r, bucket, COUNT(*) AS cnt FROM hashed GROUP BY r, bucket),
    ex AS (SELECT tok, COUNT(*) AS exact FROM tk GROUP BY tok),
    probes AS (SELECT ex.tok, ex.exact, r,
      ${h60Sql("'cms' || CAST(r AS VARCHAR) || ex.tok")} % 32 AS bucket
      FROM ex CROSS JOIN generate_series(0, 3) t(r)),
    est AS (SELECT p.tok, p.exact, MIN(s.cnt) AS est
      FROM probes p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
      GROUP BY p.tok, p.exact)
    SELECT tok AS token, CAST(exact AS BIGINT) AS exact, CAST(est AS BIGINT) AS est
    FROM est ORDER BY exact DESC, token LIMIT 10"""))

  // ---------------------------------------------------- phrase search
  /** Exact phrase search over a positional inverted index — the
    * "consecutive tokens" query a full-text scan can't answer without
    * reading every document. One pass builds (doc, position, token)
    * postings; postings matching ANY phrase slot are anchored by
    * subtracting the slot index (an occurrence of the full phrase makes
    * all its slots agree on one anchor position), and one uniform-key
    * aggregation per (doc, anchor) counts distinct slots — full coverage
    * = a match.
    *
    * Scale shape: the slot table (a few words) broadcasts, so the join is
    * a map-side probe that PRUNES the postings stream to the phrase's
    * tokens before anything shuffles — the shuffled volume is the posting
    * lists of the queried words, not the corpus (the inverted-index
    * selectivity argument; with a pre-materialized postings table the scan
    * itself would also prune by token). One groupBy on (doc_id, anchor)
    * — uniform key, map-side partials — then a per-doc rollup. Handles
    * repeated words in the phrase naturally (a token can carry several
    * slots; distinct-slot counting keeps coverage honest).
    *
    * Output: (doc_id, n_matches) for documents containing the phrase at
    * least once, n_matches = number of distinct start positions.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val slots = phrase.zipWithIndex.toDF("token", "slot")
    norm(docs, idCol, textCol)
      .select(col("doc_id"), posexplode(expr(toksExpr)).as(Seq("pos", "token")))
      .join(broadcast(slots), "token")
      .select(col("doc_id"), (col("pos") - col("slot")).as("anchor"), col("slot"))
      .groupBy(col("doc_id"), col("anchor"))
      .agg(countDistinct(col("slot")).as("ns"))
      .filter(col("ns") === phrase.length)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))
  }

  private val PhraseWords = Seq("table", "hash")

  private val phraseSql = {
    val slotRows = PhraseWords.zipWithIndex
      .map { case (w, i) => s"('$w', $i)" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    p AS (SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) - 1 AS pos FROM t),
    sl (token, slot) AS (VALUES $slotRows),
    m AS (SELECT doc_id, p.pos - sl.slot AS anchor, sl.slot
      FROM p JOIN sl ON p.token = sl.token),
    a AS (SELECT doc_id, anchor FROM m GROUP BY doc_id, anchor
      HAVING COUNT(DISTINCT slot) = ${PhraseWords.length})
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM a GROUP BY doc_id ORDER BY doc_id"""
  }

  private val qPhrase = GraftQuery(
    "qt_phrase_search",
    (s, dir) => phraseSearch(Tables.documents(s, dir), PhraseWords),
    Some(phraseSql))

  // ---------------------------------------------------- bigram-LM novelty
  /** Corpus-LM novelty scoring — the count-based core of perplexity-style
    * quality filtering (CCNet/KenLM family): train a bigram language
    * model ON the corpus (one occurrence-count aggregation — counts ARE
    * the MLE model), then score each document by the share of its bigram
    * occurrences whose corpus frequency is ≤ `tau`. A high rare-bigram
    * share is exactly what drives perplexity up under a count LM —
    * gibberish, boilerplate mangling, OCR noise — but the rate form stays
    * in exact integer arithmetic (basis points, integer division) where
    * log-prob sums would drift across engines.
    *
    * Scale shape: one map-only bigram explode feeds BOTH the model agg
    * and the scoring join, partitioned on the same bigram key (uniform —
    * natural-language bigram skew tops out at "of the"-scale df, far
    * below hot-key territory; the count table is a pure aggregate of the
    * occurrence table, so the join is shuffle-on-one-key, no broadcast of
    * anything corpus-sized), then one doc-key aggregation. Cost is linear
    * in corpus tokens — the same budget as [[vocabulary]].
    *
    * Docs with < 2 tokens have no bigrams and are absent from the output.
    * Output: (doc_id, n_bigrams, novelty_bp) ordered by doc_id.
    */
  def bigramNovelty(docs: DataFrame, tau: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bigrams =
      "CASE WHEN size(toks) >= 2 THEN zip_with(slice(toks, 1, size(toks) - 1), " +
        "slice(toks, 2, size(toks) - 1), (x, y) -> concat(x, ' ', y)) " +
        "ELSE array() END"
    val occ = norm(docs, idCol, textCol)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), explode(expr(bigrams)).as("bg"))
    val cnt = occ.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    occ.join(cnt, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c") <= tau, 1L).otherwise(0L)).as("rare"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("10000 * rare div n_bigrams").as("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  private val RareTau = 2

  private val bigramNoveltySql = s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    b0 AS (SELECT doc_id, CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks) - 1),
        i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS bgs FROM t),
    occ AS (SELECT doc_id, unnest(bgs) AS bg FROM b0),
    cnt AS (SELECT bg, COUNT(*) AS c FROM occ GROUP BY bg),
    j AS (SELECT occ.doc_id, cnt.c FROM occ JOIN cnt ON occ.bg = cnt.bg)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(10000 * SUM(CASE WHEN c <= $RareTau THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS novelty_bp
    FROM j GROUP BY doc_id ORDER BY doc_id"""

  private val qBigramNovelty = GraftQuery(
    "qt_bigram_novelty",
    (s, dir) => bigramNovelty(Tables.documents(s, dir), RareTau),
    Some(bigramNoveltySql))

  // ------------------------------------- tokenizer fertility bake-off
  /** Per-language tokenizer FERTILITY comparison — chars-per-token of
    * the BPE merge replay, the greedy WordPiece matcher over the SAME
    * learned piece inventory, and (r12) the Viterbi segmenter over the
    * [[unigramLmTrain]]ed vocabulary — all three major subword
    * families, same corpus. Fertility (how many characters one token
    * carries, µ-units) is the number that decides tokenizer budgets per
    * language: a language whose fertility collapses under one scheme is
    * paying more sequence length for the same text. Composes existing
    * linear ops ([[bpeTokenize]], [[wordpieceTokenize]],
    * [[unigramTokenize]], the memoized trainers) with three uniform
    * doc-key joins + one language-key agg — nothing new touches the
    * corpus beyond the three tokenize scans.
    * Output: (lang, n_docs, n_chars, n_bpe_tokens, n_wp_tokens,
    * n_uni_tokens, bpe_cpt_micro, wp_cpt_micro, uni_cpt_micro) ordered
    * by lang; docs with no [a-z]+ word are absent from all three
    * tokenizers and excluded identically.
    */
  def tokenizerFertility(docs: DataFrame, merges: Seq[BpeMerge],
      uniPieces: Seq[(String, Int)],
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang", charsCol: String = "n_chars"): DataFrame = {
    val pieces = ('a' to 'z').map(_.toString) ++ merges.map(m => m.lhs + m.rhs)
    val bpe = bpeTokenize(docs, merges, idCol, textCol)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val wp = wordpieceTokenize(docs, pieces, idCol, textCol)
      .select(col("doc_id"), col("n_wp_tokens"))
    val uni = unigramTokenize(docs, uniPieces, idCol, textCol)
      .select(col("doc_id"), col("n_uni_tokens"))
    docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        col(charsCol).cast("long").as("chars"))
      .join(bpe, "doc_id").join(wp, "doc_id").join(uni, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("n_chars"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        sum(col("n_wp_tokens")).as("n_wp_tokens"),
        sum(col("n_uni_tokens")).as("n_uni_tokens"))
      .select(col("lang"), col("n_docs"), col("n_chars"),
        col("n_bpe_tokens"), col("n_wp_tokens"), col("n_uni_tokens"),
        expr("1000000L * n_chars div n_bpe_tokens").as("bpe_cpt_micro"),
        expr("1000000L * n_chars div n_wp_tokens").as("wp_cpt_micro"),
        expr("1000000L * n_chars div n_uni_tokens").as("uni_cpt_micro"))
      .orderBy(col("lang"))
  }

  private lazy val fertilitySql = {
    val applied = (1 to BpeRounds).foldLeft("regexp_replace(w, '(.)', '<\\1>', 'g')") {
      (acc, t) =>
        s"replace($acc, '<' || b$t.l || '><' || b$t.r || '>', '<' || b$t.l || b$t.r || '>')"
    }
    s"""WITH RECURSIVE $bpeW0,
    ${(1 to BpeRounds).map(bpePairCte).mkString(",\n    ")},
    dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
    ap AS (SELECT doc_id, $applied AS seq
      FROM dw, ${(1 to BpeRounds).map("b" + _).mkString(", ")}),
    bt AS (SELECT doc_id,
      SUM(CAST(len(string_split(substr(seq, 2, length(seq) - 2), '><')) AS BIGINT)) AS nbpe
      FROM ap GROUP BY doc_id),
    pieces AS (SELECT chr(CAST(96 + i AS INTEGER)) AS piece
        FROM (SELECT unnest(generate_series(1, 26)) AS i)
      ${(1 to BpeRounds).map(t => s"UNION ALL SELECT l || r FROM b$t").mkString(" ")}),
    words AS (SELECT DISTINCT w FROM dw),
    seg AS (SELECT w, 1 AS pos, 0 AS n, 0 AS u FROM words
      UNION ALL
      SELECT w, pos + COALESCE(ml, 1), n + 1,
        u + CASE WHEN ml IS NULL THEN 1 ELSE 0 END
      FROM (SELECT w, pos, n, u,
          (SELECT MAX(length(piece)) FROM pieces
           WHERE piece = substr(w, pos, length(piece))) AS ml
        FROM seg WHERE pos <= length(w))),
    done AS (SELECT w, n FROM seg WHERE pos = length(w) + 1),
    wt AS (SELECT doc_id, SUM(CAST(n AS BIGINT)) AS nwp
      FROM dw JOIN done USING (w) GROUP BY doc_id),
    $uniTrainCtes,
    ${uniSegSql(s"upieces$UniRounds", "F")},
    udone AS (SELECT w, CAST(len(ps) AS BIGINT) AS n
      FROM uwkF WHERE pos = 0),
    ut AS (SELECT doc_id, SUM(n) AS nuni
      FROM dw JOIN udone USING (w) GROUP BY doc_id),
    j AS (SELECT d.lang, d.n_chars, bt.nbpe, wt.nwp, ut.nuni
      FROM documents d JOIN bt ON d.doc_id = bt.doc_id
      JOIN wt ON d.doc_id = wt.doc_id
      JOIN ut ON d.doc_id = ut.doc_id)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      CAST(SUM(nbpe) AS BIGINT) AS n_bpe_tokens,
      CAST(SUM(nwp) AS BIGINT) AS n_wp_tokens,
      CAST(SUM(nuni) AS BIGINT) AS n_uni_tokens,
      CAST(1000000 * SUM(n_chars) // SUM(nbpe) AS BIGINT) AS bpe_cpt_micro,
      CAST(1000000 * SUM(n_chars) // SUM(nwp) AS BIGINT) AS wp_cpt_micro,
      CAST(1000000 * SUM(n_chars) // SUM(nuni) AS BIGINT) AS uni_cpt_micro
    FROM j GROUP BY lang ORDER BY lang"""
  }

  // lazy: the unigram CTE builders live later in the object; qFertility
  // is only dereferenced from `queries` (post-init), so laziness just
  // defers the string build past construction order
  private lazy val qFertility = GraftQuery(
    "qt_tokenizer_fertility",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      tokenizerFertility(docs,
        Memo.value(s, s"bpe_merges:$dir")(bpeTrain(docs, BpeRounds)),
        Memo.value(s, s"unigram_pieces:$dir")(unigramLmTrain(docs))
          .map(t => (t._1, t._3)))
    },
    Some(fertilitySql))

  // ------------------------------------- unigram LM (SentencePiece)
  /** Unigram-LM subword trainer (Kudo, ACL 2018 — the SentencePiece
    * algorithm; the third major tokenizer family next to [[bpeTrain]]'s
    * merge learning and [[wordpieceTokenize]]'s greedy matching): seed a
    * large candidate vocabulary from corpus substrings, then alternate
    * (E) Viterbi-segment the corpus under the current piece costs and
    * (M) re-estimate costs from piece usage, pruning pieces the optimal
    * segmentations never use (single characters are never pruned — the
    * character-coverage invariant).
    *
    * Exact-integer instantiation (the family discipline — no log()/exp()
    * cross-engine drift): piece cost = Elias-gamma bits 2⌊log₂ r⌋+1 at
    * usage rank r (the [[zipfSurprisal]] rank-structured surprisal, via
    * exact bit lengths), the E-step is HARD EM (Viterbi counts — the
    * standard approximation Kudo §3.2 notes), and Viterbi itself is a
    * min-cost DP with the deterministic tie rule (cost asc, longer
    * piece, lexicographic). Every quantity is an integer, so the whole
    * trainer is oracle-checkable like the BPE chain.
    *
    * Scale shape: the corpus collapses ONCE to the distinct-word
    * frequency table (uniform-key agg); seeding explodes each distinct
    * word into its ≤ len·maxLen substrings (bounded per word, vocab-
    * domain only); each EM round is one map-only Viterbi fold over the
    * distinct words + one piece-key usage agg ("one posting-table agg
    * per iteration") + a ≤(seedK+26)-row driver fetch for the re-rank —
    * the [[bpeTrain]] sanctioned driver-loop shape. The corpus is never
    * touched after the first scan.
    *
    * Returns the final vocabulary in rank order: (piece, usage, bits)
    * with usage from the last E-step.
    */
  def unigramLmTrain(docs: DataFrame, rounds: Int = UniRounds,
      seedK: Int = UniSeedK, maxLen: Int = UniMaxLen,
      idCol: String = "doc_id", textCol: String = "text"): Seq[(String, Long, Int)] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(seedK >= 1, s"seedK must be >= 1, got $seedK")
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    val wf = uniWordFreq(docs, idCol, textCol).persist()
    try {
      // seed: every substring of length 1..maxLen of every distinct
      // word, frequency-weighted by position multiplicity (the bounded-
      // window stand-in for SentencePiece's suffix-array seeding)
      // persisted: the top-K fetch and the single-char fetch below would
      // otherwise each re-run the substring explode + aggregation
      val subs = wf.select(explode(expr(
          s"""flatten(transform(sequence(1, length(w)), i ->
            transform(sequence(i, least(i + ${maxLen - 1}, length(w))), jj ->
              substring(w, i, jj - i + 1))))""")).as("piece"), col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("freq"))
        .persist()
      val top = subs.orderBy(col("freq").desc, col("piece")).limit(seedK)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val chFreq = subs.filter(length(col("piece")) === 1).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      subs.unpersist()
      val alphabet = ('a' to 'z')
        .map(c => (c.toString, chFreq.getOrElse(c.toString, 0L)))
      var pieces = uniRanked((top ++ alphabet).distinct)
      for (_ <- 1 to rounds) {
        val pLit = uniPiecesLit(pieces.map(t => (t._1, t._3)))
        val uMap = wf
          .withColumn("lp", expr(uniViterbiExpr(pLit)).getField("lp"))
          .select(explode(expr(uniWalkExpr)).as("piece"), col("cnt"))
          .groupBy(col("piece")).agg(sum(col("cnt")).as("usage"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        pieces = uniRanked(pieces.collect {
          case (p, _, _) if uMap.getOrElse(p, 0L) > 0 || p.length == 1 =>
            (p, uMap.getOrElse(p, 0L))
        })
      }
      pieces
    } finally { wf.unpersist(); () }
  }

  /** Viterbi segmentation under a trained unigram vocabulary — the
    * serving half ([[bpeTokenize]] replays merges, this minimizes total
    * piece bits): per DISTINCT word one DP fold + backward walk, then
    * the uniform word-key join back to occurrences (the
    * [[wordpieceTokenize]] Heaps'-law shape).
    * Output: (doc_id, n_words, n_uni_tokens).
    */
  def unigramTokenize(docs: DataFrame, pieces: Seq[(String, Int)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(('a' to 'z').forall(c => pieces.exists(_._1 == c.toString)),
      "pieces must cover all single characters (Viterbi totality)")
    val pLit = uniPiecesLit(pieces)
    val occ = norm(docs, idCol, textCol)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    val perWord = occ.select(col("w")).distinct()
      .withColumn("lp", expr(uniViterbiExpr(pLit)).getField("lp"))
      .select(col("w"), size(expr(uniWalkExpr)).as("_n"))
    occ.join(perWord, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_n")).cast("long").as("n_uni_tokens"))
      .orderBy(col("doc_id"))
  }

  private[analytics] val UniRounds = 2
  private[analytics] val UniSeedK = 60
  private[analytics] val UniMaxLen = 4

  private def uniWordFreq(docs: DataFrame, idCol: String, textCol: String) =
    norm(docs, idCol, textCol)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** (usage desc, piece) ranking with Elias-gamma bit costs
    * 2⌊log₂ r⌋+1 — ⌊log₂⌋ via exact bit length, the zipfSurprisal
    * convention (`length(bin(rank)) - 1` in both engines).
    */
  private def uniRanked(ps: Seq[(String, Long)]): Seq[(String, Long, Int)] =
    ps.sortBy { case (p, f) => (-f, p) }.zipWithIndex.map { case ((p, f), i) =>
      (p, f, 2 * (63 - java.lang.Long.numberOfLeadingZeros(i + 1L)) + 1)
    }

  private def uniPiecesLit(pieces: Seq[(String, Int)]): String =
    pieces.map { case (p, b) => s"named_struct('p', '$p', 'b', $b)" }
      .mkString("array(", ", ", ")")

  /** Forward Viterbi DP as ONE `aggregate` fold over character
    * positions: state carries cs (best cost per prefix, 1-based) and lp
    * (the best segmentation's LAST piece per prefix — the backpointer).
    * The candidate argmin is an array_min over (cost, −len, piece)
    * structs, so ties deterministically prefer the longer then
    * lexicographically smaller piece; single-character coverage makes
    * the candidate set non-empty at every position.
    */
  private def uniViterbiExpr(pLit: String): String = {
    val cand = s"""array_min(transform(filter($pLit,
        s -> length(s.p) <= j AND substring(w, j - length(s.p) + 1, length(s.p)) = s.p),
      s -> named_struct('c', element_at(acc.cs, j - length(s.p) + 1) + s.b,
        'nl', -length(s.p), 'p', s.p)))"""
    s"""aggregate(sequence(1, length(w)),
      named_struct('cs', array(0), 'lp', array('')),
      (acc, j) -> element_at(transform(array($cand),
        m -> named_struct('cs', concat(acc.cs, array(m.c)),
          'lp', concat(acc.lp, array(m.p)))), 1))"""
  }

  /** Backward walk over the `lp` backpointers (column `lp` must be in
    * scope): emits the optimal piece sequence in reading order.
    */
  private val uniWalkExpr =
    """aggregate(sequence(1, length(w)),
      named_struct('pos', length(w), 'ps', cast(array() as array<string>)),
      (acc, x) -> IF(acc.pos > 0,
        named_struct('pos', acc.pos - length(element_at(lp, acc.pos + 1)),
          'ps', concat(array(element_at(lp, acc.pos + 1)), acc.ps)),
        acc),
      acc -> acc.ps)"""

  // ---- oracle: the identical trainer as DuckDB CTEs — substring seed,
  // then per round a forward-DP recursive CTE carrying (cs, lp) lists,
  // a backpointer-walk recursive CTE, the usage agg, and the re-rank
  private val uniWfSql =
    """uwf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM
      (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
      GROUP BY w)"""

  private def uniSeedSql(seedK: Int, maxLen: Int) =
    s"""usu1 AS (SELECT w, cnt, unnest(generate_series(1, length(w))) AS i FROM uwf),
    usu2 AS (SELECT w, cnt, i,
      unnest(generate_series(i, least(i + ${maxLen - 1}, length(w)))) AS jj FROM usu1),
    usub AS (SELECT substr(w, i, jj - i + 1) AS piece, SUM(cnt) AS freq
      FROM usu2 GROUP BY 1),
    usk AS (SELECT piece, freq FROM usub ORDER BY freq DESC, piece LIMIT $seedK),
    uch AS (SELECT chr(CAST(96 + g AS INTEGER)) AS piece,
        COALESCE((SELECT freq FROM usub
          WHERE usub.piece = chr(CAST(96 + g AS INTEGER))), 0) AS freq
      FROM (SELECT unnest(generate_series(1, 26)) AS g)),
    up0f AS (SELECT DISTINCT piece, freq
      FROM (SELECT * FROM usk UNION ALL SELECT * FROM uch)),
    upieces0 AS (SELECT piece, 2 * (length(bin(rank)) - 1) + 1 AS bits FROM
      (SELECT piece, ROW_NUMBER() OVER (ORDER BY freq DESC, piece) AS rank
       FROM up0f))"""

  /** Forward-DP + backpointer-walk recursive CTE pair segmenting every
    * distinct word under the `piecesCte` vocabulary — `uwk$sfx` rows at
    * pos = 0 carry the optimal piece list `ps`. Shared by the training
    * rounds and the fertility oracle's final-vocab pass.
    */
  private def uniSegSql(piecesCte: String, sfx: String) =
    s"""uvit$sfx AS (
      SELECT w, 0 AS i, [0] AS cs, [''] AS lp FROM uwf
      UNION ALL
      SELECT w, i + 1, list_append(cs, best.c), list_append(lp, best.p)
      FROM (SELECT w, i, cs, lp,
          (SELECT struct_pack(c := cs[i + 2 - length(p.piece)] + p.bits,
              p := p.piece)
           FROM $piecesCte p
           WHERE length(p.piece) <= i + 1
             AND substr(w, i + 2 - length(p.piece), length(p.piece)) = p.piece
           ORDER BY cs[i + 2 - length(p.piece)] + p.bits,
             length(p.piece) DESC, p.piece
           LIMIT 1) AS best
        FROM uvit$sfx WHERE i < length(w))),
    uwk$sfx AS (
      SELECT w, length(w) AS pos, []::VARCHAR[] AS ps, lp
      FROM uvit$sfx WHERE i = length(w)
      UNION ALL
      SELECT w, pos - length(lp[pos + 1]), list_prepend(lp[pos + 1], ps), lp
      FROM uwk$sfx WHERE pos > 0)"""

  private def uniRoundSql(r: Int) =
    s"""${uniSegSql(s"upieces${r - 1}", r.toString)},
    uusage$r AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS usage FROM
      (SELECT w, unnest(ps) AS piece FROM uwk$r WHERE pos = 0) JOIN uwf USING (w)
      GROUP BY piece),
    upr$r AS (SELECT p.piece, COALESCE(u.usage, 0) AS usage,
        ROW_NUMBER() OVER (ORDER BY COALESCE(u.usage, 0) DESC, p.piece) AS rank
      FROM upieces${r - 1} p LEFT JOIN uusage$r u USING (piece)
      WHERE COALESCE(u.usage, 0) > 0 OR length(p.piece) = 1),
    upieces$r AS (SELECT piece, 2 * (length(bin(rank)) - 1) + 1 AS bits
      FROM upr$r)"""

  private[analytics] val uniTrainCtes =
    s"""$uniWfSql,
    ${uniSeedSql(UniSeedK, UniMaxLen)},
    ${(1 to UniRounds).map(uniRoundSql).mkString(",\n    ")}"""

  private val unigramSql =
    s"""WITH RECURSIVE $uniTrainCtes
    SELECT CAST(rank AS INT) AS rank, piece, CAST(usage AS BIGINT) AS usage,
      CAST(2 * (length(bin(rank)) - 1) + 1 AS INT) AS bits
    FROM upr$UniRounds ORDER BY rank"""

  private val qUnigram = GraftQuery(
    "qt_unigram_lm",
    (s, dir) => {
      import s.implicits._
      Memo.value(s, s"unigram_pieces:$dir")(
        unigramLmTrain(Tables.documents(s, dir)))
        .zipWithIndex.map { case ((p, u, b), i) => (i + 1, p, u, b) }
        .toDF("rank", "piece", "usage", "bits")
        .orderBy(col("rank"))
    },
    Some(unigramSql))

  // ---------------------------------------------- stupid-backoff LM
  /** Stupid-backoff bigram LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — the web-scale LM quality
    * filter: score every document's bigrams against an LM trained on a
    * designated TRAIN slice, backing off to the unigram distribution
    * with α = 0.4 when the bigram is unseen. The CCNet-style
    * "perplexity filter" in the family's integer discipline: no logs —
    * each bigram's probability is exact micro-units
    * (10⁶·c(w₁w₂) DIV c(w₁), backoff (2·10⁶·c(w₂)) DIV (5·N) — α = 0.4
    * as the exact rational 2/5), and a document's score is the mean
    * probability, an integer division. Backoff RATE doubles as the
    * out-of-domain signal.
    *
    * Scale shape: the train slice collapses to bigram + unigram count
    * tables and a 1-row total (uniform token keys, partial aggs — the
    * bigramNovelty precedent covers the "of the" df skew argument);
    * scoring is two count-table joins on the occurrence stream + one
    * doc-key agg. Linear in corpus tokens, no broadcast of anything
    * corpus-sized.
    * Output: (doc_id, n_bigrams, n_backoff, avg_p_micro), docs with ≥1
    * bigram, ordered by doc_id.
    */
  def stupidBackoffScore(docs: DataFrame, isTrain: org.apache.spark.sql.Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bigrams =
      "CASE WHEN size(toks) >= 2 THEN zip_with(slice(toks, 1, size(toks) - 1), " +
        "slice(toks, 2, size(toks) - 1), (x, y) -> named_struct('w1', x, 'w2', y)) " +
        "ELSE array() END"
    val base = norm(docs, idCol, textCol)
      .select(col("doc_id"), isTrain.as("_tr"), expr(toksExpr).as("toks"))
    val toks = base.select(col("doc_id"), col("_tr"), explode(col("toks")).as("w"))
    val occ = base
      .select(col("doc_id"), col("_tr"), explode(expr(bigrams)).as("bg"))
      .select(col("doc_id"), col("_tr"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = toks.filter(col("_tr")).groupBy(col("w"))
      .agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum(col("cu")).as("n_tot"))
    val bi = occ.filter(col("_tr")).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    occ
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("cb").isNotNull, expr("1000000L * cb div c1"))
          .otherwise(expr("(2000000L * coalesce(c2, 0L)) div (5L * n_tot)"))
          .as("p_micro"),
        col("cb").isNull.cast("long").as("backoff"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("backoff")).as("n_backoff"),
        expr("sum(p_micro) div count(1)").as("avg_p_micro"))
      .orderBy(col("doc_id"))
  }

  private val backoffSql = s"""WITH t AS (SELECT doc_id, doc_id % 2 = 0 AS tr,
      $toksSql AS toks FROM documents),
    tk AS (SELECT doc_id, tr, unnest(toks) AS w FROM t),
    occ AS (SELECT doc_id, tr, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, tr, toks, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 2)),
    uni AS (SELECT w, COUNT(*) AS cu FROM tk WHERE tr GROUP BY w),
    tot AS (SELECT SUM(cu) AS n_tot FROM uni),
    bi AS (SELECT w1, w2, COUNT(*) AS cb FROM occ WHERE tr GROUP BY w1, w2),
    sc AS (SELECT occ.doc_id,
        CASE WHEN bi.cb IS NOT NULL THEN 1000000 * bi.cb // u1.cu
             ELSE (2000000 * COALESCE(u2.cu, 0)) // (5 * (SELECT n_tot FROM tot))
        END AS p_micro,
        CASE WHEN bi.cb IS NULL THEN 1 ELSE 0 END AS backoff
      FROM occ
      LEFT JOIN bi ON occ.w1 = bi.w1 AND occ.w2 = bi.w2
      LEFT JOIN uni u1 ON occ.w1 = u1.w
      LEFT JOIN uni u2 ON occ.w2 = u2.w)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(SUM(backoff) AS BIGINT) AS n_backoff,
      CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS avg_p_micro
    FROM sc GROUP BY doc_id ORDER BY doc_id"""

  /** LM trained on even doc_ids, scored over everything: held-out docs
    * exercise the backoff path, and a doc's backoff share next to its
    * mean probability is the in-domain/out-of-domain readout.
    */
  private val qBackoff = GraftQuery(
    "qt_stupid_backoff",
    (s, dir) => stupidBackoffScore(Tables.documents(s, dir),
      col("doc_id") % 2 === 0),
    Some(backoffSql))

  // ---------------------------------------------- vocabulary coverage
  /** Per-document vocabulary coverage / OOV rate against a vocab frame
    * (any (token) frame — a [[vocabulary]] top-k, a learned BPE vocab):
    * the tokenizer-QA readout ("what fraction of this corpus does my
    * vocab actually cover?") run before committing to a tokenizer.
    * Coverage in exact basis points. One corpus token scan + one
    * BROADCAST join against the vocab (vocabs are ≤ a few hundred
    * thousand rows by construction — never corpus-sized), one doc-key
    * aggregation. Docs with zero tokens are absent (no denominator).
    *
    * Output: (doc_id, n_tokens, n_in_vocab, coverage_bp).
    */
  def vocabCoverage(docs: DataFrame, vocab: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      tokenCol: String = "token"): DataFrame =
    norm(docs, idCol, textCol)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .join(broadcast(vocab.select(col(tokenCol).as("token"))
        .distinct().withColumn("_in_v", lit(true))), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in_v"), 1L).otherwise(0L)).as("n_in_vocab"))
      .select(col("doc_id"), col("n_tokens"), col("n_in_vocab"),
        expr("10000 * n_in_vocab div n_tokens").as("coverage_bp"))
      .orderBy(col("doc_id"))

  private val CoverageK = 20

  private val qVocabCoverage = GraftQuery(
    "qt_vocab_coverage",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      vocabCoverage(docs, vocabulary(docs, k = CoverageK))
    },
    Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
      v AS (SELECT token FROM (
        SELECT token, COUNT(*) AS n FROM t GROUP BY token
        ORDER BY n DESC, token LIMIT $CoverageK)),
      c AS (SELECT doc_id, COUNT(*) AS n_tokens,
        SUM(CASE WHEN token IN (SELECT token FROM v) THEN 1 ELSE 0 END) AS n_in_vocab
      FROM t GROUP BY doc_id)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(n_in_vocab AS BIGINT) AS n_in_vocab,
        CAST(10000 * n_in_vocab // n_tokens AS BIGINT) AS coverage_bp
      FROM c ORDER BY doc_id"""))

  // ------------------------------------------------- collocations (lift)
  /** Statistically-bound word pairs by LIFT — the log-free PMI twin
    * (PMI = log lift; ranking by lift ≡ ranking by PMI, and lift is a
    * pure rational in the counts, so it stays exact):
    *
    *   lift_micro = ⌊10⁶·N_ab·T² / (B·N_a·N_b)⌋
    *
    * with N_ab bigram occurrences (multiplicity kept — collocation
    * strength is occurrence-weighted), N_a/N_b unigram occurrences, T
    * total tokens, B total bigrams. Min-support N_ab ≥ 5 kills the
    * rare-pair lift explosion (the standard PMI pathology); top 20 by
    * (lift, bigram) is a TakeOrdered.
    *
    * Plan: one tokenize pass feeds BOTH the unigram and bigram Generate
    * → two uniform-key count aggs → two hash joins of the (domain-
    * sized) bigram count frame against unigram counts → scalar lift.
    * Nothing pairwise, nothing corpus-broadcast.
    */
  private val qColloc = GraftQuery(
    "qt_collocations",
    (s, dir) => {
      val t = Tables.documents(s, dir)
        .select(expr(Nlp.toksExpr).as("toks"))
        .localCheckpoint()
      val uni = t.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("nw"))
      val bi = t.select(explode(expr(Nlp.bigrams("toks"))).as("ab"))
        .groupBy(col("ab")).agg(count(lit(1)).as("nab"))
        .filter(col("nab") >= 5)
      val tot = t.agg(
        sum(size(col("toks"))).as("tt"),
        sum(greatest(size(col("toks")) - 1, lit(0))).as("bb"))
      bi.withColumn("a", expr("split_part(ab, ' ', 1)"))
        .withColumn("b", expr("split_part(ab, ' ', 2)"))
        .join(uni.select(col("w").as("a"), col("nw").as("na")), "a")
        .join(uni.select(col("w").as("b"), col("nw").as("nb")), "b")
        .crossJoin(broadcast(tot))
        .select(col("ab").as("bigram"), col("nab"),
          expr("""CAST((1000000 * CAST(nab AS DECIMAL(38,0)) * tt * tt)
              div (CAST(bb AS DECIMAL(38,0)) * na * nb) AS BIGINT)""")
            .as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("bigram"))
        .limit(20)
    },
    Some(s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS w FROM t),
    un AS (SELECT w, COUNT(*) AS nw FROM uni GROUP BY w),
    big AS (SELECT unnest(${Nlp.bigramsSql("toks")}) AS ab FROM t),
    bn AS (SELECT ab, COUNT(*) AS nab FROM big GROUP BY ab HAVING COUNT(*) >= 5),
    tot AS (SELECT SUM(len(toks)) AS tt,
      SUM(greatest(len(toks) - 1, 0)) AS bb FROM t),
    j AS (SELECT bn.ab, bn.nab,
        split_part(bn.ab, ' ', 1) AS a, split_part(bn.ab, ' ', 2) AS b
      FROM bn)
    SELECT j.ab AS bigram, CAST(j.nab AS BIGINT) AS nab,
      CAST((1000000 * CAST(j.nab AS HUGEINT) * tot.tt * tot.tt)
        // (CAST(tot.bb AS HUGEINT) * ua.nw * ub.nw) AS BIGINT) AS lift_micro
    FROM j JOIN un ua ON j.a = ua.w JOIN un ub ON j.b = ub.w CROSS JOIN tot
    ORDER BY lift_micro DESC, bigram LIMIT 20"""))

  // ------------------------------------------------- Chao1 estimator
  /** Bias-corrected Chao1 unseen-species estimate of the TRUE vocabulary
    * size — the capture–recapture answer to "how many word types exist
    * beyond this corpus sample" (the asymptote [[qHeaps]]' growth curve
    * is climbing toward). Pure integer arithmetic on the frequency-of-
    * frequency counts:
    *
    *   chao1 = V + ⌊F₁(F₁−1) / (2(F₂+1))⌋
    *
    * (the bias-corrected form — defined even when no word occurs exactly
    * twice). Plan: token Generate → word counts (uniform keys) → a
    * 1-row frequency-of-frequency agg; nothing survives the second agg.
    */
  private val qChao1 = GraftQuery(
    "qt_chao1",
    (s, dir) => {
      val wc = Tables.documents(s, dir)
        .select(explode(expr(Nlp.toksExpr)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      wc.agg(count(lit(1)).as("v"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("n") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("v"), col("f1"), col("f2"),
          expr("v + (f1 * (f1 - 1)) div (2 * (f2 + 1))").as("chao1_est"))
    },
    Some(s"""WITH t AS (SELECT unnest($toksSql) AS w FROM documents),
    wc AS (SELECT w, COUNT(*) AS n FROM t GROUP BY w),
    f AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
        CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM wc)
    SELECT v, f1, f2,
      CAST(v + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT) AS chao1_est
    FROM f"""))

  // ------------------------------------------- Kneser–Ney bigram LM
  /** Interpolated Kneser–Ney bigram probabilities (Chen & Goodman 1998)
    * with absolute discount D = 3/4, for the `topK` most frequent
    * bigrams:
    *
    *   P_KN(w2|w1) = (c(w1w2) − D)⁺/c(w1) + λ(w1)·P_cont(w2)
    *   λ(w1)  = D·N₁₊(w1·)/c(w1)
    *   P_cont(w2) = N₁₊(·w2)/N₁₊(··)
    *
    * The CONTINUATION count N₁₊(·w2) — how many distinct contexts w2
    * follows — is what separates KN from count-backoff ([[qBackoff]]):
    * a token that is frequent but only ever follows one context
    * ("francisco" after "san") gets a tiny continuation probability
    * instead of inheriting its raw frequency. D = 3/4 keeps every term
    * an exact integer: (c−¾)/c1 = (4c−3)/(4·c1) and λ = 3·N₁₊(w1·)/(4·c1),
    * all floored to micro-units — bit-identical across engines, no
    * float log-probs.
    *
    * Scale: the corpus collapses to the bigram count table in one agg
    * (vocab²-bounded, localCheckpointed — four consumers, one build);
    * fwd/bwd continuation tables are vocab-bounded aggregations of IT,
    * not the corpus; top-k is a TakeOrdered; the final arithmetic joins
    * the k-row frame broadcast. Output: (w1, w2, c12, c1, pkn_micro)
    * ordered by c12 desc, w1, w2.
    */
  def kneserNey(docs: DataFrame, topK: Int = 50, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val bigrams =
      "CASE WHEN size(toks) >= 2 THEN zip_with(slice(toks, 1, size(toks) - 1), " +
        "slice(toks, 2, size(toks) - 1), (x, y) -> concat(x, ' ', y)) " +
        "ELSE array() END"
    val c12 = norm(docs, idCol, textCol)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(explode(expr(bigrams)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("c12"))
      .localCheckpoint()
    val fwd = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nf"))
    val bwd = c12.groupBy(col("w2")).agg(count(lit(1)).as("nb"))
    val tt = c12.agg(count(lit(1)).as("t"))
    val top = c12.orderBy(col("c12").desc, col("w1"), col("w2")).limit(topK)
    broadcast(top)
      .join(fwd, Seq("w1")).join(bwd, Seq("w2"))
      .crossJoin(broadcast(tt))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        expr("""(1000000 * (4 * c12 - 3)) div (4 * c1)
          + (((1000000 * 3 * nf) div (4 * c1))
             * ((1000000 * nb) div t)) div 1000000""").as("pkn_micro"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
  }

  private val KnTopK = 50

  private val qKneserNey = GraftQuery(
    "qt_kneser_ney",
    (s, dir) => kneserNey(Tables.documents(s, dir), KnTopK),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    b0 AS (SELECT doc_id, CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks) - 1),
        i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS bgs FROM t),
    occ AS (SELECT unnest(bgs) AS bg FROM b0),
    cg AS (SELECT bg, COUNT(*) AS c12 FROM occ GROUP BY bg),
    c AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2, c12 FROM cg),
    fwd AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS nf FROM c GROUP BY w1),
    bwd AS (SELECT w2, COUNT(*) AS nb FROM c GROUP BY w2),
    tt AS (SELECT COUNT(*) AS t FROM c),
    top AS (SELECT w1, w2, c12 FROM c ORDER BY c12 DESC, w1, w2 LIMIT $KnTopK)
    SELECT top.w1, top.w2, CAST(top.c12 AS BIGINT) AS c12,
      CAST(fwd.c1 AS BIGINT) AS c1,
      CAST((1000000 * (4 * top.c12 - 3)) // (4 * fwd.c1)
        + (((1000000 * 3 * fwd.nf) // (4 * fwd.c1))
           * ((1000000 * bwd.nb) // tt.t)) // 1000000 AS BIGINT) AS pkn_micro
    FROM top JOIN fwd USING (w1) JOIN bwd USING (w2), tt
    ORDER BY c12 DESC, w1, w2"""))

  // ------------------------------------------- Zipf-code surprisal
  /** MDL document-complexity scoring with CCNet-style head/middle/tail
    * buckets, in EXACT integer arithmetic: each token's "surprisal" is
    * the length in bits of its Elias-gamma code under the corpus
    * frequency ranking — bits(r) = 2·⌊log₂ r⌋ + 1 for frequency rank r —
    * which is within 2× of the true −log₂ P cost of any Zipf-ish source
    * (universal-code guarantee, Elias 1975) while needing only integer
    * bit-lengths (`length(bin(r)) − 1`; no float `ln`, so the score is
    * bit-deterministic across engines — the same reason [[tfidfKeywords]]
    * avoids log). Documents of frequent tokens code short (CCNet's
    * "head"); rare-token documents code long ("tail"). This is the
    * perplexity-filter analogue (Wenzek et al., CCNet 2020) under a
    * rank-structured model instead of a trained LM — the bucketing
    * semantics (sort by per-token cost, cut into thirds) are CCNet's.
    *
    * Frequency ranks are assigned WITHOUT a global single-partition
    * window (the [[MatchOps.sortedNeighborhoodPairs]] two-level scheme):
    * per-COUNT partitioned row_number + broadcast per-count offsets, the
    * offsets frame being distinct-count-sized (≪ vocab; its cumulative
    * window is the sanctioned tiny-frame kind). Tercile thresholds come
    * from the milli-bits-per-token DISTRIBUTION frame, whose key domain
    * is bounded by construction (mbpt ≤ 1000·(2·63+1)), never from a
    * corpus-sized sort. One token-keyed join charges each occurrence its
    * code length (broadcast when the vocab fits; stopword keys are the
    * usual df-cap candidates at web scale, see [[tfidfKeywords]]).
    *
    * Output: (doc_id, n_toks, bits, mbpt, bucket) for every doc with ≥ 1
    * token, ordered by doc_id; `bucket` ∈ head|middle|tail by mbpt
    * terciles (head = cheapest-to-code third, boundary docs to the
    * cheaper bucket).
    */
  def zipfSurprisal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = norm(docs, idCol, textCol)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
    val cnt = t.groupBy(col("token")).agg(count(lit(1)).as("n"))
    val offs = cnt.groupBy(col("n")).agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(
        Window.orderBy(col("n").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n"), col("off"))
    val ranked = cnt.join(broadcast(offs), "n")
      .withColumn("rank", col("off") + row_number().over(
        Window.partitionBy(col("n")).orderBy(col("token"))))
      .withColumn("bits", lit(2) * (length(bin(col("rank"))) - 1) + 1)
      .select(col("token"), col("bits"))
    val perDoc = t.join(ranked, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("bits")).as("bits"))
      .withColumn("mbpt", expr("(1000 * bits) div n_toks"))
    val nt = perDoc.agg(count(lit(1)).as("ndocs"))
    val th = perDoc.groupBy(col("mbpt")).agg(count(lit(1)).as("dn"))
      .withColumn("cum", sum(col("dn")).over(
        Window.orderBy(col("mbpt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(nt))
      .agg(min(when(col("cum") * 3 >= col("ndocs"), col("mbpt"))).as("t1"),
        min(when(col("cum") * 3 >= col("ndocs") * 2, col("mbpt"))).as("t2"))
    perDoc.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_toks"), col("bits"), col("mbpt"),
        when(col("mbpt") <= col("t1"), lit("head"))
          .when(col("mbpt") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  private val qZipfSurprisal = GraftQuery(
    "qt_zipf_surprisal",
    (s, dir) => zipfSurprisal(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
    c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token),
    o AS (SELECT n, COALESCE(SUM(COUNT(*)) OVER (ORDER BY n DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM c GROUP BY n),
    r AS (SELECT c.token, o.off + ROW_NUMBER() OVER (PARTITION BY c.n
        ORDER BY c.token) AS rank FROM c JOIN o USING (n)),
    rb AS (SELECT token, 2 * (length(bin(rank)) - 1) + 1 AS bits FROM r),
    d AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
        CAST(SUM(rb.bits) AS BIGINT) AS bits
      FROM t JOIN rb USING (token) GROUP BY t.doc_id),
    dd AS (SELECT doc_id, n_toks, bits,
        CAST((1000 * bits) // n_toks AS BIGINT) AS mbpt FROM d),
    nt AS (SELECT COUNT(*) AS ndocs FROM dd),
    cum AS (SELECT mbpt, SUM(COUNT(*)) OVER (ORDER BY mbpt
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM dd GROUP BY mbpt),
    th AS (SELECT MIN(CASE WHEN cum * 3 >= (SELECT ndocs FROM nt)
          THEN mbpt END) AS t1,
        MIN(CASE WHEN cum * 3 >= (SELECT ndocs FROM nt) * 2
          THEN mbpt END) AS t2 FROM cum)
    SELECT dd.doc_id, dd.n_toks, dd.bits, dd.mbpt,
      CASE WHEN dd.mbpt <= th.t1 THEN 'head'
           WHEN dd.mbpt <= th.t2 THEN 'middle'
           ELSE 'tail' END AS bucket
    FROM dd, th ORDER BY dd.doc_id"""))

  // ------------------------------------------- Good–Turing frequencies
  /** Good–Turing frequency re-estimation over the trigram count
    * spectrum (Good 1953; the estimator under Katz backoff and the
    * classical answer to "how much probability mass belongs to n-grams
    * we have never seen"): with N_r = #species observed exactly r times,
    * the adjusted count is r* = (r+1)·N_{r+1}/N_r and the unseen mass is
    * p₀ = N₁/N. Exact rationals end-to-end — r* and p₀ are single
    * floored ppm divisions over DECIMAL(38,0) counts; no log-log
    * smoothing fit (ln() carries no cross-engine guarantee — the
    * [[qKeywords]] convention), so r* is NULL where N_{r+1} = 0, exactly
    * as raw Turing estimates behave.
    *
    * Plan: trigram Generate → species counts (uniform keys) → the
    * frequency-of-frequency rollup is r-domain-sized (≤ max count rows);
    * the N_{r+1} lookup is a broadcast self-join on that tiny frame.
    *
    * Output: (r, n_r, n_next, rstar_ppm, p0_ppm) ascending by r.
    */
  def goodTuring(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val nr = norm(docs, idCol, textCol)
      .select(explode(expr(Nlp.trigrams(Nlp.toksExpr))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("r"))
      .groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val tot = nr.agg(sum(dec(col("r")) * col("n_r")).as("nn"),
      sum(when(col("r") === 1, col("n_r")).otherwise(0L)).as("f1"))
    nr.join(broadcast(nr.select((col("r") - 1).as("r"),
        col("n_r").as("n_next"))), Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"), col("n_next"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * (r + 1) * n_next)
          div CAST(n_r AS DECIMAL(38,0)) AS BIGINT)""").as("rstar_ppm"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * f1) div nn AS BIGINT)""")
          .as("p0_ppm"))
      .orderBy(col("r"))
  }

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")

  private val qGoodTuring = GraftQuery(
    "qt_good_turing",
    (s, dir) => goodTuring(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
    g AS (SELECT unnest(${Nlp.trigramsSql("toks")}) AS s FROM t),
    c AS (SELECT s, COUNT(*) AS r FROM g GROUP BY s),
    nr AS (SELECT r, COUNT(*) AS n_r FROM c GROUP BY r),
    tot AS (SELECT SUM(CAST(r AS HUGEINT) * n_r) AS nn,
        SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS f1 FROM nr)
    SELECT CAST(nr.r AS BIGINT) AS r, CAST(nr.n_r AS BIGINT) AS n_r,
      CAST(nx.n_r AS BIGINT) AS n_next,
      CAST((CAST(1000000 AS HUGEINT) * (nr.r + 1) * nx.n_r)
        // CAST(nr.n_r AS HUGEINT) AS BIGINT) AS rstar_ppm,
      CAST((CAST(1000000 AS HUGEINT) * tot.f1) // tot.nn AS BIGINT) AS p0_ppm
    FROM nr LEFT JOIN nr nx ON nx.r = nr.r + 1 CROSS JOIN tot
    ORDER BY r"""))

  // --------------------------------------------- Yule's K (richness)
  /** Yule's characteristic K — the sample-size-invariant vocabulary-
    * richness statistic (Yule 1944): K = 10⁴·(Σᵣ r²·N_r − N)/N², the
    * (scaled) probability two random tokens are the same type. Low K =
    * rich, varied vocabulary; high K = repetitive text. The classic
    * corpus-comparison companion to [[qChao1]] (how many types exist)
    * and [[qHeaps]] (how fast they accrue): K asks how CONCENTRATED the
    * usage is, and unlike raw type/token ratio it does not drift with
    * corpus size — which is what makes it usable as a repetitiveness
    * gate across differently-sized shards.
    *
    * Pure integers: one token Generate → word counts → a 1-row
    * frequency moment agg; 10⁷-scaled milli-K in DECIMAL(38,0) (the
    * numerator passes BIGINT at ~10⁸ tokens of a hot type).
    *
    * Output (1 row): (n_tokens, v_types, s2, k_milli).
    */
  def yuleK(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val wc = norm(docs, idCol, textCol)
      .select(explode(expr(toksExpr)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("r"))
    wc.agg(sum(col("r")).as("n"), count(lit(1)).as("v"),
        sum(dec(col("r")) * col("r")).as("s2"))
      .select(col("n").cast("long").as("n_tokens"),
        col("v").cast("long").as("v_types"),
        col("s2").cast("long").as("s2"),
        expr("""CAST((CAST(10000000 AS DECIMAL(38,0)) * (s2 - n))
          div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""").as("k_milli"))
  }

  private val qYuleK = GraftQuery(
    "qt_yule_k",
    (s, dir) => yuleK(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT unnest($toksSql) AS w FROM documents),
    wc AS (SELECT w, COUNT(*) AS r FROM t GROUP BY w),
    f AS (SELECT CAST(SUM(r) AS HUGEINT) AS n, COUNT(*) AS v,
        SUM(CAST(r AS HUGEINT) * r) AS s2 FROM wc)
    SELECT CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS v_types,
      CAST(s2 AS BIGINT) AS s2,
      CAST((10000000 * (s2 - n)) // (n * n) AS BIGINT) AS k_milli
    FROM f"""))

  // --------------------------------------- term burstiness (Fano factor)
  /** Per-term burstiness as the Fano factor (dispersion index) of
    * per-document occurrence counts, zeros included — Church & Gale's
    * observation that CONTENT words clump (a doc that mentions a topic
    * word mentions it repeatedly → variance ≫ mean) while FUNCTION
    * words spread Poisson-like (Fano ≈ 1). The classic term-weighting /
    * stopword-separation signal that raw document frequency misses.
    *
    * Zero-inflation without materializing zeros: with n total docs and
    * per-term S = Σc, Q = Σc² over PRESENT docs only, the all-docs
    * Fano = Var/Mean = (n·Q − S²)/(n·S) — absent docs contribute 0 to
    * both moments, so only the 1-row doc count is needed. Exact milli
    * integers in DECIMAL(38,0). One token Generate → (term, doc)
    * counts → term rollup; top `k` terms by occurrence.
    *
    * Output: (w, n_occ, n_docs, fano_milli) by occurrences desc.
    */
  def termBurstiness(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 20): DataFrame = {
    val nd = norm(docs, idCol, textCol)
      .agg(countDistinct(col("doc_id")).cast("decimal(38,0)").as("n"))
    val c = norm(docs, idCol, textCol)
      .select(col("doc_id"), explode(expr(toksExpr)).as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
    c.groupBy(col("w"))
      .agg(sum(dec(col("c"))).as("s"), sum(dec(col("c")) * col("c")).as("q"),
        count(lit(1)).as("present"))
      .crossJoin(broadcast(nd))
      .select(col("w"), col("s").cast("long").as("n_occ"),
        col("present").cast("long").as("n_docs"),
        expr("""CAST((1000 * (n * q - s * s)) div (n * s) AS BIGINT)""")
          .as("fano_milli"))
      .orderBy(col("n_occ").desc, col("w"))
      .limit(k)
  }

  private val qBurstiness = GraftQuery(
    "qt_burstiness",
    (s, dir) => termBurstiness(Tables.documents(s, dir)),
    Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS HUGEINT) AS n FROM documents),
    c AS (SELECT w, doc_id, COUNT(*) AS c FROM t GROUP BY 1, 2),
    s AS (SELECT w, CAST(SUM(c) AS HUGEINT) AS s,
        SUM(CAST(c AS HUGEINT) * c) AS q, COUNT(*) AS present
      FROM c GROUP BY w)
    SELECT w, CAST(s AS BIGINT) AS n_occ, CAST(present AS BIGINT) AS n_docs,
      CAST((1000 * (nd.n * q - s * s)) // (nd.n * s) AS BIGINT) AS fano_milli
    FROM s, nd ORDER BY n_occ DESC, w LIMIT 20"""))

  def queries: Seq[GraftQuery] =
    Seq(qVocab, qKeywords, qEditDist, qBm25, qBpeTrain, qBpeTokenize, qCountMin,
      qPhrase, qBigramNovelty, qVocabCoverage, qWordpiece, qBackoff,
      qFertility, qPrf, qPieceUsage, qHeaps, qColloc, qChao1, qKneserNey,
      qZipfSurprisal, qGoodTuring, qYuleK, qBurstiness, qUnigram)
}
