package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import Nlp.{toksExprOn, toksSql}

/** Training-data ORDERING and PAIRING operators — the last mile between a
  * curated corpus and a training run: which distribution gaps exist
  * between sources (total-variation divergence, the number behind mixture
  * rebalancing), what order the examples are fed (curriculum batches),
  * and preference-pair construction for reward-model/DPO training.
  * Exact integer arithmetic throughout, one oracle per query.
  */
object PairOps {

  // ---------------------------------------- source distribution distance
  /** Total-variation distance between the unigram token distributions of
    * every pair of corpus sources — the EXACT divergence (unlike KL/JS it
    * needs no logarithms, so it stays bit-deterministic cross-engine):
    *
    *   TVD(a,b) = ½ Σ_w |p_a(w) − p_b(w)|
    *            = ½ (Σp_a + Σp_b − 2 Σ_w min(p_a(w), p_b(w)))
    *
    * The min-form is the scale trick: the union-domain |·| sum would need
    * a per-pair FULL OUTER join (absent tokens as zero), but since
    * |x−y| = x+y−2·min(x,y) and min(p_a, 0) = 0, only MATCHED tokens
    * contribute to the min term — an inner self-join on the token key
    * with fan-out bounded by |sources|², plus per-source probability
    * totals (tiny). Probabilities are micro-unit floors p = ⌊10⁶·c/n⌋, so
    * Σp ≈ 10⁶ up to vocabulary-count floor dust — both engines floor
    * identically.
    *
    * A TVD of 0 means interchangeable sources; 10⁶ means disjoint
    * vocabularies. This is the number temperature-mixing ([[MixOps]])
    * decisions read. Output: (source_a, source_b, tvd_micro) for every
    * unordered pair, ordered lexicographically.
    */
  def sourceTvd(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val occ = docs
      .select(col(groupCol).as("g"), explode(expr(toksExprOn(textCol))).as("w"))
      .groupBy(col("g"), col("w")).agg(count(lit(1)).as("c"))
    val tot = occ.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val dist = occ.join(broadcast(tot), Seq("g"))
      .select(col("g"), col("w"), expr("(1000000 * c) div n").as("p"))
    val ptot = dist.groupBy(col("g")).agg(sum(col("p")).as("pt"))
    val matched = dist.select(col("g").as("ga"), col("w"), col("p").as("pa"))
      .join(dist.select(col("g").as("gb"), col("w"), col("p").as("pb")), Seq("w"))
      .filter(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb"))
      .agg(sum(least(col("pa"), col("pb"))).as("m"))
    // pair domain comes from the |sources|²-sized totals cross, NOT the
    // matched join — fully disjoint source pairs have no matched token
    // rows but a TVD of exactly 1 (left join, overlap mass 0)
    ptot.select(col("g").as("ga"), col("pt").as("ta"))
      .crossJoin(ptot.select(col("g").as("gb"), col("pt").as("tb")))
      .filter(col("ga") < col("gb"))
      .join(matched, Seq("ga", "gb"), "left")
      .select(col("ga").as("source_a"), col("gb").as("source_b"),
        expr("(ta + tb - 2 * coalesce(m, 0L)) div 2").as("tvd_micro"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ------------------------------------------------ curriculum batches
  /** Curriculum batch assignment: cut a corpus ranked by a difficulty
    * signal (Flesch–Kincaid grade, [[TextOps.readability]]) into
    * `nBatches` equal-population batches — batch 0 is fed first
    * (easiest), batch B−1 last. The global ordering rides the existing
    * distributed percentile machinery ([[TextOps.percentileRank]] —
    * value-collapse + two-level cumsum, no global sort window), so batch
    * = ⌊(pct_bp − 1)·B / 10⁴⌋ is a map over the ranked frame; the
    * binding reuses the memoized readability percentiles the
    * qt_readability_percentile binding builds.
    *
    * Output is the per-batch ramp card (what a training engineer checks
    * before launching): (batch, n_docs, min_fk_micro, max_fk_micro,
    * mean_fk_micro floored) ordered by batch — difficulty must ascend
    * monotonically through the batches by construction.
    */
  def curriculumFromRanked(ranked: DataFrame, nBatches: Int): DataFrame = {
    require(nBatches >= 2, s"nBatches must be >= 2, got $nBatches")
    ranked
      .withColumn("batch", expr(s"((pct_bp - 1) * $nBatches) div 10000"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("fk_grade_micro")).as("min_fk_micro"),
        max(col("fk_grade_micro")).as("max_fk_micro"),
        expr("sum(fk_grade_micro) div count(1)").as("mean_fk_micro"))
      .orderBy(col("batch"))
  }

  // -------------------------------------------- preference-pair mining
  /** Preference-pair construction for reward-model / DPO training: within
    * each blocking cell (language × length bucket — comparable prompts),
    * pair the i-th HIGHEST-scoring document with the i-th LOWEST as
    * (chosen, rejected), keep pairs whose score gap clears `minGap`. The
    * best-vs-worst mirror pairing maximizes the summed preference margin
    * for a fixed pair budget and — unlike all-pairs-in-block — stays
    * LINEAR: one rank window per block plus one equi-join on
    * (block, mirror rank). A document lands in at most one pair; odd
    * blocks leave their median document unpaired (i < mirror strict).
    *
    * `scored` must carry (id, score, block...) — the binding feeds the
    * memoized distilled quality score ([[LearnOps.scoredDocs]]), so the
    * same model that filters the corpus also ranks its preferences.
    * Output: (block cols..., chosen_id, rejected_id, chosen_score,
    * rejected_score, gap), ordered by block + chosen_id.
    */
  def preferencePairs(scored: DataFrame, blockCols: Seq[String],
      idCol: String, scoreCol: String, minGap: Long): DataFrame = {
    val bc = blockCols.map(col)
    val w = Window.partitionBy(bc: _*)
      .orderBy(col(scoreCol).desc, col(idCol))
    val ranked = scored
      .withColumn("_r", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(bc: _*)))
    val lo = ranked.select((bc :+ (col("_n") - col("_r") + 1).as("_mr") :+
      col(idCol).as("rejected_id") :+ col(scoreCol).as("rejected_score")): _*)
    ranked
      .filter(col("_r") * 2 < col("_n") + 1)
      .select((bc :+ col("_r").as("_mr") :+ col(idCol).as("chosen_id") :+
        col(scoreCol).as("chosen_score")): _*)
      .join(lo, blockCols :+ "_mr")
      .filter(col("chosen_score") - col("rejected_score") >= minGap)
      .select((bc :+ col("chosen_id") :+ col("rejected_id") :+
        col("chosen_score") :+ col("rejected_score") :+
        (col("chosen_score") - col("rejected_score")).as("gap")): _*)
      .orderBy((bc :+ col("chosen_id")).map(c => c): _*)
  }

  // ==================== driver-checked query bindings ====================

  private val qSourceTvd = GraftQuery(
    "qt_source_tvd",
    (s, dir) => sourceTvd(Tables.documents(s, dir)),
    Some(s"""WITH occ AS (SELECT source AS g, unnest($toksSql) AS w FROM documents),
    cg AS (SELECT g, w, COUNT(*) AS c FROM occ GROUP BY g, w),
    tot AS (SELECT g, SUM(c) AS n FROM cg GROUP BY g),
    dist AS (SELECT cg.g, cg.w, (1000000 * cg.c) // tot.n AS p
      FROM cg JOIN tot ON cg.g = tot.g),
    ptot AS (SELECT g, SUM(p) AS pt FROM dist GROUP BY g),
    m AS (SELECT a.g AS ga, b.g AS gb, SUM(LEAST(a.p, b.p)) AS m
      FROM dist a JOIN dist b ON a.w = b.w AND a.g < b.g
      GROUP BY a.g, b.g)
    SELECT ta.g AS source_a, tb.g AS source_b,
      CAST((ta.pt + tb.pt - 2 * COALESCE(m.m, 0)) // 2 AS BIGINT) AS tvd_micro
    FROM ptot ta JOIN ptot tb ON ta.g < tb.g
    LEFT JOIN m ON m.ga = ta.g AND m.gb = tb.g
    ORDER BY source_a, source_b"""))

  private val CurB = 8

  private val qCurriculum = GraftQuery(
    "qt_curriculum",
    (s, dir) => curriculumFromRanked(TextOps.fkPercentiles(s, dir), CurB),
    Some(s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
    m AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
        CAST(list_sum(list_transform(toks, t ->
          GREATEST(1, len(regexp_extract_all(lower(t), '[aeiouy]+'))))) AS BIGINT) AS n_syllables
      FROM t WHERE len(toks) >= 1),
    d AS (SELECT doc_id, 390000 * n_words // n_sentences
        + 11800000 * n_syllables // n_words - 15590000 AS fk FROM m),
    g AS (SELECT fk, COUNT(*) AS k FROM d GROUP BY fk),
    c AS (SELECT fk, SUM(k) OVER (ORDER BY fk
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        (SELECT SUM(k) FROM g) AS n FROM g),
    r AS (SELECT d.doc_id, d.fk, (10000 * c.cum) // c.n AS pct_bp
      FROM d JOIN c ON d.fk = c.fk),
    b AS (SELECT doc_id, fk, ((pct_bp - 1) * $CurB) // 10000 AS batch FROM r)
    SELECT CAST(batch AS BIGINT) AS batch, CAST(COUNT(*) AS BIGINT) AS n_docs,
      MIN(fk) AS min_fk_micro, MAX(fk) AS max_fk_micro,
      CAST(SUM(fk) // COUNT(*) AS BIGINT) AS mean_fk_micro
    FROM b GROUP BY batch ORDER BY batch"""))

  private val PrefGap = 100L
  private val PrefLenBucket = 500L

  private val qPrefPairs = GraftQuery(
    "qt_preference_pairs",
    (s, dir) => {
      val blocks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          expr(s"n_chars div $PrefLenBucket").as("len_b"))
      val scored = LearnOps.scoredDocs(s, dir)
        .select(col("doc_id"), col("score"))
        .join(blocks, Seq("doc_id"))
      preferencePairs(scored, Seq("lang", "len_b"), "doc_id", "score", PrefGap)
    },
    Some(s"""WITH ${LearnOps.scoredCte},
    blocks AS (SELECT d.doc_id, d.lang, d.n_chars // $PrefLenBucket AS len_b,
        cal.score
      FROM documents d JOIN cal ON d.doc_id = cal.doc_id),
    ranked AS (SELECT lang, len_b, doc_id, score,
        ROW_NUMBER() OVER (PARTITION BY lang, len_b
          ORDER BY score DESC, doc_id) AS r,
        COUNT(*) OVER (PARTITION BY lang, len_b) AS n
      FROM blocks),
    hi AS (SELECT lang, len_b, r AS mr, doc_id AS chosen_id,
        score AS chosen_score FROM ranked WHERE r * 2 < n + 1),
    lo AS (SELECT lang, len_b, n - r + 1 AS mr, doc_id AS rejected_id,
        score AS rejected_score FROM ranked)
    SELECT hi.lang, hi.len_b, hi.chosen_id, lo.rejected_id,
      hi.chosen_score, lo.rejected_score,
      hi.chosen_score - lo.rejected_score AS gap
    FROM hi JOIN lo ON hi.lang = lo.lang AND hi.len_b = lo.len_b
      AND hi.mr = lo.mr
    WHERE hi.chosen_score - lo.rejected_score >= $PrefGap
    ORDER BY hi.lang, hi.len_b, hi.chosen_id"""))

  // -------------------------------------------- quality-signal ensemble
  /** Rank-average ensemble of independent quality signals — the robust
    * "combine the filters" rule when no calibration set exists to fit
    * weights (percentile ranks are scale-free, so no one signal's units
    * dominate): per doc the corpus percentile of the distilled model
    * score, of Flesch–Kincaid grade, and of document length, averaged in
    * integer basis points. Documents with no words (no FK grade) or no
    * tokens (no distill score) are excluded by the inner joins — the
    * same population every member signal is defined on.
    *
    * All three percentile frames ride [[TextOps.percentileRank]]'s
    * distributed scan; two are memoized corpus-wide already (distill
    * scores, FK percentiles), so the marginal plan is one length ranking
    * plus two doc-key joins.
    * Output: (doc_id, score_pct, fk_pct, len_pct, ens_bp) by doc_id.
    */
  private val qQualityEnsemble = GraftQuery(
    "qt_quality_ensemble",
    (s, dir) => {
      val sc = TextOps.percentileRank(
        LearnOps.scoredDocs(s, dir).select(col("doc_id"), col("score")),
        "doc_id", "score")
        .select(col("doc_id"), col("pct_bp").as("score_pct"))
      val fk = TextOps.fkPercentiles(s, dir)
        .select(col("doc_id"), col("pct_bp").as("fk_pct"))
      val ln = TextOps.percentileRank(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars")
        .select(col("doc_id"), col("pct_bp").as("len_pct"))
      sc.join(fk, "doc_id").join(ln, "doc_id")
        .select(col("doc_id"), col("score_pct"), col("fk_pct"), col("len_pct"),
          expr("(score_pct + fk_pct + len_pct) div 3").as("ens_bp"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${LearnOps.scoredCte},
    gs AS (SELECT score, COUNT(*) AS k FROM cal GROUP BY score),
    cs AS (SELECT score, SUM(k) OVER (ORDER BY score
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER () AS n FROM gs),
    ps AS (SELECT cal.doc_id, (10000 * cs.cum) // cs.n AS score_pct
      FROM cal JOIN cs ON cal.score = cs.score),
    m2 AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
        CAST(list_sum(list_transform(toks, t ->
          GREATEST(1, len(regexp_extract_all(lower(t), '[aeiouy]+'))))) AS BIGINT) AS n_syllables
      FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
      WHERE len(toks) >= 1),
    fk2 AS (SELECT doc_id,
        CAST(390000 * n_words // n_sentences
          + 11800000 * n_syllables // n_words - 15590000 AS BIGINT) AS v
      FROM m2),
    gf AS (SELECT v, COUNT(*) AS k FROM fk2 GROUP BY v),
    cf AS (SELECT v, SUM(k) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER () AS n FROM gf),
    pf AS (SELECT fk2.doc_id, (10000 * cf.cum) // cf.n AS fk_pct
      FROM fk2 JOIN cf ON fk2.v = cf.v),
    gl AS (SELECT n_chars AS v, COUNT(*) AS k FROM documents GROUP BY n_chars),
    cl AS (SELECT v, SUM(k) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER () AS n FROM gl),
    pl AS (SELECT d.doc_id, (10000 * cl.cum) // cl.n AS len_pct
      FROM documents d JOIN cl ON d.n_chars = cl.v)
    SELECT ps.doc_id, CAST(ps.score_pct AS BIGINT) AS score_pct,
      CAST(pf.fk_pct AS BIGINT) AS fk_pct,
      CAST(pl.len_pct AS BIGINT) AS len_pct,
      CAST((ps.score_pct + pf.fk_pct + pl.len_pct) // 3 AS BIGINT) AS ens_bp
    FROM ps JOIN pf ON ps.doc_id = pf.doc_id
    JOIN pl ON ps.doc_id = pl.doc_id
    ORDER BY ps.doc_id"""))

  val queries: Seq[GraftQuery] = Seq(qSourceTvd, qCurriculum, qPrefPairs,
    qQualityEnsemble)
}
