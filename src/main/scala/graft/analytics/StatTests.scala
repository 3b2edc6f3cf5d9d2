package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery

/** Distributed statistical hypothesis tests + resampling — the experiment-
  * analysis tier (A/B testing, distribution comparison, uncertainty
  * quantification) expressed as exact-arithmetic Spark aggregations.
  *
  * Everything follows the module family's determinism discipline: test
  * statistics are integers in fixed-point units (micro-units / basis
  * points), computed via integer or DECIMAL(38,0) arithmetic so results
  * are bit-identical across engines and partitionings. Significance
  * thresholds are pre-squared so no sqrt is ever taken.
  *
  * Scale shapes: the chi-square test is ONE full-scan aggregation to a
  * 1-row contingency summary; the bootstrap is one scan with a 64×
  * map-side explode collapsing into a 64-key partial agg; the KS test
  * needs one global sort of the DISTINCT value domain (the inherent cost
  * of an exact ECDF comparison — for 100 TB inputs the value domain,
  * not the row count, bounds the sorted set).
  */
object StatTests {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Two-proportion A/B test as the 2×2 chi-square statistic, exact
    * micro-units. For cells a,b (variant 0: hit/miss) and c,d (variant 1):
    *
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * `significant` compares against χ²₍₀.₀₅,1₎ = 3.841459 pre-scaled, so
    * the α=0.05 decision is itself exact.
    *
    * Overflow discipline: the naive N·(ad−bc)²·10⁶ numerator needs
    * ~5·log₁₀N+6 digits and silently nulls out of DECIMAL(38,0) around
    * N≈10⁷ trials. Instead split den = d1·d2 with d1=(a+b)(c+d),
    * d2=(a+c)(b+d) and use two exact identities: for t=(ad−bc)² and
    * m=10⁶·N,
    *
    *   ⌊m·t/d1⌋ = m·(t div d1) + ⌊m·(t mod d1)/d1⌋      (remainder split)
    *   ⌊⌊m·t/d1⌋ / d2⌋ = ⌊m·t/(d1·d2)⌋                   (nested floor)
    *
    * Every intermediate is ≤ 10⁶·N³/4 (t div d1 ≤ d2 because
    * (ad−bc)² ≤ d1·d2 — Cauchy–Schwarz on the margins), so DECIMAL(38,0)
    * — and HUGEINT on the DuckDB side — is exact out to N ≈ 5·10¹⁰ trials.
    * The result is bit-identical to the naive formula where both are
    * defined.
    *
    * One aggregation pass over the trials frame → 1 row; nothing but the
    * four cell counts ever leaves the executors.
    */
  def chiSquareAb(trials: DataFrame, variant: Column, hit: Column): DataFrame = {
    val cells = trials.agg(
      sum(when(variant === 0 && hit, 1L).otherwise(0L)).as("a"),
      sum(when(variant === 0 && !hit, 1L).otherwise(0L)).as("b"),
      sum(when(variant === 1 && hit, 1L).otherwise(0L)).as("c"),
      sum(when(variant === 1 && !hit, 1L).otherwise(0L)).as("d"))
    val ad_bc = dec(col("a")) * dec(col("d")) - dec(col("b")) * dec(col("c"))
    val n = dec(col("a") + col("b") + col("c") + col("d"))
    cells.select(
        col("a"), col("b"), col("c"), col("d"),
        expr("10000 * a div (a + b)").as("rate0_bp"),
        expr("10000 * c div (c + d)").as("rate1_bp"),
        (ad_bc * ad_bc).as("t"),
        (dec(col("a") + col("b")) * dec(col("c") + col("d"))).as("d1"),
        (dec(col("a") + col("c")) * dec(col("b") + col("d"))).as("d2"),
        (n * dec(lit(1000000L))).as("m"))
      .select(col("a"), col("b"), col("c"), col("d"),
        col("rate0_bp"), col("rate1_bp"),
        expr("""CAST((m * CAST(t div d1 AS DECIMAL(38,0))
                 + CAST((m * (t % d1)) div d1 AS DECIMAL(38,0))) div d2
                AS BIGINT)""").as("chi2_micro"))
      .withColumn("significant", col("chi2_micro") > lit(3841459L))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic. Samples are the rows of
    * `vals` split by `isFirst`; D = max over the pooled value domain of
    * |ECDF₁ − ECDF₂|, kept integral as d_num = max|C₁·n₂ − C₂·n₁| (C_i =
    * cumulative counts). Reported in basis points (⌊10⁴·d_num/(n₁n₂)⌋)
    * together with the smallest value attaining the max, and an exact α=0.05
    * decision via the pre-squared large-sample critical value
    * c(0.05)² = 1.358² = 1.844164:  reject ⟺ d_num²·10⁶ > 1844164·(n₁+n₂)·n₁·n₂.
    *
    * Plan: group by value (collapses the sort input to the distinct domain),
    * both running counts in one distributed two-level scan
    * ([[Scans.rangedCumSums]] — no single-partition window even when the
    * value domain scales with the corpus), TopK(1) for the argmax — no
    * pairwise anything.
    */
  def ksTest(vals: DataFrame, valueCol: String, isFirst: Column): DataFrame = {
    // NULL values are excluded identically on both engines (Spark would
    // sort them NULLS FIRST, DuckDB NULLS LAST — the ECDFs would diverge).
    // The cumulative cross-products c·n and the d_bp division run in
    // DECIMAL(38,0): as 64-bit longs they silently wrap once n1·n2
    // approaches 9.2e18, while DuckDB's HUGEINT keeps 128 bits — the
    // decimal routing keeps both engines in 128-bit arithmetic (exact for
    // the reject test out to n1·n2 ≈ 1.3e16, loudly null/error beyond).
    val g = vals
      .select(col(valueCol).as("v"), isFirst.cast("int").as("one"))
      .filter(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(col("one")).as("k1"), sum(lit(1) - col("one")).as("k2"))
    val cum = Scans.rangedCumSums(g, "v",
        Seq((col("k1"): Column) -> "c1", (col("k2"): Column) -> "c2"))
      .select(col("v"), col("c1"), col("c2"))
    val tot = g.agg(sum(col("k1")).as("n1"), sum(col("k2")).as("n2"))
    cum.crossJoin(broadcast(tot))
      .select(col("v"), col("n1"), col("n2"),
        abs(dec(col("c1")) * dec(col("n2")) - dec(col("c2")) * dec(col("n1")))
          .as("d_num"))
      .orderBy(col("d_num").desc, col("v").asc)
      .limit(1)
      .select(col("n1"), col("n2"), col("v").as("at_value"),
        expr("CAST((CAST(10000 AS DECIMAL(38,0)) * d_num) div" +
          " (CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))) AS BIGINT)")
          .as("d_bp"),
        (dec(col("d_num")) * dec(col("d_num")) * lit(1000000L) >
          lit(1844164L) * dec(col("n1") + col("n2")) * dec(col("n1")) * dec(col("n2")))
          .as("reject_05"))
  }

  /** Deterministic Poisson bootstrap of a mean, integer cents. Each of the
    * `reps` resamples draws every row with a Poisson(1) multiplicity — the
    * standard distributed bootstrap (no global n needed, weights are i.i.d.
    * per row) — but the draw is DERANDOMIZED: the multiplicity is the
    * inverse-CDF of Poisson(1) evaluated at a uniform u derived from
    * md5(id:⌈b/4⌉) — one digest per FOUR resamples, each yielding four
    * independent 32-bit chunks, u = chunk % 10⁶ (chunk bias 2³² mod 10⁶
    * ≈ 0.02 % — immaterial against the CDF cut points). Both engines and
    * every partitioning materialize the identical resample.
    * CDF thresholds in micro-units: P(≤k) for k=0..5 =
    * 367879, 735759, 919699, 981012, 996340, 999406 (then 6).
    *
    * The confidence interval is percentile_disc(0.025/0.5/0.975) over the
    * `reps` resample means (cume_dist formulation — no interpolation, so
    * the bounds are actual resample means, exact in integer cents).
    *
    * Scale: resamples are COLUMNS, not rows — ONE corpus scan computing
    * 2·reps aggregate pairs (Σw_b·cents, Σw_b) plus the point estimate in
    * a single partial-agg pass; nothing but one `2·reps+2`-column row
    * crosses the wire, then the `reps` means are unpivoted driver-side-
    * cheap (1 row → `reps` rows) for the percentile window. The earlier
    * shape (explode ×reps then groupBy b) materialized `reps×` the corpus
    * row count for the same arithmetic.
    *
    * The narrow (id, cents) projection is repartition()ed before the
    * weight computation: the map stage costs `reps` hash evaluations per
    * row (~1.7 µs each measured), so redistributing a 16-byte/row payload
    * is negligible against it at any scale — and it decouples compute
    * parallelism from input-split granularity (a corpus packed into few
    * large row groups would otherwise serialize the whole resample onto
    * the scan's partitions).
    */
  def bootstrapMeanCi(rows: DataFrame, idCol: String, cents: Column,
      reps: Int = 64): DataFrame = {
    require(reps >= 4, s"reps must be >= 4, got $reps")
    def wOfU(u: Column): Column =
      when(u < 367879L, 0L).when(u < 735759L, 1L)
        .when(u < 919699L, 2L).when(u < 981012L, 3L)
        .when(u < 996340L, 4L).when(u < 999406L, 5L)
        .otherwise(6L)
    val base = rows.select(col(idCol).cast("string").as("id"), cents.as("cents"))
      .repartition(rows.sparkSession.sessionState.conf.numShufflePartitions)
    // digests and u staged in their own projections: each is referenced
    // multiple times downstream (4 chunks per digest; 6 when-branches per
    // u), so staging pins one evaluation per row even when an operator
    // falls off codegen (CollapseProject keeps a non-cheap
    // multi-referenced alias un-inlined)
    val nDig = (reps + 3) / 4
    val withH = base.select(col("cents") +: (0 until nDig).map(g =>
      md5(concat(col("id"), lit(s":$g"))).as(s"h$g")): _*)
    val withU = withH.select(col("cents") +: (0 until reps).map { b =>
      val (g, j) = (b / 4, b % 4)
      expr(s"cast(conv(substring(h$g, ${1 + 8 * j}, 8), 16, 10) as bigint)" +
        " % 1000000").as(s"u$b")
    }: _*)
    val withW = withU.select(
      col("cents") +: (0 until reps).map(b => wOfU(col(s"u$b")).as(s"w$b")): _*)
    val aggs =
      (0 until reps).flatMap { b =>
        Seq(sum(col(s"w$b") * col("cents")).as(s"sw$b"),
            sum(col(s"w$b")).as(s"ww$b"))
      } ++ Seq(sum(col("cents")).cast("long").as("sc"), count(lit(1)).as("n"))
    val one = withW.agg(aggs.head, aggs.tail: _*)
    val means = one.select(
      expr("sc div n").as("point_cents"),
      explode(array((0 until reps).map(b => expr(s"sw$b div ww$b")): _*)).as("m"))
    val cd = means.select(col("point_cents"), col("m"),
      cume_dist().over(Window.orderBy(col("m"))).as("cd"))
    cd.agg(
        first(col("point_cents")).as("point_cents"),
        min(when(col("cd") >= 0.025, col("m"))).as("lo_cents"),
        min(when(col("cd") >= 0.5, col("m"))).as("med_cents"),
        min(when(col("cd") >= 0.975, col("m"))).as("hi_cents"))
      .select(lit(reps).cast("long").as("n_boot"), col("point_cents"),
        col("lo_cents"), col("med_cents"), col("hi_cents"))
  }

  // ==================== driver-checked query bindings ====================

  /** Variant = user parity, outcome = error event: "did the treatment arm
    * change the error rate" — the canonical product A/B readout.
    */
  private val qChisq = GraftQuery(
    "qstat_chisq_ab",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      chiSquareAb(ev, col("user_id") % 2, col("event_type") === "error")
    },
    Some("""WITH cells AS (SELECT
        SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'error' THEN 1 ELSE 0 END) AS a,
        SUM(CASE WHEN user_id % 2 = 0 AND event_type <> 'error' THEN 1 ELSE 0 END) AS b,
        SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'error' THEN 1 ELSE 0 END) AS c,
        SUM(CASE WHEN user_id % 2 = 1 AND event_type <> 'error' THEN 1 ELSE 0 END) AS d
      FROM events),
      st AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
        CAST(10000 * a // (a + b) AS BIGINT) AS rate0_bp,
        CAST(10000 * c // (c + d) AS BIGINT) AS rate1_bp,
        CAST(a + b + c + d AS HUGEINT)
          * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
          * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c) * 1000000 AS num,
        CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d) AS den
      FROM cells)
      SELECT a, b, c, d, rate0_bp, rate1_bp,
        CAST(num // den AS BIGINT) AS chi2_micro,
        CAST(num // den AS BIGINT) > 3841459 AS significant
      FROM st"""))

  /** Do purchase values and click values follow the same distribution? */
  private val qKs = GraftQuery(
    "qstat_ks_test",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
      ksTest(ev, "value", col("event_type") === "purchase")
    },
    Some("""WITH g AS (SELECT value AS v,
        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k1,
        SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS k2
      FROM events WHERE event_type IN ('purchase', 'click')
        AND value IS NOT NULL GROUP BY value),
      cum AS (SELECT v,
        SUM(k1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
        SUM(k2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      FROM g),
      tot AS (SELECT SUM(k1) AS n1, SUM(k2) AS n2 FROM g),
      d AS (SELECT v, n1, n2, ABS(c1 * n2 - c2 * n1) AS d_num
        FROM cum CROSS JOIN tot
        ORDER BY d_num DESC, v ASC LIMIT 1)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, v AS at_value,
        CAST(10000 * d_num // (n1 * n2) AS BIGINT) AS d_bp,
        CAST(d_num AS HUGEINT) * d_num * 1000000 >
          CAST(1844164 AS HUGEINT) * (n1 + n2) * n1 * n2 AS reject_05
      FROM d"""))

  private val qBoot = GraftQuery(
    "qstat_bootstrap_ci",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      bootstrapMeanCi(ev, "event_id",
        expr("CAST(round(value * 100) AS BIGINT)"))
    },
    Some(s"""WITH base AS (SELECT CAST(event_id AS VARCHAR) AS id,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      rep AS (SELECT id, cents, UNNEST(generate_series(0, 63)) AS b FROM base),
      uw AS (SELECT cents, b,
        CAST('0x' || substr(md5(id || ':' || CAST(b // 4 AS VARCHAR)),
                            1 + 8 * (b % 4), 8) AS BIGINT) % 1000000 AS u
      FROM rep),
      wt AS (SELECT cents, b,
        CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1 WHEN u < 919699 THEN 2
             WHEN u < 981012 THEN 3 WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
             ELSE 6 END AS w
      FROM uw),
      means AS (SELECT b, SUM(w * cents) // SUM(w) AS m FROM wt GROUP BY b),
      cd AS (SELECT m, cume_dist() OVER (ORDER BY m) AS cd FROM means),
      ci AS (SELECT MIN(CASE WHEN cd >= 0.025 THEN m END) AS lo_cents,
                    MIN(CASE WHEN cd >= 0.5 THEN m END) AS med_cents,
                    MIN(CASE WHEN cd >= 0.975 THEN m END) AS hi_cents FROM cd),
      pt AS (SELECT SUM(cents) // COUNT(*) AS point_cents FROM base)
      SELECT CAST(64 AS BIGINT) AS n_boot, CAST(point_cents AS BIGINT) AS point_cents,
        CAST(lo_cents AS BIGINT) AS lo_cents, CAST(med_cents AS BIGINT) AS med_cents,
        CAST(hi_cents AS BIGINT) AS hi_cents
      FROM pt CROSS JOIN ci"""))

  // ------------------------------------- Gini concentration index
  /** Gini coefficient per group, in EXACT integer basis points — the
    * standard concentration/inequality readout for "is this segment's
    * revenue carried by a few whales" (and, in a training-data pipeline,
    * "is this domain's token mass concentrated in a few documents").
    * Uses the sorted-rank identity G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)
    * on integer cents: one rank window per group (uniform group key) +
    * one aggregation; the final division runs in DECIMAL(38,0) /
    * HUGEINT (Σ i·xᵢ is bounded by n²·max_x, which outgrows BIGINT long
    * before it outgrows 38 digits), mirroring the chi-square overflow
    * discipline. Tie order can't change the result (equal values
    * contribute the same Σ i·xᵢ under any permutation of their ranks),
    * but ranks still break ties on the id column for a fully
    * deterministic plan. Output: (group, n, total_cents, gini_bp).
    */
  def giniBp(df: DataFrame, groupCol: String, centsCol: String,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(centsCol), col(idCol))
    df.withColumn("_rk", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col(centsCol)).as("total_cents"),
        sum((col("_rk") * col(centsCol)).cast("decimal(38,0)")).as("_t"))
      .withColumn("gini_bp", expr(
        """CAST((CAST(10000 AS DECIMAL(38,0)) *
          (2 * _t - CAST(n + 1 AS DECIMAL(38,0)) * CAST(total_cents AS DECIMAL(38,0))))
          div (CAST(n AS DECIMAL(38,0)) * CAST(total_cents AS DECIMAL(38,0))) AS BIGINT)"""))
      .select(col(groupCol), col("n"), col("total_cents"), col("gini_bp"))
      .orderBy(col(groupCol))
  }

  // ------------------------------------- per-group OLS trend
  /** Per-group simple linear regression (OLS) in EXACT fixed-point — the
    * trend-detection readout ("is this segment's daily revenue growing,
    * and how linearly"). Closed-form over the five power sums, all in
    * DECIMAL(38,0) / HUGEINT:
    *
    *   slope_micro     = ⌊10⁶·(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)⌋
    *   intercept       = ⌊(Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)⌋
    *   r2_bp           = ⌊10⁴·(n·Σxy − Σx·Σy)² / ((n·Σx²−(Σx)²)(n·Σy²−(Σy)²))⌋
    *
    * The r² numerator uses the chi-square remainder-split identity
    * (⌊m·t/d1⌋ = m·(t div d1) + ⌊m·(t mod d1)/d1⌋, then nested floor by
    * d2); t div d1 ≤ d2 by Cauchy–Schwarz, so every intermediate stays
    * within 38 digits whenever (n·Σxy)² does. Exactness contract: callers
    * keep x SMALL (e.g. days since a fixed epoch date, not epoch millis) —
    * exact while (n·max|x|·max|y|·n)² < 10³⁸, i.e. n·|x|·|y| < 10¹⁹.
    * Degenerate groups (zero x-variance or y-variance) yield NULL via
    * NULLIF — never a divide-by-zero (DuckDB `//0` errors; Spark `div`
    * nulls; NULLIF makes both NULL).
    *
    * Plan: one scan → per-group partial-agg power sums (uniform group
    * key, map-side combine) → scalar projection. Nothing but 6 numbers
    * per group crosses the wire; the shape is scale-free.
    */
  def linRegBp(df: DataFrame, groupCol: String, x: Column, y: Column): DataFrame = {
    val g = df
      .select(col(groupCol).as("g"), dec(x).as("x"), dec(y).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    g.select(col("g"), col("n"), col("sx"), col("sy"), col("sxx"), col("syy"),
        col("sxy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("t1"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("d1"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("d2"))
      .select(col("g").as(groupCol), col("n").cast("bigint").as("n"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * t1) div NULLIF(d1, 0) AS BIGINT)")
          .as("slope_micro"),
        expr("CAST((sy * sxx - sx * sxy) div NULLIF(d1, 0) AS BIGINT)")
          .as("intercept"),
        expr("""CAST((CAST(10000 AS DECIMAL(38,0)) * CAST((t1 * t1) div NULLIF(d1, 0) AS DECIMAL(38,0))
                 + (CAST(10000 AS DECIMAL(38,0)) * ((t1 * t1) % NULLIF(d1, 0))) div NULLIF(d1, 0))
                div NULLIF(d2, 0) AS BIGINT)""").as("r2_bp"))
      .orderBy(col(groupCol))
  }

  /** Daily-revenue trend per order priority: slope in micro-cents/day,
    * intercept in cents at the 1995-01-01 origin, fit quality in basis
    * points. x = days since 1995-01-01 (small by construction — the
    * exactness contract above).
    */
  private val qLinReg = GraftQuery(
    "qstat_linreg",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"), col("o_orderdate"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      linRegBp(daily, "o_orderpriority",
        datediff(col("o_orderdate"), lit("1995-01-01")), col("cents"))
    },
    Some("""WITH daily AS (SELECT o_orderpriority,
        date_diff('day', DATE '1995-01-01', o_orderdate) AS x,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY o_orderpriority, o_orderdate),
    a AS (SELECT o_orderpriority, CAST(COUNT(*) AS HUGEINT) AS n,
        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy,
        SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM daily GROUP BY o_orderpriority),
    b AS (SELECT o_orderpriority, n, sx, sy, sxx, syy, sxy,
        n * sxy - sx * sy AS t1,
        n * sxx - sx * sx AS d1,
        n * syy - sy * sy AS d2
      FROM a)
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
      CAST((1000000 * t1) // NULLIF(d1, 0) AS BIGINT) AS slope_micro,
      CAST((sy * sxx - sx * sxy) // NULLIF(d1, 0) AS BIGINT) AS intercept,
      CAST((10000 * ((t1 * t1) // NULLIF(d1, 0))
            + (10000 * ((t1 * t1) % NULLIF(d1, 0))) // NULLIF(d1, 0))
           // NULLIF(d2, 0) AS BIGINT) AS r2_bp
    FROM b ORDER BY o_orderpriority"""))

  // ------------------------------------- Mann–Whitney U test
  /** Two-sample Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric
    * "did the distribution shift" companion to [[ksTest]]: KS is
    * sensitive to any ECDF gap, U specifically to stochastic dominance
    * (one side tending larger). Exact integer formulation with AVERAGE
    * ranks for ties, kept integral in DOUBLE-RANK units (a tie group of
    * k rows after c predecessors has average rank c + (k+1)/2, i.e.
    * 2c + k + 1 double-units — never a .5):
    *
    *   R1×2 = Σ_groups k1·(2c + k + 1),  U1×2 = R1×2 − n1(n1+1)
    *
    * (U1 = R1 − n1(n1+1)/2, the "pairs where sample 1 wins" convention;
    * U1 + U2 = n1n2).
    *
    * Decision at α = 0.05 two-sided via the large-sample normal
    * approximation, pre-squared and denominator-cleared to ONE integer
    * comparison in DECIMAL(38,0)/HUGEINT. With D = U1×2 − n1n2
    * (= 2(U1 − μ), μ = n1n2/2) and σ² = n1n2(n1+n2+1)/12:
    *
    *   z² > 1.96² = 3.8416  ⟺  D²/4 > 3.8416·σ²
    *                        ⟺  30000·D² > 38416·n1·n2·(n1+n2+1)
    *
    * (multiply both sides by 12·10⁴/4 — exact, no floats). No
    * tie-variance correction (documented; slightly conservative when
    * ties are heavy).
    * Rank-biserial effect size in bp: r_bp = 10⁴·U1×2 DIV (n1n2) − 10⁴.
    *
    * Plan: identical to [[ksTest]] — value-group collapse, the running
    * pooled count through the distributed two-level scan (exclusive form
    * = inclusive − own group), one aggregate.
    */
  def mannWhitney(vals: DataFrame, valueCol: String, isFirst: Column): DataFrame = {
    val g = vals
      .select(col(valueCol).as("v"), isFirst.cast("int").as("one"))
      .filter(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(col("one")).as("k1"), sum(lit(1) - col("one")).as("k2"))
    Scans.rangedCumSum(g, "v", col("k1") + col("k2"), "ci")
      .withColumn("c", col("ci") - col("k1") - col("k2"))
      .agg(sum(col("k1")).as("n1"), sum(col("k2")).as("n2"),
        sum(dec(col("k1")) * (lit(2).cast("decimal(38,0)") * col("c")
          + col("k1") + col("k2") + 1)).as("r1x2"))
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        (col("r1x2") - dec(col("n1")) * (col("n1") + 1)).as("u1x2d"), col("r1x2"))
      .select(col("n1"), col("n2"),
        col("u1x2d").cast("long").as("u1_x2"),
        (dec(lit(2)) * col("n1") * col("n2") - col("u1x2d")).cast("long").as("u2_x2"),
        expr("CAST((CAST(10000 AS DECIMAL(38,0)) * u1x2d) div (CAST(n1 AS DECIMAL(38,0)) * n2) - 10000 AS BIGINT)")
          .as("rank_biserial_bp"),
        (dec(lit(30000)) * (col("u1x2d") - dec(col("n1")) * col("n2"))
          * (col("u1x2d") - dec(col("n1")) * col("n2")) >
          dec(lit(38416)) * col("n1") * col("n2") * (col("n1") + col("n2") + 1))
          .as("reject_05"))
  }

  /** Purchase vs click values again (the qstat_ks_test pairing) — U asks
    * the directional question KS can't: does one event type's value
    * distribution stochastically dominate the other's.
    */
  private val qMwu = GraftQuery(
    "qstat_mann_whitney",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
      mannWhitney(ev, "value", col("event_type") === "purchase")
    },
    Some("""WITH g AS (SELECT value AS v,
        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k1,
        SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS k2
      FROM events WHERE event_type IN ('purchase', 'click')
        AND value IS NOT NULL GROUP BY value),
    cum AS (SELECT k1, k2,
        COALESCE(SUM(k1 + k2) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM g),
    a AS (SELECT CAST(SUM(k1) AS HUGEINT) AS n1, CAST(SUM(k2) AS HUGEINT) AS n2,
        SUM(CAST(k1 AS HUGEINT) * (2 * c + k1 + k2 + 1)) AS r1x2
      FROM cum),
    b AS (SELECT n1, n2, r1x2 - n1 * (n1 + 1) AS u1x2 FROM a)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      CAST(u1x2 AS BIGINT) AS u1_x2,
      CAST(2 * n1 * n2 - u1x2 AS BIGINT) AS u2_x2,
      CAST((10000 * u1x2) // (n1 * n2) - 10000 AS BIGINT) AS rank_biserial_bp,
      30000 * (u1x2 - n1 * n2) * (u1x2 - n1 * n2) >
        38416 * n1 * n2 * (n1 + n2 + 1) AS reject_05
    FROM b"""))

  // ------------------------------------- Pareto concentration
  /** Pareto (80/20) concentration readout per group: how many of the
    * group's members carry 80 % / 50 % of the total measure, plus the
    * top-10 members' share in bp — the business-facing companion to
    * [[giniBp]]'s single coefficient. One member-level aggregation, one
    * per-group descending cumulative window, one rollup; exact integer
    * cents and bp (membership thresholds via 5·cum ≥ 4·total and
    * 2·cum ≥ total — no floats).
    * Output: (group, n_members, total_cents, n_top80, n_top50,
    * top10_share_bp).
    */
  def paretoConcentration(df: DataFrame, groupCol: String, memberCol: String,
      centsCol: String): DataFrame = {
    val m = df.groupBy(col(groupCol).as("g"), col(memberCol).as("mid"))
      .agg(sum(col(centsCol)).as("cents"))
    val ord = Window.partitionBy(col("g")).orderBy(col("cents").desc, col("mid"))
    val wCum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("g"))
    m.withColumn("cum", sum(col("cents")).over(wCum))
      .withColumn("rk", row_number().over(ord))
      .withColumn("tot", sum(col("cents")).over(wAll))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_members"),
        max(col("tot")).as("total_cents"),
        min(when(col("cum") * 5 >= col("tot") * 4, col("rk"))).as("n_top80"),
        min(when(col("cum") * 2 >= col("tot"), col("rk"))).as("n_top50"),
        expr("CAST(10000 * sum(CASE WHEN rk <= 10 THEN cents ELSE 0 END) div max(tot) AS BIGINT)")
          .as("top10_share_bp"))
      .select(col("g").as(groupCol), col("n_members"), col("total_cents"),
        col("n_top80").cast("long").as("n_top80"),
        col("n_top50").cast("long").as("n_top50"), col("top10_share_bp"))
      .orderBy(col(groupCol))
  }

  /** Revenue concentration per market segment, member = customer — the
    * "how many whales carry this segment" readout next to qstat_gini.
    */
  private val qPareto = GraftQuery(
    "qstat_pareto",
    (s, dir) => {
      val spend = Tables.orders(s, dir)
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      val seg = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      paretoConcentration(
        spend.join(seg, col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "o_custkey", "cents")
    },
    Some("""WITH m AS (SELECT c.c_mktsegment AS g, o.o_custkey AS mid,
        SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    w AS (SELECT g, mid, cents,
        SUM(cents) OVER (PARTITION BY g ORDER BY cents DESC, mid
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY cents DESC, mid) AS rk,
        SUM(cents) OVER (PARTITION BY g) AS tot
      FROM m)
    SELECT g AS c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_members,
      CAST(MAX(tot) AS BIGINT) AS total_cents,
      CAST(MIN(CASE WHEN cum * 5 >= tot * 4 THEN rk END) AS BIGINT) AS n_top80,
      CAST(MIN(CASE WHEN cum * 2 >= tot THEN rk END) AS BIGINT) AS n_top50,
      CAST(10000 * SUM(CASE WHEN rk <= 10 THEN cents ELSE 0 END) // MAX(tot) AS BIGINT) AS top10_share_bp
    FROM w GROUP BY g ORDER BY c_mktsegment"""))

  // ------------------------------------- Wald–Wolfowitz runs test
  /** Runs test for randomness per group: is the sequence of
    * above/below-mean days a random shuffle, or does it trend/oscillate
    * (too FEW runs = momentum/regimes, too MANY = mean-reverting
    * alternation)? The above-mean flag is exact (v·n > Σv — no float
    * mean), runs count is one lag window, and the α=0.05 two-sided
    * decision clears every denominator of z² = (R−μ)²/σ² with
    * μ = 2n₁n₂/N + 1, σ² = 2n₁n₂(2n₁n₂−N)/(N²(N−1)):
    *
    *   D = N·R − 2n₁n₂ − N;  reject ⟺ 10⁴·D²·(N−1) > 38416·2n₁n₂·(2n₁n₂−N)
    *
    * in DECIMAL(38,0)/HUGEINT (D² ~ N⁴ outgrows BIGINT by sf0.1's day
    * counts). Degenerate groups (one-sided, or 2n₁n₂ ≤ N where σ² ≤ 0)
    * report reject=false. Complements [[pettittTest]] (location of ONE
    * shift) with a global randomness verdict.
    * Output: (group, n, n_above, n_runs, reject_05).
    */
  def runsTest(df: DataFrame, groupCol: String, timeCol: String,
      valueCol: String): DataFrame = {
    val wAll = Window.partitionBy(col("g"))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("t"))
    df.select(col(groupCol).as("g"), col(timeCol).as("t"),
        col(valueCol).cast("long").as("v"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("v")).over(wAll))
      .withColumn("ab", col("v") * col("n") > col("tot"))
      .withColumn("prev", lag(col("ab"), 1).over(wOrd))
      .withColumn("chg",
        when(col("prev").isNull || col("ab") =!= col("prev"), 1L).otherwise(0L))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"),
        sum(col("ab").cast("long")).as("n_above"),
        sum(col("chg")).as("n_runs"))
      .withColumn("n2", col("n") - col("n_above"))
      .withColumn("tw", lit(2).cast("decimal(38,0)") * col("n_above") * col("n2"))
      .withColumn("d", dec(col("n")) * col("n_runs") - col("tw") - col("n"))
      .select(col("g").as(groupCol), col("n"), col("n_above"), col("n_runs"),
        when(col("n_above") === 0 || col("n2") === 0 ||
            col("tw") <= dec(col("n")), lit(false))
          .otherwise(dec(lit(10000)) * col("d") * col("d") * (col("n") - 1) >
            dec(lit(38416)) * col("tw") * (col("tw") - col("n")))
          .as("reject_05"))
      .orderBy(col(groupCol))
  }

  /** Is each priority's daily-revenue above/below-mean sequence random? */
  private val qRuns = GraftQuery(
    "qstat_runs_test",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"), col("o_orderdate"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      runsTest(daily, "o_orderpriority", "o_orderdate", "cents")
    },
    Some("""WITH daily AS (SELECT o_orderpriority AS g, o_orderdate AS t,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
      FROM orders GROUP BY 1, 2),
    f AS (SELECT g, t, v,
        COUNT(*) OVER (PARTITION BY g) AS n,
        SUM(v) OVER (PARTITION BY g) AS tot
      FROM daily),
    r AS (SELECT g, n, v * n > tot AS ab,
        LAG(v * n > tot, 1) OVER (PARTITION BY g ORDER BY t) AS prev
      FROM f),
    a AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN ab THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        CAST(SUM(CASE WHEN prev IS NULL OR ab <> prev THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      FROM r GROUP BY g),
    b AS (SELECT g, n, n_above, n_runs, n - n_above AS n2,
        CAST(2 AS HUGEINT) * n_above * (n - n_above) AS tw,
        CAST(n AS HUGEINT) * n_runs - CAST(2 AS HUGEINT) * n_above * (n - n_above) - n AS d
      FROM a)
    SELECT g AS o_orderpriority, n, n_above, n_runs,
      CASE WHEN n_above = 0 OR n2 = 0 OR tw <= n THEN FALSE
        ELSE 10000 * d * d * (n - 1) > 38416 * tw * (tw - n) END AS reject_05
    FROM b ORDER BY o_orderpriority"""))

  // ------------------------------------- Benford first-digit profile
  /** Benford's-law first-digit profile — the fraud/data-fabrication
    * screen auditors run on any naturally-generated positive measure:
    * observed share of each leading digit vs the Benford expectation
    * log₁₀(1+1/d), with the expectations inlined as integer bp literals
    * (3010, 1761, … — summing to exactly 10⁴; computed once driver-side,
    * the nDCG literal-table discipline, so no log runs in-engine). The
    * leading digit of a positive integer is its decimal string's first
    * character — no float log10 anywhere. A full 1–9 spine keeps absent
    * digits visible as zeros. One scan + a 9-key agg.
    * Output: (digit, n, obs_bp, exp_bp, dev_bp) for digits 1..9.
    */
  def benfordProfile(df: DataFrame, positiveInt: Column): DataFrame = {
    val exp = Seq(3010L, 1761L, 1249L, 969L, 792L, 669L, 580L, 512L, 458L)
    val expCase = exp.zipWithIndex
      .map { case (e, i) => s"WHEN digit = ${i + 1} THEN ${e}L" }
      .mkString("CASE ", " ", " ELSE 0L END")
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df.select(positiveInt.cast("long").as("v"))
      .filter(col("v") > 0)
      .select(expr("cast(substring(cast(v as string), 1, 1) as bigint)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val spine = (1L to 9L).toDF("digit")
    val tot = obs.agg(sum(col("n")).as("total"))
    spine.join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .withColumn("obs_bp", expr("10000 * n div total"))
      .withColumn("exp_bp", expr(expCase))
      .withColumn("dev_bp", abs(col("obs_bp") - col("exp_bp")))
      .select(col("digit"), col("n"), col("obs_bp"), col("exp_bp"), col("dev_bp"))
      .orderBy(col("digit"))
  }

  /** Order totals in cents — synthetic TPC-H prices are uniform-ish, so
    * the profile SHOWS the deviation a fabricated ledger has (flat-ish
    * leading digits, large dev_bp on 1 and 9) — the instrument
    * demonstrating its own alarm.
    */
  private val qBenford = GraftQuery(
    "qstat_benford",
    (s, dir) => benfordProfile(Tables.orders(s, dir),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
    Some("""WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders WHERE round(o_totalprice * 100) > 0),
      o AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
          CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
      sp AS (SELECT unnest(generate_series(1, 9)) AS digit),
      t AS (SELECT SUM(n) AS total FROM o)
      SELECT CAST(sp.digit AS BIGINT) AS digit, COALESCE(o.n, 0) AS n,
        CAST(10000 * COALESCE(o.n, 0) // t.total AS BIGINT) AS obs_bp,
        CASE sp.digit WHEN 1 THEN 3010 WHEN 2 THEN 1761 WHEN 3 THEN 1249
          WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669 WHEN 7 THEN 580
          WHEN 8 THEN 512 ELSE 458 END AS exp_bp,
        abs(CAST(10000 * COALESCE(o.n, 0) // t.total AS BIGINT) -
          CASE sp.digit WHEN 1 THEN 3010 WHEN 2 THEN 1761 WHEN 3 THEN 1249
            WHEN 4 THEN 969 WHEN 5 THEN 792 WHEN 6 THEN 669 WHEN 7 THEN 580
            WHEN 8 THEN 512 ELSE 458 END) AS dev_bp
      FROM sp LEFT JOIN o ON sp.digit = o.digit CROSS JOIN t
      ORDER BY digit"""))

  // ------------------------------------- weighted median
  /** Exact weighted median per group — the robust center for weighted
    * populations (median price weighted by units sold, median doc score
    * weighted by token count). Definition: the smallest value v whose
    * cumulative weight reaches half the total (2·cumw ≥ W) — the
    * lower weighted median, deterministic under ties because weights
    * collapse per distinct value BEFORE the cumulative window.
    *
    * Plan: one (group, value) partial agg → per-group ordered cumsum
    * window → one min-agg. All integer arithmetic; the window's state is
    * one running sum over the distinct value domain per group.
    * Output: (group, n_rows, total_weight, wmedian).
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val byVal = df
      .select(col(groupCol).as("g"), col(valueCol).as("v"),
        col(weightCol).cast("long").as("wt"))
      .groupBy(col("g"), col("v"))
      .agg(sum(col("wt")).as("w"), count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("g"))
    byVal
      .withColumn("cw", sum(col("w")).over(wCum))
      .withColumn("tw", sum(col("w")).over(wAll))
      .withColumn("tn", sum(col("c")).over(wAll))
      .groupBy(col("g"))
      .agg(max(col("tn")).as("n_rows"), max(col("tw")).as("total_weight"),
        min(when(col("cw") * 2 >= col("tw"), col("v"))).as("wmedian"))
      .select(col("g").as(groupCol), col("n_rows"), col("total_weight"),
        col("wmedian"))
      .orderBy(col(groupCol))
  }

  /** Median line-item price in cents, weighted by quantity, per return
    * flag — "what price point does the typical UNIT ship at" (the
    * unweighted median answers a different question: the typical LINE).
    */
  private val qWMedian = GraftQuery(
    "qstat_weighted_median",
    (s, dir) => weightedMedian(
      Tables.lineitem(s, dir)
        .withColumn("cents", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .withColumn("qty", expr("CAST(l_quantity AS BIGINT)")),
      "l_returnflag", "cents", "qty"),
    Some("""WITH b AS (SELECT l_returnflag AS g,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        CAST(l_quantity AS BIGINT) AS wt FROM lineitem),
    bv AS (SELECT g, v, SUM(wt) AS w, COUNT(*) AS c FROM b GROUP BY g, v),
    cw AS (SELECT g, v, w, c,
        SUM(w) OVER (PARTITION BY g ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        SUM(w) OVER (PARTITION BY g) AS tw,
        SUM(c) OVER (PARTITION BY g) AS tn
      FROM bv)
    SELECT g AS l_returnflag, CAST(MAX(tn) AS BIGINT) AS n_rows,
      CAST(MAX(tw) AS BIGINT) AS total_weight,
      CAST(MIN(CASE WHEN cw * 2 >= tw THEN v END) AS BIGINT) AS wmedian
    FROM cw GROUP BY g ORDER BY g"""))

  // ------------------------------------- Pettitt change-point test
  /** Pettitt (1979) nonparametric single change-point detection per
    * group — "did this metric's distribution shift, and WHEN" without
    * assuming normality. Uses the rank identity
    *
    *   U_t = 2·Σ_{i≤t} R_i − t·(n+1)
    *
    * (R_i = global in-group rank of the i-th value in TIME order), so the
    * whole U series is one rank window + one cumulative-sum window —
    * never the O(n²) pairwise sign sum of the textbook definition. The
    * change point is argmax |U_t| (earliest t on ties — deterministic),
    * reported with K = max|U_t| and the exact pre-squared α=0.05
    * decision: reject homogeneity ⟺ K² > (ln 20)·(n³+n²)/6, kept
    * integral as 6·10⁶·K² > 2995732·(n³+n²) (ln 20 = 2.995732… rounded
    * DOWN, so the exact-integer test is conservative by < 1 ppm).
    * Ties take time-order ranks (row_number, not average ranks) — both
    * engines identically; the statistic differs from average-rank
    * Pettitt only at tied values (documented trade for bit-exactness).
    *
    * Plan: per-group rank window + running-sum window + TakeOrdered-style
    * argmax agg — all on the uniform group key; series length per group
    * bounds window memory.
    * Output: (group, n, change_idx, change_at, k_stat, reject_05).
    */
  def pettittTest(df: DataFrame, groupCol: String, timeCol: String,
      valueCol: String): DataFrame = {
    val wTime = Window.partitionBy(col("g")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = df
      .select(col(groupCol).as("g"), col(timeCol).as("t"), col(valueCol).as("v"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v"), col("t"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("i", row_number().over(Window.partitionBy(col("g")).orderBy(col("t"))))
      .withColumn("u", lit(2L) * sum(col("r").cast("long")).over(wTime)
        - col("i").cast("long") * (col("n") + 1L))
    u.groupBy(col("g"))
      .agg(max(col("n")).cast("long").as("n"),
        max(struct(abs(col("u")).as("k"), (-col("i")).cast("long").as("ni"),
          col("t").as("at"))).as("w"))
      .select(col("g").as(groupCol), col("n"),
        (-col("w.ni")).as("change_idx"), col("w.at").as("change_at"),
        col("w.k").as("k_stat"),
        (lit(6000000L).cast("decimal(38,0)") * col("w.k") * col("w.k") >
          lit(2995732L).cast("decimal(38,0)") * (col("n") * col("n") * col("n") + col("n") * col("n")))
          .as("reject_05"))
      .orderBy(col(groupCol))
  }

  /** Did each order priority's daily revenue level shift, and on what
    * day — the nonparametric regime-change readout next to qstat_linreg's
    * linear trend.
    */
  private val qPettitt = GraftQuery(
    "qstat_pettitt",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"), col("o_orderdate"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      pettittTest(daily, "o_orderpriority", "o_orderdate", "cents")
    },
    Some("""WITH daily AS (SELECT o_orderpriority AS g, o_orderdate AS t,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
      FROM orders GROUP BY 1, 2),
    rk AS (SELECT g, t,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, t) AS r,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY t) AS i,
        COUNT(*) OVER (PARTITION BY g) AS n
      FROM daily),
    u AS (SELECT g, t, i, n,
        2 * SUM(r) OVER (PARTITION BY g ORDER BY i
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - i * (n + 1) AS u
      FROM rk),
    best AS (SELECT g, CAST(n AS BIGINT) AS n, i AS change_idx, t AS change_at,
        CAST(abs(u) AS BIGINT) AS k_stat,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY abs(u) DESC, i) AS rnk
      FROM u)
    SELECT g AS o_orderpriority, n, CAST(change_idx AS BIGINT) AS change_idx,
      change_at, k_stat,
      CAST(6000000 AS HUGEINT) * k_stat * k_stat >
        CAST(2995732 AS HUGEINT) * (n * n * n + n * n) AS reject_05
    FROM best WHERE rnk = 1 ORDER BY o_orderpriority"""))

  /** Revenue concentration per market segment: how unequally customer
    * lifetime spend is distributed inside each segment.
    */
  private val qGini = GraftQuery(
    "qstat_gini",
    (s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val seg = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      giniBp(spend.join(seg, col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "cents", "o_custkey")
    },
    Some("""WITH spend AS (SELECT o_custkey,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey),
    j AS (SELECT c.c_mktsegment, s.o_custkey, s.cents
      FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
    r AS (SELECT c_mktsegment, cents,
      ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY cents, o_custkey) AS rk
      FROM j),
    a AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(cents) AS BIGINT) AS total_cents,
      SUM(CAST(rk AS HUGEINT) * cents) AS t
      FROM r GROUP BY c_mktsegment)
    SELECT c_mktsegment, n, total_cents,
      CAST((10000 * (2 * t - CAST(n + 1 AS HUGEINT) * total_cents))
        // (CAST(n AS HUGEINT) * total_cents) AS BIGINT) AS gini_bp
    FROM a ORDER BY c_mktsegment"""))

  // ------------------------------------- Spearman rank correlation
  /** Per-group Spearman rank correlation between two numeric columns,
    * exact fixed-point. Ranks use the AVERAGE-rank tie convention kept
    * integral in DOUBLE-RANK units (same device as [[mannWhitney]]): a
    * value with min-rank r in a tie group of k rows has average double-
    * rank 2r + k − 1. Double-ranks are centered by their exact mean
    * (n + 1) — Σc = 0 — so the Pearson pieces over centered ranks are
    *
    *   t1 = Σ cx·cy,  d1 = Σ cx²,  d2 = Σ cy²,  ρ = t1/√(d1·d2)
    *
    * No sqrt is ever taken: we report the SIGNED SQUARE in basis points,
    * rho2s_bp = sign(t1)·⌊10⁴·t1²/(d1·d2)⌋ (the [[qLinReg]] r2_bp device,
    * sign split so both engines truncate positive operands). |cx| ≤ 2n ⇒
    * t1² ≤ 16n⁶: DECIMAL(38,0)/HUGEINT is exact to n ≈ 2·10⁵ rows per
    * group and loudly nulls beyond — per-SEGMENT grouping keeps n domain-
    * bounded; for unbounded groups rank on a deterministic hash sample.
    *
    * Plan: two partitioned rank windows + one partitioned count window
    * pass, then a per-group aggregate — one shuffle on the group key, no
    * global window, no pairs.
    */
  def spearmanBp(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val g = col(groupCol)
    def dr(c: String) = {
      val wRank = Window.partitionBy(g).orderBy(col(c))
      val wTie = Window.partitionBy(g, col(c))
      lit(2) * rank().over(wRank) + count(lit(1)).over(wTie) - 1
    }
    val wN = Window.partitionBy(g)
    val ranked = df.select(g,
        dr(xCol).cast("long").as("rx2"), dr(yCol).cast("long").as("ry2"))
      .withColumn("n", count(lit(1)).over(wN))
      .select(g, col("n"),
        (col("rx2") - (col("n") + 1)).as("cx"),
        (col("ry2") - (col("n") + 1)).as("cy"))
    ranked.groupBy(g)
      .agg(max(col("n")).cast("long").as("n"),
        sum(dec(col("cx")) * dec(col("cy"))).as("t1"),
        sum(dec(col("cx")) * dec(col("cx"))).as("d1"),
        sum(dec(col("cy")) * dec(col("cy"))).as("d2"))
      .select(g, col("n"),
        expr("""CAST(CASE WHEN d1 = 0 OR d2 = 0 THEN NULL
            WHEN t1 >= 0 THEN
              (CAST(10000 AS DECIMAL(38,0)) * t1 * t1 div d1) div d2
            ELSE -((CAST(10000 AS DECIMAL(38,0)) * t1 * t1 div d1) div d2)
            END AS BIGINT)""").as("rho2s_bp"))
      .orderBy(g)
  }

  /** Does a customer's order FREQUENCY track their total SPEND rank —
    * per market segment (the segment bound keeps n ≤ |customers|/5,
    * inside the exactness contract above).
    */
  private val qSpearman = GraftQuery(
    "qstat_spearman",
    (s, dir) => {
      val perCust = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("f"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("m"))
      val seg = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      spearmanBp(perCust.join(seg, col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "f", "m")
    },
    Some("""WITH pc AS (SELECT o_custkey, COUNT(*) AS f,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS m
      FROM orders GROUP BY o_custkey),
    j AS (SELECT c.c_mktsegment AS g, pc.f, pc.m
      FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey),
    rk AS (SELECT g,
        2 * RANK() OVER (PARTITION BY g ORDER BY f)
          + COUNT(*) OVER (PARTITION BY g, f) - 1 AS rx2,
        2 * RANK() OVER (PARTITION BY g ORDER BY m)
          + COUNT(*) OVER (PARTITION BY g, m) - 1 AS ry2,
        COUNT(*) OVER (PARTITION BY g) AS n
      FROM j),
    c AS (SELECT g, n, rx2 - (n + 1) AS cx, ry2 - (n + 1) AS cy FROM rk),
    a AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
        SUM(CAST(cx AS HUGEINT) * cy) AS t1,
        SUM(CAST(cx AS HUGEINT) * cx) AS d1,
        SUM(CAST(cy AS HUGEINT) * cy) AS d2
      FROM c GROUP BY g)
    SELECT g AS c_mktsegment, n,
      CAST(CASE WHEN d1 = 0 OR d2 = 0 THEN NULL
        WHEN t1 >= 0 THEN ((CAST(10000 AS HUGEINT) * t1 * t1) // d1) // d2
        ELSE -(((CAST(10000 AS HUGEINT) * t1 * t1) // d1) // d2)
        END AS BIGINT) AS rho2s_bp
    FROM a ORDER BY g"""))

  // ------------------------------------- Kendall rank correlation
  /** Kendall rank correlation between daily order COUNT and daily
    * revenue, by exhaustive concordant/discordant pair counting over the
    * DAILY aggregate — the pair table is (calendar days)², a domain bound
    * (~2.5k days for this dataset regardless of corpus size), so the
    * deliberate broadcast nested-loop self-join is O(domain²), never
    * O(rows²). Exact integers throughout:
    *
    *   τ_a·10⁴  = ⌊10⁴(nc − nd)/n0⌋,  n0 = n(n−1)/2
    *   τ_b² signed, bp = sign(nc−nd)·⌊10⁴(nc−nd)²/((n0−tx_p)(n0−ty_p))⌋
    *
    * with tx_p/ty_p = pairs tied on x / on y (each includes both-tied
    * pairs, matching τ-b's Σt(t−1)/2 terms). Sign split keeps both
    * engines in positive-operand truncating division.
    */
  private val qKendall = GraftQuery(
    "qstat_kendall",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate"))
        .agg(count(lit(1)).as("x"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
      val a = daily.select(col("o_orderdate").as("da"), col("x").as("xa"), col("y").as("ya"))
      val b = daily.select(col("o_orderdate").as("db"), col("x").as("xb"), col("y").as("yb"))
      val pairs = a.join(broadcast(b), col("da") < col("db"))
      val counted = pairs.agg(
        count(lit(1)).as("n0"),
        sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
                 (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
          .otherwise(0L)).as("nc"),
        sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
                 (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
          .otherwise(0L)).as("nd"),
        sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx_p"),
        sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty_p"))
      counted.select(col("n0"), col("nc"), col("nd"), col("tx_p"), col("ty_p"),
        expr("""CAST(CASE WHEN nc >= nd
            THEN (10000 * CAST(nc - nd AS DECIMAL(38,0))) div n0
            ELSE -((10000 * CAST(nd - nc AS DECIMAL(38,0))) div n0)
            END AS BIGINT)""").as("tau_a_bp"),
        expr("""CAST(CASE WHEN n0 = tx_p OR n0 = ty_p THEN NULL
            WHEN nc >= nd THEN
              (10000 * CAST(nc - nd AS DECIMAL(38,0)) * (nc - nd))
                div (CAST(n0 - tx_p AS DECIMAL(38,0)) * (n0 - ty_p))
            ELSE -((10000 * CAST(nc - nd AS DECIMAL(38,0)) * (nc - nd))
                div (CAST(n0 - tx_p AS DECIMAL(38,0)) * (n0 - ty_p)))
            END AS BIGINT)""").as("tau_b2s_bp"))
    },
    Some("""WITH daily AS (SELECT o_orderdate AS d, COUNT(*) AS x,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY o_orderdate),
    p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
      FROM daily a JOIN daily b ON a.d < b.d),
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        CAST(SUM(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)
          THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        CAST(SUM(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)
          THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS tx_p,
        CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ty_p
      FROM p)
    SELECT n0, nc, nd, tx_p, ty_p,
      CAST(CASE WHEN nc >= nd THEN (10000 * CAST(nc - nd AS HUGEINT)) // n0
        ELSE -((10000 * CAST(nd - nc AS HUGEINT)) // n0) END AS BIGINT)
        AS tau_a_bp,
      CAST(CASE WHEN n0 = tx_p OR n0 = ty_p THEN NULL
        WHEN nc >= nd THEN (10000 * CAST(nc - nd AS HUGEINT) * (nc - nd))
          // (CAST(n0 - tx_p AS HUGEINT) * (n0 - ty_p))
        ELSE -((10000 * CAST(nc - nd AS HUGEINT) * (nc - nd))
          // (CAST(n0 - tx_p AS HUGEINT) * (n0 - ty_p))) END AS BIGINT)
        AS tau_b2s_bp
    FROM c"""))

  // ------------------------------------- Theil–Sen robust slope
  /** Theil–Sen estimator of the daily-revenue trend: the MEDIAN of all
    * pairwise slopes (y2−y1)/(x2−x1) over the daily series — robust to
    * ~29 % outlier contamination where OLS ([[qLinReg]]) is robust to
    * none. Slopes are floored to integer micro-cents/day with an
    * explicit pmod floor division (both engines' integer division
    * truncates toward ZERO, which is not ⌊·⌋ for negative slopes —
    * pmod-normalizing the numerator down to an exact multiple of the
    * divisor makes the division exact, i.e. a true floor, in both). Quantiles over the slope multiset are
    * "smallest slope with 40·cum ≥ q·np" for q = 1 (2.5 %), 20 (median),
    * 39 (97.5 %) — integer threshold comparisons, no interpolation, the
    * reported bounds are actual pair slopes.
    *
    * Pair volume is (calendar-day domain)² — same bound as
    * [[qKendall]] — but unlike the KS/MWU value domains the slope
    * multiset barely collapses (daily sums are near-unique, so the
    * distinct-slope domain is ≈ the pair count). The running count
    * therefore uses the two-level range-partitioned prefix scan
    * ([[Scans.rangedCumSum]]'s scheme inlined at weight 1, skipping the
    * pointless groupBy collapse — ONE shuffle of the pair frame instead
    * of three) rather than a single-partition global window, and the
    * pair total np = C(n_days, 2) is computed from the daily row count
    * rather than a second pass over the pair join.
    */
  private val qTheilSen = GraftQuery(
    "qstat_theil_sen",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
        .select(datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("x"),
          col("y"))
      val a = daily.select(col("x").as("xa"), col("y").as("ya"))
      val b = daily.select(col("x").as("xb"), col("y").as("yb"))
      val slopes = a.join(broadcast(b), col("xa") < col("xb"))
        .select(expr("""(1000000 * (yb - ya)
            - pmod(1000000 * (yb - ya), xb - xa)) div (xb - xa)""")
          .as("slope_micro"))
      // The slope multiset is near-unique, so a groupBy collapse buys
      // nothing and costs a full 2.9M-row shuffle; instead ONE range
      // partition on the slope + per-row inclusive cumsum (the
      // Scans.rangedCumSum two-level scheme inlined at weight 1). Equal
      // slopes land in one partition (RangePartitioner is a pure
      // function of the key), and the threshold rule "smallest slope
      // with cum ≥ t" is insensitive to whether the cum is per-distinct
      // or per-row inclusive: the first row reaching t inside a tie run
      // carries the same slope value.
      val p = s.sessionState.conf.numShufflePartitions
      val ranged = slopes.repartitionByRange(p, col("slope_micro"))
        // materialized: both consumers must read ONE sampled partitioning
        // (see Scans.rangedCumSums)
        .withColumn("_pid", spark_partition_id())
        .localCheckpoint()
      val offsets = ranged.groupBy(col("_pid")).agg(count(lit(1)).as("_pn"))
        .withColumn("_off", coalesce(sum(col("_pn")).over(
          Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .drop("_pn")
      val wLoc = Window.partitionBy(col("_pid")).orderBy(col("slope_micro"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = ranged.join(broadcast(offsets), "_pid")
        .select(col("slope_micro"), (col("_off") + count(lit(1)).over(wLoc)).as("cum"))
      // np = C(n_days, 2) exactly — no second pass over the pair join.
      val tot = daily.agg(
        expr("(count(1) * (count(1) - 1)) div 2").as("np"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("np")).as("n_pairs"),
          min(when(col("cum") * 40 >= col("np"), col("slope_micro"))).as("lo_micro"),
          min(when(col("cum") * 2 >= col("np"), col("slope_micro"))).as("med_micro"),
          min(when(col("cum") * 40 >= col("np") * 39, col("slope_micro"))).as("hi_micro"))
    },
    Some("""WITH daily AS (SELECT
        date_diff('day', DATE '1995-01-01', o_orderdate) AS x,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY o_orderdate),
    s AS (SELECT (1000000 * (b.y - a.y)
          - ((1000000 * (b.y - a.y)) % (b.x - a.x) + (b.x - a.x)) % (b.x - a.x))
          // (b.x - a.x) AS slope_micro
      FROM daily a JOIN daily b ON a.x < b.x),
    g AS (SELECT slope_micro, COUNT(*) AS k FROM s GROUP BY slope_micro),
    c AS (SELECT slope_micro, SUM(k) OVER (ORDER BY slope_micro
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER () AS np
      FROM g)
    SELECT CAST(MAX(np) AS BIGINT) AS n_pairs,
      CAST(MIN(CASE WHEN cum * 40 >= np THEN slope_micro END) AS BIGINT) AS lo_micro,
      CAST(MIN(CASE WHEN cum * 2 >= np THEN slope_micro END) AS BIGINT) AS med_micro,
      CAST(MIN(CASE WHEN cum * 40 >= np * 39 THEN slope_micro END) AS BIGINT) AS hi_micro
    FROM c"""))

  // ------------------------------------- Cramér's V (r×c association)
  /** Association strength between two categorical columns as a general
    * r×c chi-square + Cramér's V². Uses the margin identity
    * χ² = N·(Σ_ij n_ij²/(r_i·c_j) − 1) with the per-cell fraction floored
    * at NANO precision — both engines floor the identical positive
    * operands, so the statistic (a ⌊·⌋-per-cell variant of χ², within
    * r·c nano-units of the real value) is bit-identical:
    *
    *   chi2_nano = max(0, Σ_ij ⌊10⁹·n_ij²·N/(r_i·c_j)⌋ − 10⁹·N)
    *   v2_bp = ⌊chi2_nano/(10⁵·N·min(r−1, c−1))⌋   (V² = χ²/(N·min dim))
    *
    * 10⁹·n_ij²·N ≤ 10⁹·N³ keeps DECIMAL(38,0)/HUGEINT exact to
    * N ≈ 4·10⁹ rows; beyond that, compute on a deterministic hash
    * sample. Plan: one groupBy to the r·c cell frame (domain-bounded),
    * then margins via two tiny re-aggregations joined back — nothing
    * row-scale survives the first agg.
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("av"), col(bCol).as("bv"))
      .agg(count(lit(1)).as("nij"))
    val rowm = cells.groupBy(col("av")).agg(sum(col("nij")).as("ri"),
      count(lit(1)).as("rc_a"))
    val colm = cells.groupBy(col("bv")).agg(sum(col("nij")).as("cj"),
      count(lit(1)).as("rc_b"))
    val tot = cells.agg(sum(col("nij")).as("n"),
      countDistinct(col("av")).as("r"), countDistinct(col("bv")).as("c"))
    cells.join(broadcast(rowm.drop("rc_a")), "av")
      .join(broadcast(colm.drop("rc_b")), "bv")
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).cast("long").as("n"),
        max(col("r")).cast("long").as("r"),
        max(col("c")).cast("long").as("c"),
        sum(expr("""(CAST(1000000000 AS DECIMAL(38,0)) * nij * nij * n)
            div (CAST(ri AS DECIMAL(38,0)) * cj)""")).as("s"))
      .select(col("n"), col("r"), col("c"),
        expr("""CAST(greatest(s - CAST(1000000000 AS DECIMAL(38,0)) * n, 0)
            AS DECIMAL(38,0))""").as("chi2n"))
      .select(col("n"), col("r"), col("c"),
        col("chi2n").cast("long").as("chi2_nano"),
        expr("""CAST(chi2n div (CAST(100000 AS DECIMAL(38,0)) * n
            * least(r - 1, c - 1)) AS BIGINT)""").as("v2_bp"))
  }

  /** Is a document's SOURCE associated with its LANGUAGE — the corpus-
    * composition question behind per-source language rebalancing.
    */
  private val qCramersV = GraftQuery(
    "qstat_cramers_v",
    (s, dir) => cramersV(Tables.documents(s, dir), "source", "lang"),
    Some("""WITH cells AS (SELECT source AS av, lang AS bv, COUNT(*) AS nij
        FROM documents GROUP BY source, lang),
    rm AS (SELECT av, SUM(nij) AS ri FROM cells GROUP BY av),
    cm AS (SELECT bv, SUM(nij) AS cj FROM cells GROUP BY bv),
    t AS (SELECT SUM(nij) AS n, COUNT(DISTINCT av) AS r,
        COUNT(DISTINCT bv) AS c FROM cells),
    a AS (SELECT CAST(MAX(t.n) AS BIGINT) AS n, CAST(MAX(t.r) AS BIGINT) AS r,
        CAST(MAX(t.c) AS BIGINT) AS c,
        SUM((CAST(1000000000 AS HUGEINT) * nij * nij * t.n)
          // (CAST(ri AS HUGEINT) * cj)) AS s
      FROM cells JOIN rm USING (av) JOIN cm USING (bv) CROSS JOIN t),
    b AS (SELECT n, r, c,
        greatest(s - CAST(1000000000 AS HUGEINT) * n, 0) AS chi2n FROM a)
    SELECT n, r, c, CAST(chi2n AS BIGINT) AS chi2_nano,
      CAST(chi2n // (CAST(100000 AS HUGEINT) * n * least(r - 1, c - 1))
        AS BIGINT) AS v2_bp
    FROM b"""))

  // ------------------------------------- Autocorrelation (calendar lag)
  /** Sample autocorrelation of the daily-revenue series at calendar lags
    * 1 and 7 (day-over-day persistence and weekly seasonality). CALENDAR
    * lag: pair (d, d+k) only when both days exist — gaps drop pairs
    * rather than shifting the series (documented variant). Exact
    * integers: with n days, S = Σx, SS = Σx², and per-lag matched sums
    * m, P = Σ x_t·x_{t+k}, A, B over matched pairs, multiply the
    * mean-centered formula through by n²:
    *
    *   acf_bp = ⌊10⁴·(n²P − nS(A+B) + mS²) / (n²SS − nS²)⌋, sign split.
    *
    * 10⁴n²P needs ~38 digits at ~10¹² cents/day over 10⁴ days — inside
    * DECIMAL(38,0)/HUGEINT for any per-day total under ~10¹² cents;
    * beyond, drop to milli-precision. One scan to the daily frame; lags
    * are two self-joins on the tiny day-domain frame.
    */
  private val qAutocorr = GraftQuery(
    "qstat_autocorr",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("v"))
      val tot = daily.agg(count(lit(1)).as("n"),
        sum(dec(col("v"))).as("s"), sum(dec(col("v")) * col("v")).as("ss"))
      val lagged = Seq(1, 7).map { k =>
        val l = daily.select(col("d").as("dl"), col("v").as("vl"))
        daily.join(l, col("dl") === date_add(col("d"), k))
          .agg(count(lit(1)).as("m"),
            sum(dec(col("v")) * col("vl")).as("p"),
            sum(dec(col("v"))).as("a"), sum(dec(col("vl"))).as("b"))
          .select(lit(k.toLong).as("lag"), col("m"), col("p"), col("a"), col("b"))
      }.reduce(_ unionAll _)
      lagged.crossJoin(broadcast(tot))
        .select(col("lag"), col("m"),
          (dec(col("n")) * col("n") * col("p")
            - dec(col("n")) * col("s") * (col("a") + col("b"))
            + dec(col("m")) * col("s") * col("s")).as("num"),
          (dec(col("n")) * col("n") * col("ss")
            - dec(col("n")) * col("s") * col("s")).as("den"))
        .select(col("lag"), col("m"),
          expr("""CAST(CASE WHEN den = 0 THEN NULL
              WHEN num >= 0 THEN (10000 * num) div den
              ELSE -((10000 * (-num)) div den) END AS BIGINT)""").as("acf_bp"))
        .orderBy(col("lag"))
    },
    Some("""WITH daily AS (SELECT o_orderdate AS d,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
      FROM orders GROUP BY o_orderdate),
    t AS (SELECT COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS s,
        SUM(CAST(v AS HUGEINT) * v) AS ss FROM daily),
    lg AS (
      SELECT 1 AS lag, COUNT(*) AS m, SUM(CAST(x.v AS HUGEINT) * l.v) AS p,
        SUM(CAST(x.v AS HUGEINT)) AS a, SUM(CAST(l.v AS HUGEINT)) AS b
      FROM daily x JOIN daily l ON l.d = x.d + INTERVAL 1 DAY
      UNION ALL
      SELECT 7 AS lag, COUNT(*) AS m, SUM(CAST(x.v AS HUGEINT) * l.v) AS p,
        SUM(CAST(x.v AS HUGEINT)) AS a, SUM(CAST(l.v AS HUGEINT)) AS b
      FROM daily x JOIN daily l ON l.d = x.d + INTERVAL 7 DAY),
    f AS (SELECT lag, m,
        CAST(n AS HUGEINT) * n * p - CAST(n AS HUGEINT) * s * (a + b)
          + CAST(m AS HUGEINT) * s * s AS num,
        CAST(n AS HUGEINT) * n * ss - CAST(n AS HUGEINT) * s * s AS den
      FROM lg CROSS JOIN t)
    SELECT CAST(lag AS BIGINT) AS lag, CAST(m AS BIGINT) AS m,
      CAST(CASE WHEN den = 0 THEN NULL
        WHEN num >= 0 THEN (10000 * num) // den
        ELSE -((10000 * (-num)) // den) END AS BIGINT) AS acf_bp
    FROM f ORDER BY lag"""))

  // ------------------------------------- Cohen's d (effect size)
  /** Pooled-variance effect size for the KS/MWU sample pairing — the
    * "is the shift LARGE, not just significant" companion (KS/U reject
    * any shift at big n; d measures it in pooled-sd units). Signed
    * square in micro-units, fully integer: with per-sample (n, S=Σx,
    * SS=Σx²), mean difference ×n1n2 is diff = S1n2 − S2n1, and
    *
    *   d² = (μ1−μ2)²/s_p²,  s_p² = W/(n1·n2·(n1+n2−2)),
    *   W = n2(n1·SS1 − S1²) + n1(n2·SS2 − S2²)
    *
    * computed as a TWO-STAGE fixed point (the single-fraction form
    * ⌊10⁶·diff²·nf/den⌋ needs ~42 digits at 10⁶-row × 10⁴-cent inputs —
    * past DECIMAL(38,0)):
    *
    *   dm  = ⌊10³·|S1n2 − S2n1| / (n1n2)⌋     (|μ1−μ2| in milli-cents)
    *   vp  = ⌊W / (n1n2·(n1+n2−2))⌋           (s_p² in cents²)
    *   d2s_micro = sign(S1n2−S2n1)·⌊dm²/vp⌋    (= 10⁶·d², both floors
    *                                            engine-identical)
    *
    * Every intermediate stays under ~10²⁵; floors cost ≤0.1 % on dm and
    * ≤1 ulp on vp — a documented fixed-point statistic, bit-identical
    * across engines. |d| = √(|d2s_micro|/10⁶) driver-side if a linear
    * readout is wanted.
    *
    * Plan: ONE full-scan aggregate to a 1-row moment summary — the
    * [[chiSquareAb]] shape; nothing but six numbers leaves the
    * executors.
    */
  /** Shared two-sample moment summary: one full-scan agg to
    * (n1,S1,SS1,n2,S2,SS2) — the common prefix of [[cohensD]] and
    * [[qPowerN]].
    */
  private def twoSampleMoments(vals: DataFrame, valueCol: String,
      isFirst: Column): DataFrame =
    vals.select(col(valueCol).as("v"), isFirst.as("one"))
      .filter(col("v").isNotNull)
      .agg(
        sum(when(col("one"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("one"), col("v")).otherwise(0L)).as("s1"),
        sum(when(col("one"), dec(col("v")) * col("v")).otherwise(lit(0).cast("decimal(38,0)"))).as("ss1"),
        sum(when(!col("one"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("one"), col("v")).otherwise(0L)).as("s2"),
        sum(when(!col("one"), dec(col("v")) * col("v")).otherwise(lit(0).cast("decimal(38,0)"))).as("ss2"))

  def cohensD(vals: DataFrame, valueCol: String, isFirst: Column): DataFrame = {
    val m = twoSampleMoments(vals, valueCol, isFirst)
    m.select(col("n1"), col("n2"),
        (dec(col("s1")) * col("n2") - dec(col("s2")) * col("n1")).as("diff"),
        (dec(col("n2")) * (dec(col("n1")) * col("ss1") - dec(col("s1")) * col("s1"))
          + dec(col("n1")) * (dec(col("n2")) * col("ss2") - dec(col("s2")) * col("s2")))
          .as("w"),
        (dec(col("n1")) * col("n2")).as("nn"),
        (dec(col("n1")) + col("n2") - 2).as("nf"))
      .select(col("n1"), col("n2"), col("diff"),
        expr("(1000 * abs(diff)) div nn").as("dm"),
        expr("CASE WHEN nf > 0 THEN w div (nn * nf) ELSE NULL END").as("vp"))
      .select(col("n1"), col("n2"),
        expr("""CAST(CASE WHEN vp IS NULL OR vp = 0 THEN NULL
            WHEN diff >= 0 THEN (dm * dm) div vp
            ELSE -((dm * dm) div vp) END AS BIGINT)""").as("d2s_micro"))
  }

  /** Purchase vs click value distributions (the KS/MWU pairing) — the
    * effect-size readout completing the triple: KS "is there a shift",
    * U "which direction", d "how large".
    */
  private val qCohensD = GraftQuery(
    "qstat_cohens_d",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type"))
      cohensD(ev, "cents", col("event_type") === "purchase")
    },
    Some("""WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
        event_type = 'purchase' AS one
      FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
    m AS (SELECT
        CAST(SUM(CASE WHEN one THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        SUM(CASE WHEN one THEN cents ELSE 0 END) AS s1,
        SUM(CASE WHEN one THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS ss1,
        CAST(SUM(CASE WHEN NOT one THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        SUM(CASE WHEN NOT one THEN cents ELSE 0 END) AS s2,
        SUM(CASE WHEN NOT one THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS ss2
      FROM v),
    t AS (SELECT n1, n2,
        CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1 AS diff,
        CAST(n1 AS HUGEINT) * n2
          * (CAST(n2 AS HUGEINT) * (CAST(n1 AS HUGEINT) * ss1 - CAST(s1 AS HUGEINT) * s1)
            + CAST(n1 AS HUGEINT) * (CAST(n2 AS HUGEINT) * ss2 - CAST(s2 AS HUGEINT) * s2))
          AS den,
        CAST(n1 AS HUGEINT) + n2 - 2 AS nf
      FROM m)
    SELECT n1, n2,
      CAST(CASE WHEN den = 0 THEN NULL
        WHEN diff >= 0 THEN (1000000 * diff * diff * nf) // den
        ELSE -((1000000 * diff * diff * nf) // den) END AS BIGINT) AS d2s_micro
    FROM t"""))

  // ------------------------------------- IQR / Tukey-fence outliers
  /** Per-group Tukey-fence outlier profile: Q1/Q3 as "smallest value
    * with 4·cum ≥ q·n" over the value-count frame (no interpolation —
    * the quartiles are actual data values, exact in integer cents), and
    * outlier counts beyond the 1.5·IQR fences with the fence comparison
    * ×2 so the 1.5 multiplier stays integral:
    *
    *   low:  2v < 5·q1 − 3·q3       high:  2v > 5·q3 − 3·q1
    *
    * Plan: value-domain collapse (groupBy (g, v)) → one partitioned
    * cumsum window → per-group quartile agg → broadcast fence join back
    * to the VALUE-COUNT frame (outliers counted as Σk, raw rows never
    * rescanned). Sorted set is the per-group distinct value domain —
    * the KS contract.
    */
  def iqrOutliers(vals: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = vals.select(col(groupCol).as("g"), col(valueCol).as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("k"))
    val wc = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col("g"))
    val cum = g.select(col("g"), col("v"), col("k"),
      sum(col("k")).over(wc).as("cum"), sum(col("k")).over(wn).as("n"))
    val q = cum.groupBy(col("g")).agg(max(col("n")).as("n"),
      min(when(col("cum") * 4 >= col("n"), col("v"))).as("q1"),
      min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("q3"))
    g.join(q, "g")
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"), max(col("q1")).as("q1"), max(col("q3")).as("q3"),
        sum(when(col("v") * 2 < col("q1") * 5 - col("q3") * 3, col("k"))
          .otherwise(0L)).as("n_out_low"),
        sum(when(col("v") * 2 > col("q3") * 5 - col("q1") * 3, col("k"))
          .otherwise(0L)).as("n_out_high"))
      .orderBy(col("g"))
  }

  /** Per-event-type value outlier profile — the data-quality screen
    * before the value-based aggs (a fat tail of mis-scaled values shows
    * up as a large high-fence count).
    */
  private val qIqr = GraftQuery(
    "qstat_iqr_outliers",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      iqrOutliers(ev, "event_type", "cents")
        .withColumnRenamed("g", "event_type")
    },
    Some("""WITH v AS (SELECT event_type AS g,
        CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    gc AS (SELECT g, v, COUNT(*) AS k FROM v GROUP BY g, v),
    c AS (SELECT g, v, k,
        SUM(k) OVER (PARTITION BY g ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER (PARTITION BY g) AS n
      FROM gc),
    q AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
        MIN(CASE WHEN cum * 4 >= n THEN v END) AS q1,
        MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS q3
      FROM c GROUP BY g)
    SELECT gc.g AS event_type, MAX(q.n) AS n,
      CAST(MAX(q.q1) AS BIGINT) AS q1, CAST(MAX(q.q3) AS BIGINT) AS q3,
      CAST(SUM(CASE WHEN gc.v * 2 < q.q1 * 5 - q.q3 * 3 THEN gc.k ELSE 0 END)
        AS BIGINT) AS n_out_low,
      CAST(SUM(CASE WHEN gc.v * 2 > q.q3 * 5 - q.q1 * 3 THEN gc.k ELSE 0 END)
        AS BIGINT) AS n_out_high
    FROM gc JOIN q ON gc.g = q.g GROUP BY gc.g ORDER BY gc.g"""))

  // ------------------------------------- A/B sample-size planner
  /** Required per-arm sample size to detect the OBSERVED two-sample
    * mean difference at α = 0.05 two-sided with power 0.80 — the
    * planning readout that turns [[cohensD]]'s effect size into "how
    * long must the next experiment run". Textbook normal-approximation
    * formula n = 2(z₀.₉₇₅+z₀.₈)²·σ²/δ² with the z-sum pre-squared
    * driver-side ((1.96 + 0.8416)² = 7.8490, inlined ×10³ — no
    * transcendental runs in-engine), δ and σ² the fixed-point dm/vp of
    * [[cohensD]] (milli-cents / cents²):
    *
    *   n_req = ⌈15698·10³·vp / dm²⌉   (= ⌈2·7.849·σ²/δ²⌉, ceil via
    *                                    (num + dm² − 1) div dm²)
    *
    * Same 1-row moment-summary plan as [[chiSquareAb]]; the moment agg
    * is shared code with [[cohensD]] ([[twoSampleMoments]]).
    */
  private val qPowerN = GraftQuery(
    "qstat_power_n",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type"))
      val m = twoSampleMoments(ev, "cents", col("event_type") === "purchase")
      m.select(col("n1"), col("n2"),
          (dec(col("s1")) * col("n2") - dec(col("s2")) * col("n1")).as("diff"),
          (dec(col("n2")) * (dec(col("n1")) * col("ss1") - dec(col("s1")) * col("s1"))
            + dec(col("n1")) * (dec(col("n2")) * col("ss2") - dec(col("s2")) * col("s2")))
            .as("w"),
          (dec(col("n1")) * col("n2")).as("nn"),
          (dec(col("n1")) + col("n2") - 2).as("nf"))
        .select(col("n1"), col("n2"),
          expr("(1000 * abs(diff)) div nn").as("dm"),
          expr("CASE WHEN nf > 0 THEN w div (nn * nf) ELSE NULL END").as("vp"))
        .select(col("n1"), col("n2"),
          col("dm").cast("long").as("dm_milli"),
          col("vp").cast("long").as("vp_cents2"),
          expr("""CAST(CASE WHEN dm = 0 OR vp IS NULL THEN NULL
              ELSE (15698000 * vp + dm * dm - 1) div (dm * dm)
              END AS BIGINT)""").as("n_req_per_arm"))
    },
    Some("""WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
        event_type = 'purchase' AS one
      FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
    m AS (SELECT
        CAST(SUM(CASE WHEN one THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        SUM(CASE WHEN one THEN cents ELSE 0 END) AS s1,
        SUM(CASE WHEN one THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS ss1,
        CAST(SUM(CASE WHEN NOT one THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        SUM(CASE WHEN NOT one THEN cents ELSE 0 END) AS s2,
        SUM(CASE WHEN NOT one THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS ss2
      FROM v),
    t AS (SELECT n1, n2,
        CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1 AS diff,
        CAST(n2 AS HUGEINT) * (CAST(n1 AS HUGEINT) * ss1 - CAST(s1 AS HUGEINT) * s1)
          + CAST(n1 AS HUGEINT) * (CAST(n2 AS HUGEINT) * ss2 - CAST(s2 AS HUGEINT) * s2)
          AS w,
        CAST(n1 AS HUGEINT) * n2 AS nn,
        CAST(n1 AS HUGEINT) + n2 - 2 AS nf
      FROM m),
    f AS (SELECT n1, n2, (1000 * abs(diff)) // nn AS dm,
        CASE WHEN nf > 0 THEN w // (nn * nf) ELSE NULL END AS vp
      FROM t)
    SELECT n1, n2, CAST(dm AS BIGINT) AS dm_milli, CAST(vp AS BIGINT) AS vp_cents2,
      CAST(CASE WHEN dm = 0 OR vp IS NULL THEN NULL
        ELSE (15698000 * vp + dm * dm - 1) // (dm * dm)
        END AS BIGINT) AS n_req_per_arm
    FROM f"""))

  // ------------------------------------- Simpson diversity
  /** Per-group Gini–Simpson diversity of a categorical column, exact
    * basis points — the log-free diversity index (entropy needs ln,
    * whose last-ulp behavior differs across engines; Simpson is a pure
    * rational in the counts):
    *
    *   div_bp = 10⁴ − ⌊10⁴·Σᵢ nᵢ(nᵢ−1) / (N(N−1))⌋
    *
    * (the probability two draws WITHOUT replacement differ). One
    * groupBy to (group, category) counts, one group agg — everything
    * after the first agg is category-domain-sized.
    */
  def simpsonDiversity(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = {
    val cells = df.groupBy(col(groupCol).as("g"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("k"))
    cells.groupBy(col("g"))
      .agg(sum(col("k")).as("n"), count(lit(1)).as("n_cats"),
        sum(dec(col("k")) * (col("k") - 1)).as("same"))
      .select(col("g"), col("n"), col("n_cats"),
        expr("""CAST(CASE WHEN n < 2 THEN NULL
            ELSE 10000 - (10000 * same) div (CAST(n AS DECIMAL(38,0)) * (n - 1))
            END AS BIGINT)""").as("simpson_bp"))
      .orderBy(col("g"))
  }

  /** Language diversity per source — the corpus-mix readout behind
    * [[qCramersV]]'s association test (V says "source determines
    * language"; Simpson says HOW concentrated each source is).
    */
  private val qSimpson = GraftQuery(
    "qstat_simpson_diversity",
    (s, dir) => simpsonDiversity(Tables.documents(s, dir), "source", "lang")
      .withColumnRenamed("g", "source"),
    Some("""WITH cells AS (SELECT source AS g, lang AS cat, COUNT(*) AS k
        FROM documents GROUP BY source, lang),
    a AS (SELECT g, SUM(k) AS n, COUNT(*) AS n_cats,
        SUM(CAST(k AS HUGEINT) * (k - 1)) AS same
      FROM cells GROUP BY g)
    SELECT g AS source, CAST(n AS BIGINT) AS n, CAST(n_cats AS BIGINT) AS n_cats,
      CAST(CASE WHEN n < 2 THEN NULL
        ELSE 10000 - (10000 * same) // (CAST(n AS HUGEINT) * (n - 1))
        END AS BIGINT) AS simpson_bp
    FROM a ORDER BY g"""))

  // ------------------------------------- forecast error metrics
  /** Seasonal-naive forecast scorecard over the daily revenue series —
    * the standard "is my fancy model better than copying last week"
    * benchmark triple, all exact integer ratios:
    *
    *   MAE    = ⌊Σ|a−f|/m⌋                      (cents; f_t = a_{t−7})
    *   sMAPE  = ⌊2·10⁴·Σ|a−f|/Σ(a+f)⌋           (aggregate form, bp)
    *   MASE   = ⌊10⁴·Σ|a−f|·m₁/(m·Σ|a_t−a_{t−1}|)⌋  (vs naive-1, bp)
    *
    * Calendar lags (join on d−7 / d−1, both days present) — the
    * [[qAutocorr]] convention. One scan to the day frame; two tiny
    * self-equi-joins; a 1-row metric summary.
    */
  private val qForecastErr = GraftQuery(
    "qstat_forecast_err",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("v"))
      val l7 = daily.select(col("d").as("d7"), col("v").as("f"))
      val s7 = daily.join(l7, col("d") === date_add(col("d7"), 7))
        .agg(count(lit(1)).as("m"),
          sum(abs(col("v") - col("f"))).as("sae"),
          sum(col("v") + col("f")).as("saf"))
      val l1 = daily.select(col("d").as("d1"), col("v").as("p"))
      val s1 = daily.join(l1, col("d") === date_add(col("d1"), 1))
        .agg(count(lit(1)).as("m1"), sum(abs(col("v") - col("p"))).as("sd1"))
      s7.crossJoin(broadcast(s1))
        .select(col("m"), col("m1"),
          expr("sae div m").as("mae_cents"),
          expr("""CAST(CASE WHEN saf = 0 THEN NULL
              ELSE (20000 * CAST(sae AS DECIMAL(38,0))) div saf
              END AS BIGINT)""").as("smape_bp"),
          expr("""CAST(CASE WHEN sd1 = 0 THEN NULL
              ELSE (10000 * CAST(sae AS DECIMAL(38,0)) * m1)
                div (CAST(m AS DECIMAL(38,0)) * sd1)
              END AS BIGINT)""").as("mase_bp"))
    },
    Some("""WITH daily AS (SELECT o_orderdate AS d,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
      FROM orders GROUP BY o_orderdate),
    s7 AS (SELECT COUNT(*) AS m, SUM(abs(a.v - f.v)) AS sae,
        SUM(a.v + f.v) AS saf
      FROM daily a JOIN daily f ON a.d = f.d + INTERVAL 7 DAY),
    s1 AS (SELECT COUNT(*) AS m1, SUM(abs(a.v - p.v)) AS sd1
      FROM daily a JOIN daily p ON a.d = p.d + INTERVAL 1 DAY)
    SELECT CAST(m AS BIGINT) AS m, CAST(m1 AS BIGINT) AS m1,
      CAST(sae // m AS BIGINT) AS mae_cents,
      CAST(CASE WHEN saf = 0 THEN NULL
        ELSE (20000 * CAST(sae AS HUGEINT)) // saf END AS BIGINT) AS smape_bp,
      CAST(CASE WHEN sd1 = 0 THEN NULL
        ELSE (10000 * CAST(sae AS HUGEINT) * m1)
          // (CAST(m AS HUGEINT) * sd1) END AS BIGINT) AS mase_bp
    FROM s7 CROSS JOIN s1"""))

  // ------------------------------------- one-way ANOVA F
  /** One-way ANOVA F statistic over k groups, fixed-point exact: with
    * per-group (n_g, S_g) and global (n, S, SS),
    *
    *   ssb_milli = Σ_g ⌊10³·S_g²/n_g⌋ − ⌊10³·S²/n⌋
    *   ssw_milli = 10³·SS − Σ_g ⌊10³·S_g²/n_g⌋
    *   f_milli   = ⌊10³·ssb·(n−k) / (ssw·(k−1))⌋
    *
    * (milli floors: Spark's integral `div` lands in BIGINT, so the
    * per-group quotients must fit a long — 10³ scaling holds to
    * ~10¹⁷ cents²-mass; the F ratio itself runs in DECIMAL(38,0)/
    * HUGEINT; sums of squares are EMITTED ÷10³ back in cents²)
    *
    * (per-group floors are engine-identical — the [[cramersV]]
    * discipline; error ≤ k micro-units on sums of magnitude ≥ 10⁶).
    * `reject_05` compares against a CALLER-SUPPLIED pre-scaled critical
    * value (F depends on both dfs; the binding inlines its own df₁
    * literal with df₂ → ∞ — no distribution function runs in-engine).
    *
    * Plan: one scan → per-group moment agg (k rows) → 1-row summary.
    */
  def anovaF(vals: DataFrame, groupCol: String, valueCol: String,
      critMilli: Long): DataFrame = {
    val g = vals.select(col(groupCol).as("g"), col(valueCol).as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("v")).as("sg"),
        sum(dec(col("v")) * col("v")).as("ssg"))
    g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(dec(col("sg"))).as("s"), sum(col("ssg")).as("ss"),
        sum(expr("(1000 * CAST(sg AS DECIMAL(38,0)) * sg) div ng")).as("sb"))
      .select(col("k"), col("n"),
        (col("sb") - expr("(1000 * s * s) div n")).as("ssbm"),
        (expr("CAST(1000 AS DECIMAL(38,0)) * ss") - col("sb")).as("sswm"))
      .select(col("k").cast("long").as("k"), col("n").cast("long").as("n"),
        expr("CAST(ssbm div 1000 AS BIGINT)").as("ssb_cents2"),
        expr("CAST(sswm div 1000 AS BIGINT)").as("ssw_cents2"),
        expr("""CAST(CASE WHEN sswm <= 0 OR k < 2 THEN NULL
            ELSE (1000 * CAST(greatest(ssbm, 0) AS DECIMAL(38,0)) * (n - k))
              div (CAST(sswm AS DECIMAL(38,0)) * (k - 1))
            END AS BIGINT)""").as("f_milli"))
      .withColumn("reject_05", col("f_milli") > critMilli)
  }

  private def anovaSql(src: String, critMilli: Long) = s"""WITH v AS ($src),
    g AS (SELECT g, COUNT(*) AS ng, SUM(v) AS sg,
        SUM(CAST(v AS HUGEINT) * v) AS ssg
      FROM v GROUP BY g),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        CAST(SUM(ng) AS HUGEINT) AS n, SUM(CAST(sg AS HUGEINT)) AS s,
        SUM(ssg) AS ss,
        SUM((1000 * CAST(sg AS HUGEINT) * sg) // ng) AS sb
      FROM g),
    t AS (SELECT k, n, sb - (1000 * s * s) // n AS ssbm,
        1000 * ss - sb AS sswm
      FROM m)
    SELECT k, CAST(n AS BIGINT) AS n,
      CAST(ssbm // 1000 AS BIGINT) AS ssb_cents2,
      CAST(sswm // 1000 AS BIGINT) AS ssw_cents2,
      CAST(CASE WHEN sswm <= 0 OR k < 2 THEN NULL
        ELSE (1000 * greatest(ssbm, 0) * (n - k)) // (sswm * (k - 1))
        END AS BIGINT) AS f_milli,
      CASE WHEN sswm <= 0 OR k < 2 THEN NULL
        ELSE (1000 * greatest(ssbm, 0) * (n - k)) // (sswm * (k - 1))
          > $critMilli END AS reject_05
    FROM t"""

  /** Do the event types differ in MEAN value — the k-group extension of
    * the A/B pair (df₁ = k−1 = 4, critical F(4,∞) = 2.372 inlined).
    */
  private val qAnova = GraftQuery(
    "qstat_anova_f",
    (s, dir) => anovaF(
      Tables.events(s, dir)
        .select(col("event_type").as("g"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
      "g", "cents", critMilli = 2372L),
    Some(anovaSql(
      """SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL""", 2372L)))

  /** Brown–Forsythe (median-based Levene): the same F machinery over
    * |x − median_g| — "do the event types differ in SPREAD", robust to
    * the non-normality that invalidates the raw-variance test. Group
    * medians are exact "smallest value with 2·cum ≥ n_g" over the
    * per-group value domain ([[iqrOutliers]]' quartile device).
    */
  private val qLevene = GraftQuery(
    "qstat_levene_bf",
    (s, dir) => {
      val v = Tables.events(s, dir)
        .select(col("event_type").as("g"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v"))
        .filter(col("v").isNotNull)
      val gc = v.groupBy(col("g"), col("v")).agg(count(lit(1)).as("k"))
      val wc = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col("g"))
      val med = gc
        .select(col("g"), col("v"), sum(col("k")).over(wc).as("cum"),
          sum(col("k")).over(wn).as("n"))
        .groupBy(col("g"))
        .agg(min(when(col("cum") * 2 >= col("n"), col("v"))).as("medv"))
      anovaF(v.join(med, "g").select(col("g"),
          abs(col("v") - col("medv")).as("d")),
        "g", "d", critMilli = 2372L)
    },
    Some(anovaSql(
      """WITH raw AS (SELECT event_type AS g,
          CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL),
      gc AS (SELECT g, v, COUNT(*) AS k FROM raw GROUP BY g, v),
      c AS (SELECT g, v, SUM(k) OVER (PARTITION BY g ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(k) OVER (PARTITION BY g) AS n
        FROM gc),
      med AS (SELECT g, MIN(CASE WHEN cum * 2 >= n THEN v END) AS medv
        FROM c GROUP BY g)
      SELECT raw.g, abs(raw.v - med.medv) AS v
      FROM raw JOIN med ON raw.g = med.g""", 2372L)))

  // ------------------------------------- Mann–Kendall trend test
  /** Mann–Kendall monotone-trend SIGNIFICANCE over the daily revenue
    * series — closing the trend triple: [[qLinReg]] fits the slope,
    * [[qTheilSen]] estimates it robustly, MK says whether ANY monotone
    * trend is real. S = Σ_{i<j} sign(y_j − y_i) over the (calendar-
    * domain-bounded) pair table; the normal-approximation decision is
    * pre-squared and denominator-cleared to one integer comparison with
    * the tie-corrected variance and the standard |S|−1 continuity
    * correction:
    *
    *   var·18 = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)
    *   reject ⟺ 18·10⁴·(|S|−1)² > 38416·var·18
    *
    * All exact integers; ties come from the daily-value count frame.
    */
  private val qMannKendall = GraftQuery(
    "qstat_mann_kendall",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
        .localCheckpoint()
      val a = daily.select(col("d").as("da"), col("y").as("ya"))
      val b = daily.select(col("d").as("db"), col("y").as("yb"))
      val sStat = a.join(broadcast(b), col("da") < col("db"))
        .agg((sum(when(col("yb") > col("ya"), 1L).otherwise(0L))
          - sum(when(col("yb") < col("ya"), 1L).otherwise(0L))).as("s_stat"))
      val ties = daily.groupBy(col("y")).agg(count(lit(1)).as("t"))
        .agg(sum(dec(col("t")) * (col("t") - 1) * (col("t") * 2 + 5)).as("tt"),
          sum(col("t")).as("n"))
      sStat.crossJoin(broadcast(ties))
        .select(col("n").cast("long").as("n"), col("s_stat"),
          (dec(col("n")) * (col("n") - 1) * (col("n") * 2 + 5) - col("tt"))
            .as("var18"))
        .select(col("n"), col("s_stat"),
          (dec(lit(180000L)) * (abs(col("s_stat")) - 1) * (abs(col("s_stat")) - 1) >
            dec(lit(38416L)) * col("var18")).as("reject_05"))
    },
    Some("""WITH daily AS (SELECT o_orderdate AS d,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY o_orderdate),
    p AS (SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1 ELSE 0 END)
          - SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON a.d < b.d),
    tg AS (SELECT y, COUNT(*) AS t FROM daily GROUP BY y),
    tt AS (SELECT SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tt,
        CAST(SUM(t) AS BIGINT) AS n FROM tg)
    SELECT n, s_stat,
      CAST(180000 AS HUGEINT) * (abs(s_stat) - 1) * (abs(s_stat) - 1) >
        CAST(38416 AS HUGEINT)
          * (CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tt) AS reject_05
    FROM p CROSS JOIN tt"""))

  // ------------------------------------- Kruskal–Wallis H test
  /** Kruskal–Wallis H (1952) — the k-group extension of [[mannWhitney]]:
    * "do any of the k groups' distributions differ", nonparametric
    * one-way-ANOVA-on-ranks companion to [[anovaF]]'s mean test. Same
    * exact-integer rank machinery as MWU: average ranks for ties kept
    * integral in DOUBLE-RANK units (tie group of k rows after c pooled
    * predecessors → 2c + k + 1 per member), so per-group rank sums
    * R_j×2 = Σ_v k_jv·(2c_v + k_v + 1) are exact. Then
    *
    *   H = 3·(4·Σ_j R_j²/n_j − N(N+1)²) / (N(N+1)),
    *   H' = H · (N³−N) / (N³−N−ΣT),  T = Σ_ties (k³−k)
    *
    * in micro-units with one floor-div per group (Σ (10⁶·R_j×2²) div
    * (4·n_j) — identical floors in both engines) and DECIMAL(38,0)/
    * HUGEINT products. Decision: H' > the caller-pinned χ²_{k−1, α}
    * critical value in micro (the df is a property of the BINDING's
    * group count, so the constant lives with the binding — 9.487729 for
    * df = 4 at α = 0.05). All-tied input (ΣT = N³−N) yields null H'.
    *
    * Plan: (value, group) collapse, pooled per-value tie frame through
    * the distributed [[Scans.rangedCumSum]] (no single-partition corpus
    * window), one value-keyed join back, one group aggregate, one final
    * 1-row combine — the [[ksTest]]/[[mannWhitney]] envelope with a
    * group dimension.
    *
    * Output: one row (n, n_groups, sum_ties, h_micro, h_tie_micro,
    * reject_05).
    */
  def kruskalWallis(vals: DataFrame, valueCol: String, groupCol: String,
      criticalMicro: Long = 9487729L): DataFrame = {
    val gv = vals.select(col(valueCol).as("v"), col(groupCol).as("grp"))
      .filter(col("v").isNotNull)
      .groupBy(col("v"), col("grp")).agg(count(lit(1)).as("kj"))
    val cum = Scans.rangedCumSum(
        gv.groupBy(col("v")).agg(sum(col("kj")).as("k")), "v", col("k"), "ci")
      .withColumn("c", col("ci") - col("k"))
    val pg = gv.join(cum, "v")
      .groupBy(col("grp"))
      .agg(sum(col("kj")).as("nj"),
        sum(dec(col("kj")) * (dec(lit(2)) * col("c") + col("k") + 1)).as("rjx2"))
    val ties = cum.agg(
      sum(dec(col("k")) * col("k") * col("k") - col("k")).as("st"))
    // the per-group term (10⁶·rjx2²) ÷ (4nj) exceeds BIGINT for large
    // groups (rjx2 ~ 2·nj·N), so the floor division must stay in
    // DECIMAL: (p − p mod q)/q is exact (p − p%q divisible by q) and
    // equals HUGEINT // in the oracle for the nonnegative operands here
    pg.agg(sum(col("nj")).cast("decimal(38,0)").as("nd"),
        count(lit(1)).as("ng"),
        sum(expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * rjx2 * rjx2
              - (CAST(1000000 AS DECIMAL(38,0)) * rjx2 * rjx2) % (CAST(4 AS DECIMAL(38,0)) * nj))
            / (CAST(4 AS DECIMAL(38,0)) * nj) AS DECIMAL(38,0))"""))
          .cast("decimal(38,0)").as("s4"))
      .crossJoin(broadcast(ties))
      .withColumn("h_micro", expr(
        """CAST((3 * (4 * s4 - CAST(1000000 AS DECIMAL(38,0)) * nd * (nd + 1) * (nd + 1)))
           div (nd * (nd + 1)) AS BIGINT)"""))
      .withColumn("h_tie_micro", expr(
        """CAST((CAST(h_micro AS DECIMAL(38,0)) * (nd * nd * nd - nd))
           div nullif(nd * nd * nd - nd - st, CAST(0 AS DECIMAL(38,0))) AS BIGINT)"""))
      .select(col("nd").cast("long").as("n"), col("ng").cast("long").as("n_groups"),
        col("st").cast("long").as("sum_ties"), col("h_micro"),
        col("h_tie_micro"),
        (col("h_tie_micro") > criticalMicro).as("reject_05"))
  }

  /** All five event types' value distributions at once — the k-group
    * question the pairwise MWU/KS bindings can't ask. df = 4 →
    * χ²_{4, 0.05} = 9.487729 pinned in micro.
    */
  private val qKruskal = GraftQuery(
    "qstat_kruskal_wallis",
    (s, dir) => kruskalWallis(Tables.events(s, dir), "value", "event_type"),
    Some("""WITH gv AS (SELECT value AS v, event_type AS grp, COUNT(*) AS kj
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT v, SUM(kj) AS k FROM gv GROUP BY v),
    cum AS (SELECT v, k, COALESCE(SUM(k) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c FROM tot),
    pg AS (SELECT grp, CAST(SUM(kj) AS HUGEINT) AS nj,
        SUM(CAST(kj AS HUGEINT) * (2 * cum.c + cum.k + 1)) AS rjx2
      FROM gv JOIN cum USING (v) GROUP BY grp),
    t AS (SELECT SUM(CAST(k AS HUGEINT) * k * k - k) AS st FROM cum),
    s AS (SELECT CAST(SUM(nj) AS HUGEINT) AS n, COUNT(*) AS ng,
        SUM((1000000 * rjx2 * rjx2) // (4 * nj)) AS s4 FROM pg),
    h AS (SELECT n, ng, st,
        (3 * (4 * s4 - 1000000 * n * (n + 1) * (n + 1))) // (n * (n + 1)) AS hm
      FROM s, t),
    h2 AS (SELECT n, ng, st, hm,
        (hm * (n * n * n - n)) // NULLIF(n * n * n - n - st, 0) AS hm2 FROM h)
    SELECT CAST(n AS BIGINT) AS n, CAST(ng AS BIGINT) AS n_groups,
      CAST(st AS BIGINT) AS sum_ties, CAST(hm AS BIGINT) AS h_micro,
      CAST(hm2 AS BIGINT) AS h_tie_micro, hm2 > 9487729 AS reject_05
    FROM h2"""))

  /** Kernel density estimate with the EPANECHNIKOV kernel K(u) ∝ 1−u² —
    * chosen over Gaussian deliberately: the kernel is a polynomial, so the
    * whole estimate is exact integer arithmetic (cents domain), engine-
    * deterministic, and oracle-hashable where exp() would drift. Emits the
    * unnormalized numerator Σ_{|x−g|<h}(h²−(x−g)²) per grid point plus the
    * in-bandwidth count; the caller's density is `3/(4h³N)` times the
    * numerator — a constant that carries no information for comparison.
    *
    * Plan: one broadcast cross join against the fixed grid (bounded side:
    * |grid| rows), filter to the bandwidth window, one aggregation on the
    * |grid|-key domain — map-side partials do virtually all the work, the
    * exchange carries ≤ |grid|·partitions rows. Embarrassingly parallel at
    * any scale; no window, no driver loop.
    */
  def epanechnikovKde(rows: DataFrame, value: Column, gridStart: Long,
      gridEnd: Long, gridStep: Long, h: Long): DataFrame = {
    require(h > 0 && gridStep > 0 && gridEnd >= gridStart, "bad kde params")
    val spark = rows.sparkSession
    val grid = spark.range(1).select(explode(
      sequence(lit(gridStart), lit(gridEnd), lit(gridStep))).as("grid_pt"))
    rows.select(value.cast("long").as("x"))
      .crossJoin(broadcast(grid))
      .filter(abs(col("x") - col("grid_pt")) < h)
      .groupBy(col("grid_pt"))
      .agg(count(lit(1)).as("n_in"),
        sum(lit(h * h) - (col("x") - col("grid_pt")) * (col("x") - col("grid_pt")))
          .as("kde_num"))
      .orderBy(col("grid_pt"))
  }

  private val qKde = GraftQuery(
    "qstat_kde",
    (s, dir) =>
      epanechnikovKde(Tables.events(s, dir),
        expr("CAST(round(value * 100) AS BIGINT)"),
        gridStart = 2500L, gridEnd = 47500L, gridStep = 2500L, h = 2500L),
    Some("""WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      g AS (SELECT unnest(generate_series(2500, 47500, 2500)) AS grid_pt)
      SELECT CAST(grid_pt AS BIGINT) AS grid_pt, COUNT(*) AS n_in,
        CAST(SUM(2500 * 2500 - (cents - grid_pt) * (cents - grid_pt)) AS BIGINT)
          AS kde_num
      FROM c JOIN g ON abs(cents - grid_pt) < 2500
      GROUP BY grid_pt ORDER BY grid_pt"""))

  /** Games–Howell post-hoc pairwise comparison (the unequal-variance /
    * unequal-n successor to Tukey's HSD, built on Welch's t): for every
    * group pair, t² = (x̄ₐ−x̄ᵦ)² / (s²ₐ/nₐ + s²ᵦ/nᵦ), emitted as exact
    * permille via one all-integer closed form over 128-bit decimals —
    * t²·1000 = 1000·Δ²·(nₐ−1)(nᵦ−1) / [ (nₐQₐ−Sₐ²)nᵦ²(nᵦ−1)
    * + (nᵦQᵦ−Sᵦ²)nₐ²(nₐ−1) ] with Δ = Sₐnᵦ−Sᵦnₐ, where S/Q are per-group
    * cents sums / squared sums. Everything stays in DECIMAL(38,0) /
    * HUGEINT (worst term ~4·10³⁷ at sf0.1 — headroom documented, permille
    * not bp, precisely to keep the 10× SF inside 38 digits).
    *
    * One uniform-key aggregation builds the 5-row group-stats frame; the
    * pair join is group-domain-sized (broadcast), never data-sized.
    */
  private val qGamesHowell = GraftQuery(
    "qstat_games_howell",
    (s, dir) => {
      val c = Tables.events(s, dir).select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val g = c.groupBy(col("event_type")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("s"),
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("q"))
      val a = g.select(col("event_type").as("type_a"), col("n").as("n_a"),
        col("s").as("s_a"), col("q").as("q_a"))
      val b = g.select(col("event_type").as("type_b"), col("n").as("n_b"),
        col("s").as("s_b"), col("q").as("q_b"))
      a.join(broadcast(b), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          col("n_a").cast("long").as("n_a2"), col("n_b").cast("long").as("n_b2"),
          expr("CAST(100 * s_a div n_a AS BIGINT)").as("mean_a_c100"),
          expr("CAST(100 * s_b div n_b AS BIGINT)").as("mean_b_c100"),
          expr("""CAST((1000 * (s_a * n_b - s_b * n_a) * (s_a * n_b - s_b * n_a)
              * (n_a - 1) * (n_b - 1)) div
              ((n_a * q_a - s_a * s_a) * n_b * n_b * (n_b - 1)
               + (n_b * q_b - s_b * s_b) * n_a * n_a * (n_a - 1))
            AS BIGINT)""").as("t2_permille"))
        .withColumnRenamed("n_a2", "n_a").withColumnRenamed("n_b2", "n_b")
        .orderBy(col("type_a"), col("type_b"))
    },
    Some("""WITH c AS (SELECT event_type,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      g AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
          CAST(SUM(cents) AS HUGEINT) AS s,
          CAST(SUM(cents * cents) AS HUGEINT) AS q
        FROM c GROUP BY event_type)
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        CAST(100 * a.s // a.n AS BIGINT) AS mean_a_c100,
        CAST(100 * b.s // b.n AS BIGINT) AS mean_b_c100,
        CAST((1000 * (a.s * b.n - b.s * a.n) * (a.s * b.n - b.s * a.n)
            * (a.n - 1) * (b.n - 1)) //
            ((a.n * a.q - a.s * a.s) * b.n * b.n * (b.n - 1)
             + (b.n * b.q - b.s * b.s) * a.n * a.n * (a.n - 1))
          AS BIGINT) AS t2_permille
      FROM g a JOIN g b ON a.event_type < b.event_type
      ORDER BY type_a, type_b"""))

  /** Wilson score interval (the A/B-rate confidence interval that stays
    * valid at small n and extreme p, unlike the Wald interval): per group,
    * the 95 % CI of the success proportion as basis points.
    *
    * Determinism note: the half-width needs one sqrt, so this op uses the
    * qstat_exact_variance convention — accumulate (n, s) exactly, then ONE
    * fixed-form scalar double expression written op-for-op identically in
    * both engines. Every IEEE step (÷, √, ×, floor) is correctly-rounded
    * and deterministic on identical inputs, so the floored bp values
    * hash-match; only SUM-of-double ORDER effects are banned, and there
    * are none here. One uniform-key aggregation; map-only otherwise.
    */
  def wilsonCi(rows: DataFrame, group: Column, success: Column): DataFrame = {
    val half = "10000.0 * 1.96 * sqrt((CAST(s AS DOUBLE) * " +
      "(CAST(n AS DOUBLE) - CAST(s AS DOUBLE)) / CAST(n AS DOUBLE) + 0.9604)) " +
      "/ (CAST(n AS DOUBLE) + 3.8416)"
    val center = "10000.0 * (CAST(s AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)"
    rows.select(group.as("grp"), success.cast("long").as("sc"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("sc")).as("s"))
      .select(col("grp"), col("n"), col("s"),
        expr("CAST(10000 * s div n AS BIGINT)").as("rate_bp"),
        expr(s"CAST(floor($center - $half) AS BIGINT)").as("lo_bp"),
        expr(s"CAST(floor($center + $half) AS BIGINT)").as("hi_bp"))
      .orderBy(col("grp"))
  }

  private val qWilson = GraftQuery(
    "qstat_wilson_ci",
    (s, dir) =>
      wilsonCi(Tables.events(s, dir), col("event_type"),
        (col("value") > 100).cast("int"))
        .withColumnRenamed("grp", "event_type"),
    Some("""WITH c AS (SELECT event_type,
        CASE WHEN value > 100 THEN 1 ELSE 0 END AS sc FROM events),
      g AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(sc) AS BIGINT) AS s
        FROM c GROUP BY event_type)
      SELECT event_type, n, s,
        CAST(10000 * s // n AS BIGINT) AS rate_bp,
        CAST(floor(10000.0 * (CAST(s AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)
          - 10000.0 * 1.96 * sqrt((CAST(s AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(s AS DOUBLE)) / CAST(n AS DOUBLE) + 0.9604))
            / (CAST(n AS DOUBLE) + 3.8416)) AS BIGINT) AS lo_bp,
        CAST(floor(10000.0 * (CAST(s AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)
          + 10000.0 * 1.96 * sqrt((CAST(s AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(s AS DOUBLE)) / CAST(n AS DOUBLE) + 0.9604))
            / (CAST(n AS DOUBLE) + 3.8416)) AS BIGINT) AS hi_bp
      FROM g ORDER BY event_type"""))

  /** Friedman rank test for k repeated measures over n blocks — the
    * within-subject counterpart of [[kruskalWallis]] (each block ranks
    * its OWN k treatment values, so between-block level differences
    * cancel instead of inflating the between-group ranks). Tie-corrected
    * form: Q = (k−1)·Σⱼ(Rⱼ − n(k+1)/2)² / (A − C) with A = Σ rᵢⱼ² and
    * C = nk(k+1)²/4, which reduces to the textbook 12/(nk(k+1)) formula
    * when ties are absent. All ranks ride DOUBLED (average rank of a tie
    * group is a half-integer; 2r is always integral: 2·(#below) +
    * (#tied) + 1), which scales A and C by 4 and leaves Q invariant —
    * exact integer arithmetic end-to-end, DECIMAL(38,0) against n ≈ 10⁹
    * blocks.
    *
    * Plan shape: one (block, treatment)-key aggregation; ranking windows
    * partitioned BY BLOCK (k-row partitions, hash-distributed — never a
    * global window); then treatment-domain-sized frames with broadcast
    * 1-row joins. Blocks missing any treatment are dropped (complete-
    * block design), k is measured from the data.
    *
    * Output (1 row): (n_blocks, k, q_micro, reject_05) — χ²_{k−1}
    * critical pinned in micro by the caller (df = 4 → 9.487729).
    */
  def friedman(obs: DataFrame, blockCol: String, treatCol: String,
      value: Column, criticalMicro: Long = 9487729L): DataFrame = {
    val c = obs
      .select(col(blockCol).as("blk"), col(treatCol).as("trt"), value.as("vv"))
      .filter(col("vv").isNotNull)
      .groupBy(col("blk"), col("trt")).agg(sum(col("vv")).as("v"))
    val kk = c.agg(countDistinct(col("trt")).as("k"))
    val fu = c.groupBy(col("blk")).agg(count(lit(1)).as("m"))
      .crossJoin(broadcast(kk)).filter(col("m") === col("k"))
      .select(col("blk"))
    val wRank = Window.partitionBy(col("blk")).orderBy(col("v"))
    val wTies = Window.partitionBy(col("blk"), col("v"))
    val r = c.join(fu, "blk")
      .withColumn("r2",
        lit(2) * (rank().over(wRank) - 1) + count(lit(1)).over(wTies) + 1)
    val rj = r.groupBy(col("trt"))
      .agg(sum(col("r2")).cast("decimal(38,0)").as("r2j"),
        count(lit(1)).cast("decimal(38,0)").as("n"))
    val a2 = r.agg(sum(dec(col("r2")) * col("r2")).as("a2"))
    rj.crossJoin(broadcast(kk))
      .agg(max(col("n")).as("n"), count(lit(1)).cast("decimal(38,0)").as("kd"),
        sum((col("r2j") - col("n") * (col("k") + 1))
          * (col("r2j") - col("n") * (col("k") + 1))).as("num"))
      .crossJoin(broadcast(a2))
      .withColumn("c2", col("n") * col("kd") * (col("kd") + 1) * (col("kd") + 1))
      .select(col("n").cast("long").as("n_blocks"), col("kd").cast("long").as("k"),
        expr("""CAST((1000000 * (kd - 1) * num)
          div nullif(a2 - c2, CAST(0 AS DECIMAL(38,0))) AS BIGINT)""").as("q_micro"))
      .withColumn("reject_05", col("q_micro") > criticalMicro)
  }

  /** Do the five event types draw consistently different per-user spend?
    * Blocks = users (complete blocks only), treatments = event types,
    * measurement = per-(user, type) cents total. df = 4 → χ²
    * critical 9.487729 pinned in micro, same constant as [[qKruskal]].
    */
  private val qFriedman = GraftQuery(
    "qstat_friedman",
    (s, dir) => friedman(Tables.events(s, dir), "user_id", "event_type",
      expr("CAST(round(value * 100) AS BIGINT)")),
    Some("""WITH c AS (SELECT user_id, event_type,
        SUM(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM c),
    fu AS (SELECT user_id FROM c, kk GROUP BY user_id, kk.k
      HAVING COUNT(*) = kk.k),
    b AS (SELECT c.* FROM c JOIN fu USING (user_id)),
    r AS (SELECT user_id, event_type, v,
        2 * (RANK() OVER (PARTITION BY user_id ORDER BY v) - 1)
          + COUNT(*) OVER (PARTITION BY user_id, v) + 1 AS r2
      FROM b),
    rj AS (SELECT event_type, CAST(SUM(r2) AS HUGEINT) AS r2j,
        CAST(COUNT(*) AS HUGEINT) AS n FROM r GROUP BY event_type),
    a AS (SELECT SUM(CAST(r2 AS HUGEINT) * r2) AS a2 FROM r),
    s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS kd, MAX(rj.n) AS n,
        SUM((r2j - rj.n * (kk.k + 1)) * (r2j - rj.n * (kk.k + 1))) AS num
      FROM rj, kk GROUP BY kk.k),
    f AS (SELECT s.n, s.kd, a.a2, s.num,
        s.n * s.kd * (s.kd + 1) * (s.kd + 1) AS c2 FROM s, a)
    SELECT CAST(n AS BIGINT) AS n_blocks, CAST(kd AS BIGINT) AS k,
      CAST((1000000 * (kd - 1) * num) // NULLIF(a2 - c2, 0) AS BIGINT) AS q_micro,
      ((1000000 * (kd - 1) * num) // NULLIF(a2 - c2, 0)) > 9487729 AS reject_05
    FROM f"""))

  /** Cochran's Q — the k-treatment BINARY within-subject test that
    * completes the family ([[EvalOps.mcNemar]] is its k = 2 case;
    * [[friedman]] its ordinal generalization): for n subjects each
    * giving a 0/1 outcome under all k treatments,
    *
    *   Q = (k−1)·(k·ΣⱼC²ⱼ − N²) / (k·N − ΣᵤR²ᵤ)
    *
    * with Cⱼ the treatment success totals, Rᵤ the subject totals,
    * N = ΣCⱼ. Pure integer arithmetic — one floored micro division at
    * the end, DECIMAL(38,0) throughout (N² passes BIGINT at ~3·10⁹
    * successes). Plan: one (subject, treatment) agg, then a subject
    * rollup and a treatment-domain rollup — two shuffles on natural
    * keys, no window. Complete blocks only; all-0 and all-k subjects
    * contribute to the denominator exactly as the textbook form wants
    * (dropping them is the common implementation bug — pinned in the
    * spec).
    *
    * Output (1 row): (n_subjects, k, n_success, q_micro, reject_05);
    * NULL Q when every subject is all-0 or all-k (denominator 0).
    */
  def cochranQ(obs: DataFrame, blockCol: String, treatCol: String,
      hit: Column, criticalMicro: Long = 9487729L): DataFrame = {
    val c = obs
      .select(col(blockCol).as("blk"), col(treatCol).as("trt"),
        hit.cast("int").as("h"))
      .filter(col("h").isNotNull)
      .groupBy(col("blk"), col("trt")).agg(max(col("h")).as("x"))
    val kk = c.agg(countDistinct(col("trt")).as("k"))
    val ru = c.groupBy(col("blk"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("r"))
      .crossJoin(broadcast(kk)).filter(col("m") === col("k"))
    val subj = ru.agg(count(lit(1)).as("n_subjects"),
      sum(dec(col("r")) * col("r")).as("sr2"))
    val cj = c.join(ru.select(col("blk")), "blk")
      .groupBy(col("trt")).agg(sum(col("x")).as("cj"))
    cj.crossJoin(broadcast(kk))
      .agg(max(col("k")).cast("decimal(38,0)").as("kd"),
        sum(dec(col("cj"))).as("n"), sum(dec(col("cj")) * col("cj")).as("sc2"))
      .crossJoin(broadcast(subj))
      .select(col("n_subjects"), col("kd").cast("long").as("k"),
        col("n").cast("long").as("n_success"),
        expr("""CAST((1000000 * (kd - 1) * (kd * sc2 - n * n))
          div nullif(kd * n - sr2, CAST(0 AS DECIMAL(38,0))) AS BIGINT)""")
          .as("q_micro"))
      .withColumn("reject_05", col("q_micro") > criticalMicro)
  }

  /** Per user and event type: did any event exceed value 100? k = 5
    * binary outcomes per subject; df = 4 → 9.487729 in micro, the
    * [[qKruskal]] constant.
    */
  private val qCochran = GraftQuery(
    "qstat_cochran_q",
    (s, dir) => cochranQ(Tables.events(s, dir), "user_id", "event_type",
      (col("value") > 100).cast("int")),
    Some("""WITH c AS (SELECT user_id, event_type,
        MAX(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM c),
    ru AS (SELECT user_id, COUNT(*) AS m, SUM(x) AS r FROM c GROUP BY user_id),
    rf AS (SELECT ru.* FROM ru, kk WHERE ru.m = kk.k),
    subj AS (SELECT COUNT(*) AS n_subjects,
        SUM(CAST(r AS HUGEINT) * r) AS sr2 FROM rf),
    cj AS (SELECT event_type, CAST(SUM(x) AS HUGEINT) AS cj FROM c
      WHERE user_id IN (SELECT user_id FROM rf) GROUP BY event_type),
    tr AS (SELECT CAST(MAX(kk.k) AS HUGEINT) AS kd, SUM(cj.cj) AS n,
        SUM(cj.cj * cj.cj) AS sc2 FROM cj, kk)
    SELECT CAST(subj.n_subjects AS BIGINT) AS n_subjects,
      CAST(tr.kd AS BIGINT) AS k, CAST(tr.n AS BIGINT) AS n_success,
      CAST((1000000 * (tr.kd - 1) * (tr.kd * tr.sc2 - tr.n * tr.n))
        // NULLIF(tr.kd * tr.n - subj.sr2, 0) AS BIGINT) AS q_micro,
      ((1000000 * (tr.kd - 1) * (tr.kd * tr.sc2 - tr.n * tr.n))
        // NULLIF(tr.kd * tr.n - subj.sr2, 0)) > 9487729 AS reject_05
    FROM subj, tr"""))

  // --------------------------------------- Ljung–Box portmanteau test
  /** Ljung–Box portmanteau whiteness test over lags 1..m —
    * "is there ANY serial structure left?", the residual-diagnostics
    * companion to [[qAutocorr]]'s two named lags:
    * Q = n(n+2)·Σ_k ρ̂²_k/(n−k) ~ χ²_m under independence.
    *
    * Determinism contract: ρ̂_k is DEFINED as the emitted basis-point
    * autocorrelation (the qstat_autocorr floor — the exact mean-centered
    * rational times 10⁴, floored with the sign split), because squaring
    * the exact numerator would need ~10⁵⁷ — past 128-bit — while bp²
    * stays ≤ 10⁸. Q then composes from the bp values in pure integer
    * steps: t_k = ⌊10⁶·bp²_k/(n−k)⌋, Q_milli = ⌊10³·n(n+2)·Σt_k/10¹⁴⌋
    * — identical floors in both engines. Calendar-lag variant like
    * qAutocorr (gap days drop pairs, never shift the series).
    *
    * Plan: one scan to the daily frame; ONE equi-join of the
    * (lag × day) fan-out against the day frame (m·n rows, day-domain
    * keys); lag-domain rollups after. No window, no per-lag rescan.
    *
    * Output (1 row): (n_days, m_lags, q_milli, reject_05) — χ²₁₀
    * critical 18.307 pinned in milli.
    */
  private val LjungLags = 10
  private val qLjungBox = GraftQuery(
    "qstat_ljung_box",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("v"))
        .localCheckpoint()
      val tot = daily.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("v"))).as("s"), sum(dec(col("v")) * col("v")).as("ss"))
      val lg = daily
        .select(explode(sequence(lit(1L), lit(LjungLags.toLong))).as("lag"),
          col("d"), col("v"))
        .withColumn("dl", expr("date_add(d, CAST(lag AS INT))"))
        .join(daily.select(col("d").as("dl"), col("v").as("vl")), "dl")
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("m"), sum(dec(col("v")) * col("vl")).as("p"),
          sum(dec(col("v"))).as("a"), sum(dec(col("vl"))).as("b"))
      lg.crossJoin(broadcast(tot))
        .select(col("lag"), col("n"),
          (col("n") * col("n") * col("p") - col("n") * col("s")
            * (col("a") + col("b")) + dec(col("m")) * col("s") * col("s"))
            .as("num"),
          (col("n") * col("n") * col("ss") - col("n") * col("s") * col("s"))
            .as("den"))
        .select(col("lag"), col("n"),
          expr("""CASE WHEN den = 0 THEN NULL
              WHEN num >= 0 THEN (10000 * num) div den
              ELSE -((10000 * (-num)) div den) END""").as("bp"))
        .select(col("lag"), col("n"),
          expr("(1000000 * bp * bp) div (n - lag)").as("t"))
        .agg(max(col("n")).as("n"), count(lit(1)).as("m_lags"),
          sum(dec(col("t"))).as("st"))
        .select(col("n").cast("long").as("n_days"),
          col("m_lags").cast("long").as("m_lags"),
          expr("""CAST((1000 * n * (n + 2) * st)
            div CAST(100000000000000 AS DECIMAL(38,0)) AS BIGINT)""")
            .as("q_milli"))
        .withColumn("reject_05", col("q_milli") > 18307L)
    },
    Some(s"""WITH daily AS (SELECT o_orderdate AS d,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
      FROM orders GROUP BY o_orderdate),
    t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(CAST(v AS HUGEINT)) AS s,
        SUM(CAST(v AS HUGEINT) * v) AS ss FROM daily),
    lgs AS (SELECT unnest(generate_series(1, $LjungLags)) AS lag),
    lg AS (
      SELECT lgs.lag, COUNT(*) AS m, SUM(CAST(x.v AS HUGEINT) * l.v) AS p,
        SUM(CAST(x.v AS HUGEINT)) AS a, SUM(CAST(l.v AS HUGEINT)) AS b
      FROM lgs, daily x JOIN daily l ON l.d = x.d + INTERVAL 1 DAY * lgs.lag
      GROUP BY lgs.lag),
    f AS (SELECT lag, m,
        t.n * t.n * p - t.n * s * (a + b) + CAST(m AS HUGEINT) * s * s AS num,
        t.n * t.n * ss - t.n * s * s AS den, t.n AS n
      FROM lg, t),
    r AS (SELECT lag, n,
        CASE WHEN den = 0 THEN NULL
          WHEN num >= 0 THEN (10000 * num) // den
          ELSE -((10000 * (-num)) // den) END AS bp
      FROM f),
    tk AS (SELECT lag, n, (1000000 * bp * bp) // (n - lag) AS t FROM r),
    fin AS (SELECT MAX(n) AS n, COUNT(*) AS m_lags, SUM(t) AS st FROM tk)
    SELECT CAST(n AS BIGINT) AS n_days, CAST(m_lags AS BIGINT) AS m_lags,
      CAST((1000 * n * (n + 2) * st) // 100000000000000 AS BIGINT) AS q_milli,
      ((1000 * n * (n + 2) * st) // 100000000000000) > 18307 AS reject_05
    FROM fin"""))

  // ----------------------------------- Jonckheere–Terpstra trend test
  /** Jonckheere–Terpstra test for an ORDERED alternative across k
    * groups — "does the response trend monotonically with the ordered
    * factor?", strictly more powerful than [[kruskalWallis]] when the
    * order is hypothesized in advance (the dose-response / priority-
    * ladder question): JT = Σ_{i<j} U_ij summed over ordered group
    * pairs, normal-approximated with the full Hollander–Wolfe TIE
    * correction.
    *
    * Exactness/scale: JT rides DOUBLED (ties count 1 in 2·U — always
    * integral); all pairwise U_ij come from ONE value-collapapsed frame
    * with k running sums in one [[Scans.rangedCumSums]] pass (one range
    * exchange total — not k(k−1)/2 pair joins, and never a global
    * window). The variance combines its three rational terms by
    * COMPOSED FLOORS (each term independently floored, the
    * qstat_ljung_box convention) instead of the common-denominator
    * form, whose N⁶ numerator would exit DECIMAL(38,0) at ~2·10⁶ rows;
    * composed, the budget is set by 10³·dev² ~ 10³N⁴ (good to ~5·10⁸
    * rows — the [[qGamesHowell]] documented-headroom convention).
    *
    * Output (1 row): (n, jt_x2, dev_x4, z2_milli, reject_05) with the
    * two-sided χ²₁ critical pinned in milli.
    */
  def jonckheereTerpstra(vals: DataFrame, value: Column, groupIdx: Column,
      k: Int, criticalMilli: Long = 3841L): DataFrame = {
    require(k >= 2, s"need at least 2 ordered groups, got $k")
    val b = vals.select(value.as("v"), groupIdx.cast("int").as("g"))
      .filter(col("v").isNotNull && col("g").between(1, k))
    val aggs = (1 to k).map(i =>
      sum(when(col("g") === i, 1L).otherwise(0L)).as(s"k$i"))
    val gv = b.groupBy(col("v")).agg(aggs.head, aggs.tail: _*)
    val cum = Scans.rangedCumSums(gv, "v",
      (1 until k).map(i => (col(s"k$i"), s"ci$i")))
    val termSql = (2 to k).map { j =>
      val pref = (1 until j).map(i => s"(2 * ci$i - 2 * k$i + k$i)")
        .mkString(" + ")
      s"CAST(k$j AS DECIMAL(38,0)) * ($pref)"
    }.mkString(" + ")
    val tSql = (1 to k).map(i => s"k$i").mkString("(", " + ", ")")
    // ONE final aggregation (r16, guide §2.3/§1.3): the group sizes
    // ng_i = Σ_v k_i(v) are recoverable from the SAME pass that computes
    // jt2/t25/t2/t3 — the old shape re-scanned the input (b) a second
    // time through a separate groupBy(g) agg + broadcast crossJoin. The
    // per-group polynomials (Σng, Σng², Σng(ng−1)(2ng+5), …) then become
    // scalar DECIMAL expressions over the k fixed ng_i columns: value-
    // identical (absent groups contribute 0 to every polynomial exactly
    // as their absent groupBy rows did), one input scan instead of two.
    val ngAggs = (1 to k).map(i => sum(col(s"k$i")).as(s"ng$i"))
    def poly(f: Column => Column): Column =
      (1 to k).map(i => f(col(s"ng$i"))).reduce(_ + _)
    val jt = cum.agg(sum(expr(termSql)).as("jt2"),
      (Seq(
        sum(expr(s"CAST($tSql AS DECIMAL(38,0)) * ($tSql - 1) * (2 * $tSql + 5)"))
          .as("t25"),
        sum(expr(s"CAST($tSql AS DECIMAL(38,0)) * ($tSql - 1)")).as("t2"),
        sum(expr(s"CAST($tSql AS DECIMAL(38,0)) * ($tSql - 1) * ($tSql - 2)"))
          .as("t3")) ++ ngAggs): _*)
      .withColumn("n", poly(ng => dec(ng)))
      .withColumn("sn2", poly(ng => dec(ng) * ng))
      .withColumn("n25", poly(ng => dec(ng) * (ng - 1) * (lit(2) * ng + 5)))
      .withColumn("p2g", poly(ng => dec(ng) * (ng - 1)))
      .withColumn("p3g", poly(ng => dec(ng) * (ng - 1) * (ng - 2)))
    jt
      .withColumn("diff4", expr("2 * jt2 - (n * n - sn2)"))
      // w16 = ⌊16·Var⌋ by composed floors; each big division uses the
      // (p − p%q)/q DECIMAL form (the qstat_kruskal_wallis precedent —
      // `div` returns LONG, which ⌊2N³/9⌋ exits at N ≈ 2·10⁶)
      .withColumn("w16", expr(
        """CAST((2 * (n * (n - 1) * (2 * n + 5) - n25 - t25)
            - (2 * (n * (n - 1) * (2 * n + 5) - n25 - t25)) % 9) / 9
          AS DECIMAL(38,0))
          + CAST((4 * t3 * ((1000000 * p3g) div (n * (n - 1) * (n - 2)))
            - (4 * t3 * ((1000000 * p3g) div (n * (n - 1) * (n - 2)))) % 9000000)
            / 9000000 AS DECIMAL(38,0))
          + CAST((2 * t2 * ((1000000 * p2g) div (n * (n - 1)))
            - (2 * t2 * ((1000000 * p2g) div (n * (n - 1)))) % 1000000)
            / 1000000 AS DECIMAL(38,0))"""))
      .select(col("n").cast("long").as("n"),
        col("jt2").cast("long").as("jt_x2"),
        col("diff4").cast("long").as("dev_x4"),
        expr("""CAST((1000 * diff4 * diff4)
          div nullif(w16, CAST(0 AS DECIMAL(38,0))) AS BIGINT)""")
          .as("z2_milli"))
      .withColumn("reject_05", col("z2_milli") > criticalMilli)
  }

  /** Does order value trend with the TPC-H priority ladder (1-URGENT →
    * 5-LOW)? df = 1 normal approximation, 3.841 pinned in milli.
    */
  private val qJonckheere = GraftQuery(
    "qstat_jonckheere",
    (s, dir) => jonckheereTerpstra(Tables.orders(s, dir),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      expr("CAST(substr(o_orderpriority, 1, 1) AS INT)"), k = 5),
    Some("""WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        CAST(substr(o_orderpriority, 1, 1) AS INT) AS g FROM orders
      WHERE o_totalprice IS NOT NULL),
    gv AS (SELECT v,
        SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS k1,
        SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS k2,
        SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS k3,
        SUM(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS k4,
        SUM(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS k5
      FROM b GROUP BY v),
    cum AS (SELECT v, k1, k2, k3, k4, k5,
        COALESCE(SUM(k1) OVER w, 0) AS ci1, COALESCE(SUM(k2) OVER w, 0) AS ci2,
        COALESCE(SUM(k3) OVER w, 0) AS ci3, COALESCE(SUM(k4) OVER w, 0) AS ci4
      FROM gv WINDOW w AS (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    jt AS (SELECT
        SUM(CAST(k2 AS HUGEINT) * (2*ci1 - k1)
          + CAST(k3 AS HUGEINT) * (2*ci1 - k1 + 2*ci2 - k2)
          + CAST(k4 AS HUGEINT) * (2*ci1 - k1 + 2*ci2 - k2 + 2*ci3 - k3)
          + CAST(k5 AS HUGEINT) * (2*ci1 - k1 + 2*ci2 - k2 + 2*ci3 - k3
              + 2*ci4 - k4)) AS jt2,
        SUM(CAST(k1+k2+k3+k4+k5 AS HUGEINT) * (k1+k2+k3+k4+k5 - 1)
            * (2*(k1+k2+k3+k4+k5) + 5)) AS t25,
        SUM(CAST(k1+k2+k3+k4+k5 AS HUGEINT) * (k1+k2+k3+k4+k5 - 1)) AS t2,
        SUM(CAST(k1+k2+k3+k4+k5 AS HUGEINT) * (k1+k2+k3+k4+k5 - 1)
            * (k1+k2+k3+k4+k5 - 2)) AS t3
      FROM cum),
    gn AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng FROM b GROUP BY g),
    gs AS (SELECT SUM(ng) AS n, SUM(ng*ng) AS sn2,
        SUM(ng*(ng-1)*(2*ng+5)) AS n25, SUM(ng*(ng-1)) AS p2g,
        SUM(ng*(ng-1)*(ng-2)) AS p3g FROM gn),
    f AS (SELECT gs.n, jt.jt2, 2*jt.jt2 - (gs.n*gs.n - gs.sn2) AS diff4,
        (2 * (gs.n*(gs.n-1)*(2*gs.n+5) - gs.n25 - jt.t25)) // 9
          + (4 * jt.t3 * ((1000000 * gs.p3g) // (gs.n*(gs.n-1)*(gs.n-2))))
            // 9000000
          + (2 * jt.t2 * ((1000000 * gs.p2g) // (gs.n*(gs.n-1)))) // 1000000
          AS w16
      FROM jt, gs)
    SELECT CAST(n AS BIGINT) AS n, CAST(jt2 AS BIGINT) AS jt_x2,
      CAST(diff4 AS BIGINT) AS dev_x4,
      CAST((1000 * diff4 * diff4) // NULLIF(w16, 0) AS BIGINT) AS z2_milli,
      ((1000 * diff4 * diff4) // NULLIF(w16, 0)) > 3841 AS reject_05
    FROM f"""))

  // ------------------------------------------- Cliff's delta (ordinal)
  /** Cliff's δ — the ORDINAL effect size companion to
    * [[mannWhitney]]'s test and [[cohensD]]'s parametric d:
    * δ = (#(x>y) − #(x<y)) / (n₁·n₂) ∈ [−1, 1], assumption-free (no
    * variance, no normality) and exactly the identity δ = 2U₁/(n₁n₂)−1.
    * The standard |δ| reading: <0.147 negligible, <0.33 small, <0.474
    * medium, else large — thresholds that don't inflate with n the way
    * p-values do, which is why effect sizes gate A/B rollouts.
    *
    * Exact: value-collapse then ONE distributed ranged scan (the
    * [[aucRoc]] shape — no global window); #(>) − #(<) = 2U₁ − n₁n₂
    * exactly, with the ½-tie credits cancelling. Milli output with the
    * sign-split floor convention.
    *
    * Output (1 row): (n1, n2, dom_diff = #(x>y) − #(x<y), delta_milli).
    */
  def cliffsDelta(vals: DataFrame, valueCol: String, isFirst: Column): DataFrame = {
    val g = vals.select(col(valueCol).as("v"), isFirst.cast("int").as("one"))
      .filter(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(col("one")).as("k1"), sum(lit(1) - col("one")).as("k2"))
    val cum = Scans.rangedCumSum(g, "v", col("k2"), "c2i")
      .withColumn("c2", col("c2i") - col("k2"))
    cum.agg(sum(col("k1")).as("n1"), sum(col("k2")).as("n2"),
        sum(dec(col("k1")) * (dec(lit(2)) * col("c2") + col("k2"))).as("u2"))
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        expr("CAST(u2 - CAST(n1 AS DECIMAL(38,0)) * n2 AS BIGINT)")
          .as("dom_diff"),
        expr("""CAST(CASE
            WHEN u2 - CAST(n1 AS DECIMAL(38,0)) * n2 >= 0 THEN
              (1000 * (u2 - CAST(n1 AS DECIMAL(38,0)) * n2))
                div (CAST(n1 AS DECIMAL(38,0)) * n2)
            ELSE -((1000 * (CAST(n1 AS DECIMAL(38,0)) * n2 - u2))
                div (CAST(n1 AS DECIMAL(38,0)) * n2))
          END AS BIGINT)""").as("delta_milli"))
  }

  /** Purchase vs view values — the effect-size read behind the
    * qstat_mann_whitney test on the same pair.
    */
  private val qCliffs = GraftQuery(
    "qstat_cliffs_delta",
    (s, dir) => cliffsDelta(
      Tables.events(s, dir).filter(col("event_type").isin("purchase", "view")),
      "value", col("event_type") === "purchase"),
    Some("""WITH gv AS (SELECT value AS v,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS one
      FROM events WHERE event_type IN ('purchase', 'view')
        AND value IS NOT NULL),
    g AS (SELECT v, SUM(one) AS k1, SUM(1 - one) AS k2 FROM gv GROUP BY v),
    cum AS (SELECT v, k1, k2, COALESCE(SUM(k2) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c2 FROM g),
    u AS (SELECT CAST(SUM(k1) AS HUGEINT) AS n1,
        CAST(SUM(k2) AS HUGEINT) AS n2,
        SUM(CAST(k1 AS HUGEINT) * (2*c2 + k2)) AS u2 FROM cum)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      CAST(u2 - n1*n2 AS BIGINT) AS dom_diff,
      CASE WHEN u2 - n1*n2 >= 0
        THEN CAST((1000 * (u2 - n1*n2)) // (n1*n2) AS BIGINT)
        ELSE -CAST((1000 * (n1*n2 - u2)) // (n1*n2) AS BIGINT)
      END AS delta_milli
    FROM u"""))

  // -------------------------- Cochran–Armitage trend (proportions)
  /** Cochran–Armitage test for a LINEAR TREND in proportions across k
    * ordered groups — the binary-outcome companion to
    * [[jonckheereTerpstra]] (continuous response, any monotone
    * alternative) and the correct upgrade over [[chiSquareAb]] when the
    * factor is a dose/priority ladder rather than two arms: with
    * integer scores w_i = i,
    *
    *   T = Σ w_i (r_i − n_i R/N),  z² = T² / (p(1−p)(Σw²n − (Σwn)²/N))
    *
    * kept integral as T_N = N·Σw r − R·Σw n and
    * z² = T_N²·N / (R(N−R)(N·Σw²n − (Σwn)²)) — every factor an exact
    * integer from ONE k-row group frame (one full-scan aggregation →
    * 1 row; only five k-row sums leave the executors).
    *
    * Overflow discipline: the [[chiSquareAb]] remainder-split/nested-
    * floor pair with m = 10³N, t = T_N², d1 = R(N−R),
    * d2 = N·Σw²n − (Σwn)²: z² ≤ N−1 bounds t div d1 < d2, so every
    * intermediate stays ≤ 10³k²N³ — exact out to N ≈ 10¹¹ trials.
    *
    * Output (1 row): (n, r, trend_num = T_N, z2_milli, reject_05)
    * against the two-sided χ²₁ critical pinned in milli; trend_num's
    * sign is the trend direction.
    */
  def cochranArmitage(trials: DataFrame, doseIdx: Column, hit: Column,
      k: Int, criticalMilli: Long = 3841L): DataFrame = {
    require(k >= 2, s"need at least 2 ordered groups, got $k")
    val b = trials.select(doseIdx.cast("int").as("g"),
        when(hit, 1L).otherwise(0L).as("y"))
      .filter(col("g").between(1, k))
    b.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("y")).as("rg"))
      .agg(sum(dec(col("ng"))).as("n"), sum(dec(col("rg"))).as("r"),
        sum(dec(col("g")) * col("ng")).as("swn"),
        sum(dec(col("g")) * col("g") * col("ng")).as("sw2n"),
        sum(dec(col("g")) * col("rg")).as("swr"))
      .withColumn("tn", expr("n * swr - r * swn"))
      .withColumn("t", expr("tn * tn"))
      .withColumn("d1", expr("nullif(r * (n - r), CAST(0 AS DECIMAL(38,0)))"))
      .withColumn("d2", expr(
        "nullif(n * sw2n - swn * swn, CAST(0 AS DECIMAL(38,0)))"))
      // t div d1 ≤ d2 ≈ k²N² exits LONG at N ≈ 6·10⁸ — so the big
      // quotient uses the (p − p%q)/q DECIMAL form (qstat_kruskal_wallis
      // precedent); the two outer quotients are ≤ 10³N and keep `div`
      .select(col("n").cast("long").as("n"), col("r").cast("long").as("r"),
        col("tn").cast("long").as("trend_num"),
        expr("""CAST((1000 * n * CAST((t - t % d1) / d1 AS DECIMAL(38,0))
            + CAST((1000 * n * (t % d1)) div d1 AS DECIMAL(38,0))) div d2
          AS BIGINT)""").as("z2_milli"))
      .withColumn("reject_05", col("z2_milli") > criticalMilli)
  }

  /** Does the fulfilled-order rate trend with the TPC-H priority ladder
    * (1-URGENT → 5-LOW)? The generator assigns status independently of
    * priority, so the honest answer is "no trend".
    */
  private val qCochranArmitage = GraftQuery(
    "qstat_cochran_armitage",
    (s, dir) => cochranArmitage(Tables.orders(s, dir),
      expr("CAST(substr(o_orderpriority, 1, 1) AS INT)"),
      col("o_orderstatus") === "F", k = 5),
    Some("""WITH b AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
        CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders),
    gs AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng,
        CAST(SUM(y) AS HUGEINT) AS rg
      FROM b WHERE g BETWEEN 1 AND 5 GROUP BY g),
    s AS (SELECT SUM(ng) AS n, SUM(rg) AS r, SUM(g * ng) AS swn,
        SUM(g * g * ng) AS sw2n, SUM(g * rg) AS swr FROM gs),
    f AS (SELECT n, r, n * swr - r * swn AS tn,
        NULLIF(r * (n - r), 0) AS d1,
        NULLIF(n * sw2n - swn * swn, 0) AS d2 FROM s),
    z AS (SELECT n, r, tn,
        (1000 * n * ((tn * tn) // d1)
          + (1000 * n * ((tn * tn) % d1)) // d1) // d2 AS zm FROM f)
    SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
      CAST(tn AS BIGINT) AS trend_num, CAST(zm AS BIGINT) AS z2_milli,
      zm > 3841 AS reject_05
    FROM z"""))

  // ------------------------------------------- Mood's median test
  /** Mood's median test — the maximally assumption-light k-group
    * location test (only the above/below-pooled-median dichotomy is
    * used, so single wild outliers cannot move it at all, where
    * [[kruskalWallis]]'s ranks still shift): a 2×k chi-square of
    * per-group above-median counts,
    *
    *   χ² = (1/(A·B)) Σ_i (N·a_i − n_i·A)² / n_i
    *
    * (A/B = pooled above/not-above totals), derived from the standard
    * (O−E)²/E by clearing denominators — exact integers throughout.
    *
    * Plan: the pooled LOWER MEDIAN (smallest v with 2·cum ≥ N, so the
    * cut point is an actual data value — no interpolation) comes from
    * one value-collapsed [[Scans.rangedCumSum]]; then one group-by
    * builds the 2×k table. Per-group terms use the remainder split
    * ⌊10³t/n_i⌋ = 10³(t div n_i) + ⌊10³(t mod n_i)/n_i⌋ (t ≤ N²n_i²
    * keeps every intermediate ≤ 10³N³), summed then floored once by
    * A·B — the composed-floor convention, mirrored verbatim in the
    * oracle.
    *
    * Tie caveat (documented, inherent to the test): rows EQUAL to the
    * median count as "not above", so a heavy atom at the median skews
    * the split — that is Mood's test, not an implementation choice.
    *
    * Output (1 row): (n, med_value, above, chi2_milli, reject_05).
    */
  def moodMedian(vals: DataFrame, valueCol: String, groupCol: String,
      criticalMilli: Long): DataFrame = {
    val b = vals.select(col(valueCol).as("v"), col(groupCol).as("g"))
      .filter(col("v").isNotNull && col("g").isNotNull)
    val gv = b.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val cum = Scans.rangedCumSum(gv, "v", col("cnt"), "cw")
    val tot = b.agg(count(lit(1)).cast("decimal(38,0)").as("n"))
    val med = cum.crossJoin(broadcast(tot))
      .filter(dec(lit(2)) * col("cw") >= col("n"))
      .agg(min(col("v")).as("med"))
    // k-row 2×k table, checkpointed so the totals branch and the term
    // branch don't each re-scan the corpus (2 full scans total: the
    // median pass + the count pass — inherent to the test)
    val gc = b.crossJoin(broadcast(med))
      .groupBy(col("g"), col("med"))
      .agg(count(lit(1)).as("ng"),
        sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("ag"))
      .localCheckpoint()
    val at = gc.agg(sum(dec(col("ng"))).as("n"), sum(dec(col("ag"))).as("a"))
    gc.crossJoin(broadcast(at))
      .withColumn("t", expr(
        """(n * CAST(ag AS DECIMAL(38,0)) - CAST(ng AS DECIMAL(38,0)) * a)
         * (n * CAST(ag AS DECIMAL(38,0)) - CAST(ng AS DECIMAL(38,0)) * a)"""))
      // t div ng ≤ N²ng exits LONG at N ≈ 2·10⁶ → (p − p%q)/q form;
      // the companion quotient is ≤ 10³ and keeps `div`
      .withColumn("term", expr(
        """1000 * CAST((t - t % CAST(ng AS DECIMAL(38,0)))
              / CAST(ng AS DECIMAL(38,0)) AS DECIMAL(38,0))
          + CAST((1000 * (t % CAST(ng AS DECIMAL(38,0))))
              div CAST(ng AS DECIMAL(38,0)) AS DECIMAL(38,0))"""))
      .groupBy(col("n"), col("a"), col("med"))
      .agg(sum(col("term")).as("s"))
      .select(col("n").cast("long").as("n"), col("med").as("med_value"),
        col("a").cast("long").as("above"),
        expr("""CAST(s div nullif(a * (n - a), CAST(0 AS DECIMAL(38,0)))
          AS BIGINT)""").as("chi2_milli"))
      .withColumn("reject_05", col("chi2_milli") > criticalMilli)
  }

  /** Do the five event types differ in median spend? df = 4 → χ²
    * critical 9.488 pinned in milli (the [[qKruskal]] constant at milli
    * scale). Values in exact cents.
    */
  private val qMoodMedian = GraftQuery(
    "qstat_mood_median",
    (s, dir) => moodMedian(
      Tables.events(s, dir)
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type")),
      "cents", "event_type", criticalMilli = 9488L),
    Some("""WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        event_type AS g FROM events WHERE value IS NOT NULL),
    gv AS (SELECT v, COUNT(*) AS cnt FROM b GROUP BY v),
    cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM gv),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM b),
    med AS (SELECT MIN(v) AS med FROM cum, tot WHERE 2 * cw >= tot.n),
    gc AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng,
        CAST(SUM(CASE WHEN v > med.med THEN 1 ELSE 0 END) AS HUGEINT) AS ag
      FROM b, med GROUP BY g),
    at AS (SELECT SUM(ng) AS n, SUM(ag) AS a FROM gc),
    tm AS (SELECT gc.ng, (at.n * gc.ag - gc.ng * at.a)
          * (at.n * gc.ag - gc.ng * at.a) AS t, at.n, at.a
      FROM gc, at),
    ss AS (SELECT MAX(n) AS n, MAX(a) AS a,
        SUM(1000 * (t // ng) + (1000 * (t % ng)) // ng) AS s FROM tm)
    SELECT CAST(n AS BIGINT) AS n, med.med AS med_value,
      CAST(a AS BIGINT) AS above,
      CAST(s // NULLIF(a * (n - a), 0) AS BIGINT) AS chi2_milli,
      (s // NULLIF(a * (n - a), 0)) > 9488 AS reject_05
    FROM ss, med"""))

  // --------------------------------- Cramér–von Mises (two-sample)
  /** Two-sample Cramér–von Mises criterion — the whole-curve companion
    * to [[ksTest]] on the same value-collapsed scan: where KS reads
    * only the single largest ECDF gap, CvM integrates the SQUARED gap
    * over the pooled sample, so many moderate departures (dispersion,
    * multi-modal shifts) that never produce one big gap still register.
    * Pinned definition (ties included, each pooled point weighted by
    * its multiplicity):
    *
    *   ω² = (n₁n₂/N²) Σ_v cnt_v (F₁(v) − F₂(v))²
    *      = Σ_v cnt_v (n₂C₁ᵥ − n₁C₂ᵥ)² / (N²·n₁n₂)
    *
    * which reduces to the classical rank form in the untied case.
    * reject_05 against the asymptotic α = 0.05 critical 0.461 in milli.
    *
    * Same plan as KS: ONE ranged-scan over the distinct value domain
    * (both cumulative counts in one pass), one 1-row aggregate. The
    * per-value ⌊10³cnt·u²/(n₁n₂)⌋ uses the remainder split (u² ≤
    * (n₁n₂)² would put the naive product out of DECIMAL(38,0) at
    * N ≈ 3·10⁷; split, every intermediate is ≤ 250·N³ — exact to
    * N ≈ 7·10¹¹), then one final floor by N² — composed floors,
    * oracle-mirrored.
    *
    * Output (1 row): (n1, n2, t_milli, reject_05).
    */
  def cramerVonMises(vals: DataFrame, valueCol: String, isFirst: Column,
      criticalMilli: Long = 461L): DataFrame = {
    val g = vals.select(col(valueCol).as("v"), isFirst.cast("int").as("one"))
      .filter(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(col("one")).as("k1"), sum(lit(1) - col("one")).as("k2"))
    val cum = Scans.rangedCumSums(g, "v",
      Seq((col("k1"): Column) -> "c1", (col("k2"): Column) -> "c2"))
    val tot = g.agg(sum(dec(col("k1"))).as("n1"), sum(dec(col("k2"))).as("n2"))
    cum.crossJoin(broadcast(tot))
      .withColumn("u", expr(
        "n2 * CAST(c1 AS DECIMAL(38,0)) - n1 * CAST(c2 AS DECIMAL(38,0))"))
      // u² div (n₁n₂) ≤ n₁n₂ exits LONG at N ≈ 6·10⁹ → (p − p%q)/q
      // form; the companion quotient is ≤ 10³N and keeps `div`
      .withColumn("term", expr(
        """1000 * CAST(k1 + k2 AS DECIMAL(38,0))
              * CAST(((u * u) - (u * u) % (n1 * n2)) / (n1 * n2)
                  AS DECIMAL(38,0))
          + CAST((1000 * CAST(k1 + k2 AS DECIMAL(38,0))
              * ((u * u) % (n1 * n2))) div (n1 * n2) AS DECIMAL(38,0))"""))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("term")).as("s"))
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        expr("CAST(s div ((n1 + n2) * (n1 + n2)) AS BIGINT)").as("t_milli"))
      .withColumn("reject_05", col("t_milli") > criticalMilli)
  }

  /** Purchase vs view spend distributions, whole-curve read — the CvM
    * companion to qstat_ks_test / qstat_mann_whitney /
    * qstat_cliffs_delta on the same pair. Cents for an exact domain.
    */
  private val qCvm = GraftQuery(
    "qstat_cvm",
    (s, dir) => cramerVonMises(
      Tables.events(s, dir).filter(col("event_type").isin("purchase", "view"))
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type")),
      "cents", col("event_type") === "purchase"),
    Some("""WITH gv AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS one
      FROM events WHERE event_type IN ('purchase', 'view')
        AND value IS NOT NULL),
    g AS (SELECT v, SUM(one) AS k1, SUM(1 - one) AS k2 FROM gv GROUP BY v),
    cum AS (SELECT v, k1, k2,
        SUM(k1) OVER w AS c1, SUM(k2) OVER w AS c2
      FROM g WINDOW w AS (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    tot AS (SELECT CAST(SUM(k1) AS HUGEINT) AS n1,
        CAST(SUM(k2) AS HUGEINT) AS n2 FROM g),
    tm AS (SELECT k1 + k2 AS cnt,
        tot.n2 * c1 - tot.n1 * c2 AS u, tot.n1, tot.n2 FROM cum, tot),
    ss AS (SELECT MAX(n1) AS n1, MAX(n2) AS n2,
        SUM(1000 * cnt * ((u * u) // (n1 * n2))
          + (1000 * cnt * ((u * u) % (n1 * n2))) // (n1 * n2)) AS s
      FROM tm)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      CAST(s // ((n1 + n2) * (n1 + n2)) AS BIGINT) AS t_milli,
      (s // ((n1 + n2) * (n1 + n2))) > 461 AS reject_05
    FROM ss"""))

  // ------------------------------------ Page's L trend (within-block)
  /** Page's L test for an ORDERED alternative WITHIN blocks — completes
    * the trend family: [[jonckheereTerpstra]] orders independent
    * groups, Page orders the k treatments each block ranks internally
    * (the repeated-measures dose ladder; strictly more powerful than
    * [[friedman]]'s any-difference alternative when the order is
    * hypothesized in advance). L = Σ_j j·R_j on within-block midranks,
    * standardized with the EXACT TIE-CORRECTED permutation variance
    *
    *   Var(L₂) = [k(k+1)/12] · Σ_b Σ_j (R₂ − (k+1))²
    *
    * from the finite-population identity Var(Σc a_π) =
    * Σ(c−c̄)²Σ(a−ā)²/(k−1) per block — which reduces to the textbook
    * n·k²(k+1)(k²−1)/144 in the untied case (on L = L₂/2). Everything
    * integral: doubled midranks (the [[friedman]] frame — per-block
    * sum k(k+1), mean exactly k+1), E[L₂] = n·k(k+1)²/2,
    * z² = 12·dev²/Var-core by one floored division.
    *
    * Output (1 row): (n_blocks, k, l_x2, dev_x2, z2_milli, reject_05)
    * with dev's sign the trend direction, two-sided χ²₁ critical in
    * milli (the [[jonckheereTerpstra]] convention).
    */
  def pageTrend(obs: DataFrame, blockCol: String, treatIdx: Column,
      value: Column, k: Int, criticalMilli: Long = 3841L): DataFrame = {
    require(k >= 3, s"Page's test needs at least 3 ordered treatments, got $k")
    val c = obs.select(col(blockCol).as("blk"), treatIdx.cast("int").as("j"),
        value.as("vv"))
      .filter(col("vv").isNotNull && col("j").between(1, k))
      .groupBy(col("blk"), col("j")).agg(sum(col("vv")).as("v"))
    val fu = c.groupBy(col("blk")).agg(count(lit(1)).as("m"))
      .filter(col("m") === k).select(col("blk"))
    val wRank = Window.partitionBy(col("blk")).orderBy(col("v"))
    val wTies = Window.partitionBy(col("blk"), col("v"))
    val r = c.join(fu, "blk")
      .withColumn("r2",
        lit(2) * (rank().over(wRank) - 1) + count(lit(1)).over(wTies) + 1)
    r.agg(expr(s"count(1) div $k").as("nb"),
        sum(dec(col("j")) * col("r2")).as("l2"),
        sum((dec(col("r2")) - (k + 1)) * (dec(col("r2")) - (k + 1))).as("ss"))
      .withColumn("dev", expr(
        s"l2 - CAST(nb AS DECIMAL(38,0)) * ${k * (k + 1) * (k + 1)} div 2"))
      .select(col("nb").cast("long").as("n_blocks"), lit(k).as("k"),
        col("l2").cast("long").as("l_x2"),
        col("dev").cast("long").as("dev_x2"),
        expr(s"""CAST((12000 * dev * dev)
          div nullif(${k * (k + 1)} * ss, CAST(0 AS DECIMAL(38,0)))
          AS BIGINT)""").as("z2_milli"))
      .withColumn("reject_05", col("z2_milli") > criticalMilli)
  }

  /** Does per-user spend rank with funnel depth view < click < signup <
    * purchase? Blocks = users observed at all four stages, measurement
    * = per-(user, type) cents total — the ordered-alternative upgrade
    * of [[qFriedman]] on the engagement ladder (error events excluded:
    * they carry no depth hypothesis).
    */
  private val qPageTrend = GraftQuery(
    "qstat_page_trend",
    (s, dir) => pageTrend(Tables.events(s, dir), "user_id",
      expr("""CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        WHEN 'signup' THEN 3 WHEN 'purchase' THEN 4 ELSE 0 END"""),
      expr("CAST(round(value * 100) AS BIGINT)"), k = 4),
    Some("""WITH c AS (SELECT user_id AS blk,
        CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
          WHEN 'signup' THEN 3 WHEN 'purchase' THEN 4 ELSE 0 END AS j,
        SUM(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events WHERE value IS NOT NULL
        AND event_type IN ('view', 'click', 'signup', 'purchase')
      GROUP BY 1, 2),
    fu AS (SELECT blk FROM c GROUP BY blk HAVING COUNT(*) = 4),
    r AS (SELECT c.blk, c.j,
        2 * (RANK() OVER (PARTITION BY c.blk ORDER BY c.v) - 1)
          + COUNT(*) OVER (PARTITION BY c.blk, c.v) + 1 AS r2
      FROM c JOIN fu USING (blk)),
    s AS (SELECT CAST(COUNT(*) / 4 AS HUGEINT) AS nb,
        SUM(CAST(j AS HUGEINT) * r2) AS l2,
        SUM(CAST(r2 - 5 AS HUGEINT) * (r2 - 5)) AS ss FROM r),
    f AS (SELECT nb, l2, l2 - nb * 100 // 2 AS dev, ss FROM s)
    SELECT CAST(nb AS BIGINT) AS n_blocks, 4 AS k,
      CAST(l2 AS BIGINT) AS l_x2, CAST(dev AS BIGINT) AS dev_x2,
      CAST((12000 * dev * dev) // NULLIF(20 * ss, 0) AS BIGINT) AS z2_milli,
      ((12000 * dev * dev) // NULLIF(20 * ss, 0)) > 3841 AS reject_05
    FROM f"""))

  // ------------------------------ Brunner–Munzel (rank Behrens–Fisher)
  /** Brunner–Munzel test (2000) — the nonparametric Behrens–Fisher
    * answer, the modern default over [[mannWhitney]] when the two
    * samples may differ in VARIANCE or shape (MWU's null is "identical
    * distributions"; BM tests only the stochastic-equality hypothesis
    * p = P(X<Y) + ½P(X=Y) = ½ and stays calibrated under
    * heteroscedasticity):
    *
    *   W² = (R̄₂−R̄₁)²·(n₁n₂)² / (N²·(n₁S₁² + n₂S₂²))
    *
    * with Sᵢ² the PLACEMENT variances (combined-rank − own-rank). On
    * the value-collapsed frame the doubled placements are pure
    * integers — P₂ˣ = 2c₂+k₂, P₂ʸ = 2c₁+k₁ (c = the other sample's
    * exclusive running count) — so both placement moments come out of
    * the SAME single [[Scans.rangedCumSums]] pass as the counts, ties
    * handled exactly, no per-sample rank pass at all.
    *
    * Exactness ladder (all remainder-split floors, oracle-mirrored):
    * the raw integer form N²·(U₁(n₂−1)+U₂(n₁−1)) scales like N⁷ and
    * exits DECIMAL(38,0) at N ≈ 3·10⁵, so the engine normalizes first —
    * placement-variance FRACTIONS w_i = ⌊10⁶·Uᵢ/(4nᵢ(nᵢ−1)n_j²)⌋ ∈
    * [0, 2.5·10⁵] and the mean-difference fraction
    * dm = ⌊10⁶·|D|/(2n₁n₂N)⌋ = 10⁶·|p̂−½| — leaving
    * w2_milli = ⌊1000·dm²·n₁n₂ / (10⁶·(n₂w₁+n₁w₂))⌋ with every
    * intermediate ≤ ~10³²  at N = 10⁹. Large-sample normal reference,
    * two-sided χ²₁ critical pinned in milli (the [[jonckheereTerpstra]]
    * convention; BM's small-sample t-df refinement needs no engine
    * support — the gate data is large-sample).
    *
    * Output (1 row): (n1, n2, p_milli = 10³·p̂, w2_milli, reject_05).
    */
  def brunnerMunzel(vals: DataFrame, valueCol: String, isFirst: Column,
      criticalMilli: Long = 3841L): DataFrame = {
    val g = vals.select(col(valueCol).as("v"), isFirst.cast("int").as("one"))
      .filter(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(col("one")).as("k1"), sum(lit(1) - col("one")).as("k2"))
    val cum = Scans.rangedCumSums(g, "v",
        Seq((col("k1"): Column) -> "c1i", (col("k2"): Column) -> "c2i"))
      .withColumn("c1", col("c1i") - col("k1"))
      .withColumn("c2", col("c2i") - col("k2"))
    cum.agg(sum(dec(col("k1"))).as("n1"), sum(dec(col("k2"))).as("n2"),
        sum(dec(col("k1")) * (dec(lit(2)) * col("c2") + col("k2"))).as("a1"),
        sum(dec(col("k1")) * (dec(lit(2)) * col("c2") + col("k2"))
          * (dec(lit(2)) * col("c2") + col("k2"))).as("q1"),
        sum(dec(col("k2")) * (dec(lit(2)) * col("c1") + col("k1"))).as("a2"),
        sum(dec(col("k2")) * (dec(lit(2)) * col("c1") + col("k1"))
          * (dec(lit(2)) * col("c1") + col("k1"))).as("q2"))
      .withColumn("u1", expr("n1 * q1 - a1 * a1"))
      .withColumn("u2", expr("n2 * q2 - a2 * a2"))
      .withColumn("dn", expr("abs(a2 * n1 - a1 * n2 + n1 * n2 * (n2 - n1))"))
      .withColumn("d1", expr(
        "nullif(4 * n1 * (n1 - 1) * n2 * n2, CAST(0 AS DECIMAL(38,0)))"))
      .withColumn("d2", expr(
        "nullif(4 * n2 * (n2 - 1) * n1 * n1, CAST(0 AS DECIMAL(38,0)))"))
      .withColumn("dd", expr("2 * n1 * n2 * (n1 + n2)"))
      .withColumn("w1", expr(
        """1000000 * CAST((u1 - u1 % d1) / d1 AS DECIMAL(38,0))
          + CAST((1000000 * (u1 % d1)) div d1 AS DECIMAL(38,0))"""))
      .withColumn("w2", expr(
        """1000000 * CAST((u2 - u2 % d2) / d2 AS DECIMAL(38,0))
          + CAST((1000000 * (u2 % d2)) div d2 AS DECIMAL(38,0))"""))
      .withColumn("dm", expr(
        """1000000 * CAST((dn - dn % dd) / dd AS DECIMAL(38,0))
          + CAST((1000000 * (dn % dd)) div dd AS DECIMAL(38,0))"""))
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        expr("CAST((1000 * a2) div (2 * n1 * n2) AS BIGINT)").as("p_milli"),
        expr("""CAST((1000 * dm * dm * n1 * n2)
          div nullif(1000000 * (n2 * w1 + n1 * w2),
            CAST(0 AS DECIMAL(38,0))) AS BIGINT)""").as("w2_milli"))
      .withColumn("reject_05", col("w2_milli") > criticalMilli)
  }

  /** Are purchases stochastically larger than views WITHOUT assuming
    * equal spread? The heteroscedasticity-robust companion to
    * qstat_mann_whitney on the same pair; p_milli is the
    * common-language effect size P(view < purchase) + ½P(=) in milli.
    */
  private val qBrunnerMunzel = GraftQuery(
    "qstat_brunner_munzel",
    (s, dir) => brunnerMunzel(
      Tables.events(s, dir).filter(col("event_type").isin("purchase", "view"))
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type")),
      "cents", col("event_type") === "view"),
    Some("""WITH gv AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS one
      FROM events WHERE event_type IN ('purchase', 'view')
        AND value IS NOT NULL),
    g AS (SELECT v, CAST(SUM(one) AS HUGEINT) AS k1,
        CAST(SUM(1 - one) AS HUGEINT) AS k2 FROM gv GROUP BY v),
    cum AS (SELECT v, k1, k2,
        SUM(k1) OVER w - k1 AS c1, SUM(k2) OVER w - k2 AS c2
      FROM g WINDOW w AS (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    m AS (SELECT SUM(k1) AS n1, SUM(k2) AS n2,
        SUM(k1 * (2 * c2 + k2)) AS a1,
        SUM(k1 * (2 * c2 + k2) * (2 * c2 + k2)) AS q1,
        SUM(k2 * (2 * c1 + k1)) AS a2,
        SUM(k2 * (2 * c1 + k1) * (2 * c1 + k1)) AS q2
      FROM cum),
    f AS (SELECT n1, n2, a2,
        n1 * q1 - a1 * a1 AS u1, n2 * q2 - a2 * a2 AS u2,
        abs(a2 * n1 - a1 * n2 + n1 * n2 * (n2 - n1)) AS dn,
        NULLIF(4 * n1 * (n1 - 1) * n2 * n2, 0) AS d1,
        NULLIF(4 * n2 * (n2 - 1) * n1 * n1, 0) AS d2,
        2 * n1 * n2 * (n1 + n2) AS dd
      FROM m),
    z AS (SELECT n1, n2, a2,
        1000000 * (u1 // d1) + (1000000 * (u1 % d1)) // d1 AS w1,
        1000000 * (u2 // d2) + (1000000 * (u2 % d2)) // d2 AS w2,
        1000000 * (dn // dd) + (1000000 * (dn % dd)) // dd AS dm
      FROM f)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      CAST((1000 * a2) // (2 * n1 * n2) AS BIGINT) AS p_milli,
      CAST((1000 * dm * dm * n1 * n2)
        // NULLIF(1000000 * (n2 * w1 + n1 * w2), 0) AS BIGINT) AS w2_milli,
      ((1000 * dm * dm * n1 * n2)
        // NULLIF(1000000 * (n2 * w1 + n1 * w2), 0)) > 3841 AS reject_05
    FROM z"""))

  // --------------------- Hodges–Lehmann shift (distributed selection)
  /** Hodges–Lehmann two-sample shift estimator — the median of ALL
    * n₁·n₂ pairwise differences x−y: the effect-size companion in
    * ORIGINAL UNITS to [[mannWhitney]]'s test and [[cliffsDelta]]'s
    * unitless dominance (the estimator that inverts the MWU test).
    * Robust (29 % breakdown) and, unlike the difference of medians,
    * unbiased under a pure location shift.
    *
    * THE PAIRS ARE NEVER MATERIALIZED. The engine runs a batched
    * binary-search SELECTION over the integer value domain:
    * C(t) = #\{x−y ≤ t\} = Σ_v kx_v · #\{y < v−t\} is evaluated for
    * `probesPerRound` thresholds AT ONCE by unioning the probe-shifted
    * x domain (weight 0, kind-sorted BEFORE data rows at equal
    * positions, so the inclusive running sum at a query row is exactly
    * the strict y-count) with the probe-replicated y domain into ONE
    * [[Scans.rangedCumSum]] keyed by (probe, position, kind). Each
    * round is one domain-sized scan plus one ≤probes-row driver fetch
    * (the sanctioned bounded-fetch contract), and the bracket shrinks
    * (probes+1)× — ⌈log₁₆(range)⌉ rounds at the default 15 (a cents
    * domain of width 10⁸ closes in 7). Value-collapsed inputs are
    * localCheckpointed once and reused by every round; row count never
    * enters the per-round cost, only the distinct domain (the
    * [[ksTest]] bound). Throws loudly if the bracket stalls or
    * maxRounds is hit.
    *
    * Output (1 row): (n1, n2, pairs, hl_shift) — hl_shift is the LOWER
    * median (order statistic ⌈P/2⌉) of the differences, an actual
    * realized difference, exact. Requires an integral value column.
    */
  def hodgesLehmannShift(vals: DataFrame, valueCol: String, isFirst: Column,
      probesPerRound: Int = 15, maxRounds: Int = 24): DataFrame = {
    require(probesPerRound >= 1, "need at least one probe per round")
    val spark = vals.sparkSession
    val b = vals.select(col(valueCol).cast("long").as("v"),
        isFirst.cast("boolean").as("one"))
      .filter(col("v").isNotNull && col("one").isNotNull)
    val x = b.filter(col("one")).groupBy(col("v"))
      .agg(count(lit(1)).as("kx")).localCheckpoint()
    val y = b.filter(!col("one")).groupBy(col("v"))
      .agg(count(lit(1)).as("ky")).localCheckpoint()
    val xs = x.agg(min(col("v")), max(col("v")), sum(col("kx"))).collect().head
    val ys = y.agg(min(col("v")), max(col("v")), sum(col("ky"))).collect().head
    require(!xs.isNullAt(0) && !ys.isNullAt(0),
      "hodgesLehmannShift: both samples must be non-empty")
    val (minX, maxX, n1) = (xs.getLong(0), xs.getLong(1), xs.getLong(2))
    val (minY, maxY, n2) = (ys.getLong(0), ys.getLong(1), ys.getLong(2))
    val pairsBig = BigInt(n1) * BigInt(n2)
    require(pairsBig.isValidLong,
      s"hodgesLehmannShift: n1*n2 = $pairsBig overflows the Long pairs column")
    val target = (pairsBig + 1) / 2
    var lo = minX - maxY
    var hi = maxX - minY
    val gLo = math.min(minY, minX - hi)
    val width = math.max(maxY, maxX - lo) - gLo + 2
    require(width > 0 && width < Long.MaxValue / (2L * (probesPerRound + 1)),
      s"hodgesLehmannShift: value domain too wide for the probe key ($width)")
    var rounds = 0
    while (lo < hi) {
      require(rounds < maxRounds,
        s"hodgesLehmannShift: bracket [$lo,$hi] open after $maxRounds rounds")
      rounds += 1
      val span = hi - lo
      val ts: Seq[Long] =
        if (span <= probesPerRound) (lo until hi).toSeq
        else (1 to probesPerRound)
          .map(i => lo + (BigInt(span) * i / (probesPerRound + 1)).toLong)
          .distinct.filter(t => t >= lo && t < hi)
      val tsArr = array(ts.map(lit(_)): _*)
      val q = x.select(col("v"), col("kx"),
          posexplode(tsArr).as(Seq("pi", "t")))
        .select(col("pi"), (col("v") - col("t")).as("pos"),
          col("kx"), lit(0L).as("w"), lit(0).as("flag"))
      val d = y.select(col("v"), col("ky"),
          posexplode(tsArr).as(Seq("pi", "t")))
        .select(col("pi"), col("v").as("pos"),
          lit(0L).as("kx"), col("ky").cast("long").as("w"), lit(1).as("flag"))
      val u = q.unionByName(d)
        .withColumn("key",
          (col("pi").cast("long") * width + (col("pos") - gLo)) * 2
            + col("flag"))
      // ONE scan carries all probes, so the running sum at a probe-pi
      // query row includes the pi earlier probes' full y replicas —
      // exactly pi·n₂ — and the in-probe strict count is cw − pi·n₂
      val counts = Scans.rangedCumSum(u, "key", col("w"), "cw")
        .filter(col("flag") === 0)
        .groupBy(col("pi"))
        .agg(sum(dec(col("kx")) * (lit(n2) * (col("pi") + 1) - col("cw")))
          .as("c"))
        .collect()
        .map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger))
        .toMap
      var newLo = lo; var newHi = hi
      ts.zipWithIndex.foreach { case (t, i) =>
        if (counts(i) >= target) newHi = math.min(newHi, t)
        else newLo = math.max(newLo, t + 1)
      }
      require(newLo > lo || newHi < hi,
        s"hodgesLehmannShift: no progress at bracket [$lo,$hi]")
      lo = newLo; hi = newHi
    }
    spark.range(1).select(lit(n1).as("n1"), lit(n2).as("n2"),
      lit(pairsBig.toLong).as("pairs"), lit(lo).as("hl_shift"))
  }

  /** By how many cents does a typical purchase exceed a typical view?
    * The original-units effect size behind qstat_mann_whitney /
    * qstat_cliffs_delta on the same pair — ~3.9M implicit pairs at
    * sf0.01 selected over without materializing any of them. The oracle
    * (sf0.01-sized) cross-joins and sorts; the engine's answer must hit
    * the identical order statistic.
    */
  private val qHodgesLehmann = GraftQuery(
    "qstat_hodges_lehmann",
    (s, dir) => hodgesLehmannShift(
      Tables.events(s, dir).filter(col("event_type").isin("purchase", "view"))
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type")),
      "cents", col("event_type") === "purchase"),
    Some("""WITH x AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
    y AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'view' AND value IS NOT NULL),
    n AS (SELECT (SELECT CAST(COUNT(*) AS HUGEINT) FROM x) AS n1,
        (SELECT CAST(COUNT(*) AS HUGEINT) FROM y) AS n2),
    r AS (SELECT x.v - y.v AS dd,
        row_number() OVER (ORDER BY x.v - y.v) AS rn FROM x, y)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      CAST(n1 * n2 AS BIGINT) AS pairs,
      (SELECT CAST(dd AS BIGINT) FROM r, n
        WHERE rn = (n1 * n2 + 1) // 2) AS hl_shift
    FROM n"""))

  // ------------------------------------------- MAD robust outliers
  /** Median-absolute-deviation outlier screen per group — the
    * maximally-robust (50 % breakdown) companion to [[iqrOutliers]]'
    * quartile fences (and the column-parameterized GROUPED form of
    * qe_mad_anomaly's per-entity event screen): med = exact lower median, MAD = exact lower
    * median of |x − med|, outlier ⟺ |x − med| > k·MAD (k = 3, the
    * conventional "very conservative" fence; the 1.4826 normal-
    * consistency factor is a CALLER-side scaling that cancels in the
    * comparison and is deliberately omitted — all arithmetic stays
    * integer). Group medians use the exact "smallest value with 2·cum
    * ≥ n" device over per-group value domains (the [[iqrOutliers]] /
    * Brown–Forsythe window — group-partitioned, never global).
    *
    * Output: one row per group — (g, n, median, mad, n_outliers,
    * worst_lo, worst_hi), ordered by g.
    */
  def madOutliers(vals: DataFrame, groupCol: String, valueCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"fence multiplier must be >= 1, got $k")
    val v = vals.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
    def lowerMedian(df: DataFrame, c: String, out: String) = {
      val gc = df.groupBy(col("g"), col(c)).agg(count(lit(1)).as("kk"))
      val wc = Window.partitionBy(col("g")).orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col("g"))
      gc.select(col("g"), col(c), sum(col("kk")).over(wc).as("cum"),
          sum(col("kk")).over(wn).as("n"))
        .groupBy(col("g"))
        .agg(min(when(col("cum") * 2 >= col("n"), col(c))).as(out))
    }
    val med = lowerMedian(v, "v", "medv")
    val dv = v.join(med, "g")
      .select(col("g"), col("v"), abs(col("v") - col("medv")).as("d"),
        col("medv"))
      .localCheckpoint()
    val mad = lowerMedian(dv.select(col("g"), col("d")), "d", "mad")
    dv.join(mad, "g")
      .withColumn("out", col("d") > lit(k.toLong) * col("mad"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), max(col("medv")).as("median"),
        max(col("mad")).as("mad"),
        sum(when(col("out"), 1L).otherwise(0L)).as("n_outliers"),
        min(when(col("out"), col("v"))).as("worst_lo"),
        max(when(col("out"), col("v"))).as("worst_hi"))
      .orderBy(col("g"))
  }

  /** Event-value outliers per event type under the MAD fence — what
    * survives the IQR screen's sensitivity to fat one-sided tails.
    */
  private val qMad = GraftQuery(
    "qstat_mad_outliers",
    (s, dir) => madOutliers(
      Tables.events(s, dir)
        .select(col("event_type").as("t"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
      "t", "cents"),
    Some("""WITH raw AS (SELECT event_type AS g,
        CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    gc AS (SELECT g, v, COUNT(*) AS k FROM raw GROUP BY g, v),
    c1 AS (SELECT g, v, SUM(k) OVER (PARTITION BY g ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER (PARTITION BY g) AS n FROM gc),
    med AS (SELECT g, MIN(CASE WHEN cum * 2 >= n THEN v END) AS medv
      FROM c1 GROUP BY g),
    dv AS (SELECT raw.g, raw.v, abs(raw.v - med.medv) AS d, med.medv
      FROM raw JOIN med USING (g)),
    dc AS (SELECT g, d, COUNT(*) AS k FROM dv GROUP BY g, d),
    c2 AS (SELECT g, d, SUM(k) OVER (PARTITION BY g ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER (PARTITION BY g) AS n FROM dc),
    mad AS (SELECT g, MIN(CASE WHEN cum * 2 >= n THEN d END) AS mad
      FROM c2 GROUP BY g),
    f AS (SELECT dv.g, dv.v, dv.medv, mad.mad, dv.d > 3 * mad.mad AS o
      FROM dv JOIN mad USING (g))
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n, MAX(medv) AS median,
      MAX(mad) AS mad,
      CAST(SUM(CASE WHEN o THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      MIN(CASE WHEN o THEN v END) AS worst_lo,
      MAX(CASE WHEN o THEN v END) AS worst_hi
    FROM f GROUP BY g ORDER BY g"""))

  // ------------------------------------------- Hartley's Fmax screen
  /** Hartley's Fmax variance-homogeneity screen — max/min of the k
    * group variances, the one-number "can I even pool these groups"
    * read BEFORE ANOVA-family tests (whose equal-variance assumption
    * Brown–Forsythe tests formally; Fmax is the cheap triage number).
    * Exact: per-group variance as the integer pair (num = n·Σx²−(Σx)²,
    * den = n·(n−1)) in DECIMAL(38,0); the extreme groups are chosen by
    * CROSS-MULTIPLIED comparison (num_a·den_b vs num_b·den_a — no
    * division until the readout), deterministic group-id tiebreaks;
    * fmax_milli is one floored division of the cross products. One
    * corpus aggregation to a k-row frame; everything after is k-row
    * arithmetic.
    *
    * Output (1 row): (k, g_hi, v_hi_milli, g_lo, v_lo_milli,
    * fmax_milli).
    */
  def hartleyFmax(vals: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = vals.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(dec(col("v"))).as("s"),
        sum(dec(col("v")) * col("v")).as("ss"))
      .filter(col("n") >= 2)
      .select(col("g"),
        (dec(col("n")) * col("ss") - col("s") * col("s")).as("num"),
        (dec(col("n")) * (col("n") - 1)).as("den"))
      .localCheckpoint()
    // k-row frame: extremes by cross-multiplied variance, id tiebreak
    val hi = g.as("a").join(g.as("b"),
        col("a.num") * col("b.den") < col("b.num") * col("a.den") ||
          (col("a.num") * col("b.den") === col("b.num") * col("a.den") &&
            col("a.g") < col("b.g")), "left_anti")
      .select(col("g").as("g_hi"), col("num").as("num_hi"),
        col("den").as("den_hi"))
    val lo = g.as("a").join(g.as("b"),
        col("a.num") * col("b.den") > col("b.num") * col("a.den") ||
          (col("a.num") * col("b.den") === col("b.num") * col("a.den") &&
            col("a.g") > col("b.g")), "left_anti")
      .select(col("g").as("g_lo"), col("num").as("num_lo"),
        col("den").as("den_lo"))
    g.agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(hi)).crossJoin(broadcast(lo))
      .select(col("k"), col("g_hi"),
        expr("CAST((1000 * num_hi) div den_hi AS BIGINT)").as("v_hi_milli"),
        col("g_lo"),
        expr("CAST((1000 * num_lo) div den_lo AS BIGINT)").as("v_lo_milli"),
        expr("""CAST((1000 * num_hi * den_lo)
          div nullif(num_lo * den_hi, cast(0 as decimal(38,0)))
          AS BIGINT)""").as("fmax_milli"))
  }

  /** Event-value variance spread across event types — how far from
    * variance-homogeneous the ANOVA binding's groups really are.
    */
  private val qHartley = GraftQuery(
    "qstat_hartley_fmax",
    (s, dir) => hartleyFmax(
      Tables.events(s, dir)
        .select(col("event_type").as("t"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
      "t", "cents"),
    Some("""WITH g AS (SELECT event_type AS g, COUNT(*) AS n,
        SUM(CAST(round(value * 100) AS BIGINT)) AS s,
        SUM(CAST(round(value * 100) AS HUGEINT)
          * CAST(round(value * 100) AS BIGINT)) AS ss
      FROM events WHERE value IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 2),
    v AS (SELECT g, CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS num,
        CAST(n AS HUGEINT) * (n - 1) AS den FROM g),
    hi AS (SELECT g AS g_hi, num AS num_hi, den AS den_hi FROM v a
      WHERE NOT EXISTS (SELECT 1 FROM v b
        WHERE a.num * b.den < b.num * a.den
          OR (a.num * b.den = b.num * a.den AND a.g < b.g))),
    lo AS (SELECT g AS g_lo, num AS num_lo, den AS den_lo FROM v a
      WHERE NOT EXISTS (SELECT 1 FROM v b
        WHERE a.num * b.den > b.num * a.den
          OR (a.num * b.den = b.num * a.den AND a.g > b.g)))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS k, g_hi,
      CAST((1000 * num_hi) // den_hi AS BIGINT) AS v_hi_milli,
      g_lo, CAST((1000 * num_lo) // den_lo AS BIGINT) AS v_lo_milli,
      CAST((1000 * num_hi * den_lo)
        // NULLIF(num_lo * den_hi, 0) AS BIGINT) AS fmax_milli
    FROM hi, lo"""))

  // ----------------------------------- seasonal-median anomaly days
  /** Seasonality-adjusted anomaly days — the robust STL-lite screen:
    * expected level per calendar slot = exact lower median of the
    * series within that weekday (seasonal component, outlier-proof
    * where a weekday MEAN is dragged by the very anomalies we hunt),
    * residual r = y − expected, and a day is anomalous when its
    * residual sits outside the GLOBAL 3-MAD fence on residuals (the
    * [[madOutliers]] device pooled across slots). Catches "weird for a
    * Tuesday" days a raw fence misses (weekend lulls would dominate
    * it) — the seasonality-aware upgrade over qe_mad_anomaly's
    * per-entity level fence.
    *
    * All integer: weekday medians over 7 group-partitioned value
    * domains, one global residual-domain median + MAD, one fence scan.
    * Monday = 0 via the engine-shared weekday ≡ isodow−1 identity.
    *
    * Output: the anomalous days — (d, y, expected, resid), ordered by d.
    */
  def seasonalMedianAnomaly(daily: DataFrame, dateCol: String = "d",
      valueCol: String = "y", k: Int = 3): DataFrame = {
    require(k >= 1, s"fence multiplier must be >= 1, got $k")
    val v = daily.select(col(dateCol).as("d"),
        col(valueCol).cast("long").as("y"))
      .filter(col("y").isNotNull)
      .withColumn("dow", expr("(dayofweek(d) + 5) % 7"))
    def lowerMedian(df: DataFrame, grp: Option[String], c: String,
        out: String) = {
      val gcols = grp.toSeq.map(col)
      val gc = df.groupBy(gcols :+ col(c): _*).agg(count(lit(1)).as("kk"))
      val wc = Window.partitionBy(gcols: _*).orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(gcols: _*)
      val cm = gc.select(gcols :+ col(c) :+
        sum(col("kk")).over(wc).as("cum") :+
        sum(col("kk")).over(wn).as("n"): _*)
      (if (grp.isEmpty) cm.groupBy() else cm.groupBy(gcols: _*))
        .agg(min(when(col("cum") * 2 >= col("n"), col(c))).as(out))
    }
    val sm = lowerMedian(v, Some("dow"), "y", "expected")
    val r = v.join(sm, "dow")
      .select(col("d"), col("y"), col("expected"),
        (col("y") - col("expected")).as("resid"))
      .localCheckpoint()
    val medr = lowerMedian(r, None, "resid", "medr")
    val rd = r.crossJoin(broadcast(medr))
      .withColumn("dev", abs(col("resid") - col("medr")))
      .localCheckpoint()
    val mad = lowerMedian(rd.select(col("dev").as("dv")), None, "dv", "mad")
    rd.crossJoin(broadcast(mad))
      .filter(col("dev") > lit(k.toLong) * col("mad"))
      .select(col("d"), col("y"), col("expected"), col("resid"))
      .orderBy(col("d"))
  }

  /** Daily-revenue anomaly days, weekday-adjusted — which days were
    * abnormal FOR THEIR WEEKDAY (83 of ~2400 days at the gate SF).
    */
  private val qSeasonalAnomaly = GraftQuery(
    "qstat_seasonal_anomaly",
    (s, dir) => seasonalMedianAnomaly(
      Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y")),
      "d", "y"),
    Some("""WITH dly AS (SELECT o_orderdate AS d,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1),
    w AS (SELECT d, y, isodow(d) - 1 AS dow FROM dly),
    gc AS (SELECT dow, y, COUNT(*) AS k FROM w GROUP BY dow, y),
    c1 AS (SELECT dow, y, SUM(k) OVER (PARTITION BY dow ORDER BY y
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER (PARTITION BY dow) AS n FROM gc),
    sm AS (SELECT dow, MIN(CASE WHEN cum * 2 >= n THEN y END) AS expected
      FROM c1 GROUP BY dow),
    r AS (SELECT w.d, w.y, sm.expected, w.y - sm.expected AS resid
      FROM w JOIN sm USING (dow)),
    rc AS (SELECT resid, COUNT(*) AS k FROM r GROUP BY resid),
    c2 AS (SELECT resid, SUM(k) OVER (ORDER BY resid
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER () AS n FROM rc),
    mr AS (SELECT MIN(CASE WHEN cum * 2 >= n THEN resid END) AS medr FROM c2),
    rd AS (SELECT r.*, abs(r.resid - mr.medr) AS dev FROM r, mr),
    dc AS (SELECT dev, COUNT(*) AS k FROM rd GROUP BY dev),
    c3 AS (SELECT dev, SUM(k) OVER (ORDER BY dev
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(k) OVER () AS n FROM dc),
    md AS (SELECT MIN(CASE WHEN cum * 2 >= n THEN dev END) AS mad FROM c3)
    SELECT d, CAST(y AS BIGINT) AS y, CAST(expected AS BIGINT) AS expected,
      CAST(resid AS BIGINT) AS resid
    FROM rd, md WHERE dev > 3 * mad ORDER BY d"""))

  // ------------------------------------------- Ansari–Bradley scale test
  /** Ansari–Bradley two-sample SCALE test — do the samples differ in
    * SPREAD around a common center, the rank-family companion closing
    * the triple: location ([[mannWhitney]]), whole-curve ([[ksTest]]/
    * CvM), scale (this). Scores fold ranks from both ends, s(j) =
    * min(j, N+1−j): extreme values (either tail) get LOW scores, so a
    * low sample-1 score sum says sample 1 is the more dispersed one.
    *
    * Tie handling is the textbook mid-score average: tied items share
    * the MEAN of the positional scores their rank range occupies —
    * computed in closed form per value group from the pooled exclusive
    * count c and group size k as S_g = sumTo(c+k) − sumTo(c), where
    * sumTo(x) = Σ_{j≤x} min(j, N+1−j) is two arithmetic series split at
    * the fold h = ⌊N/2⌋. One value-collapsed [[Scans.rangedCumSum]]
    * pass (the MWU scan), then per-group rational terms composed by
    * floored division (k1·S/k for the statistic, S²/k for the tie-
    * exact variance's Σs² — Hollander–Wolfe form); z² pre-squared
    * against the χ²₁ critical in milli. DECIMAL(38,0) headroom to
    * N ≈ 10⁶ per binding group (documented, loud beyond via null).
    *
    * Output (1 row): (n1, n2, c_units, z2_milli, reject_05) — c_units
    * the (floored) sample-1 score sum.
    */
  def ansariBradley(vals: DataFrame, valueCol: String, isFirst: Column,
      criticalMilli: Long = 3841L): DataFrame = {
    val g = vals
      .select(col(valueCol).as("v"), isFirst.cast("int").as("one"))
      .filter(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(col("one")).as("k1"), sum(lit(1) - col("one")).as("k2"))
    val tot = g.agg(sum(col("k1")).as("tn1"), sum(col("k2")).as("tn2"))
      .localCheckpoint()
    // sumTo(x) = Σ_{j=1..x} min(j, N+1-j): x ≤ h rising series, beyond
    // the fold a falling one; x(x+1) is even so the div is exact
    def sumTo(x: String) =
      s"""CASE WHEN $x <= hh THEN ($x * ($x + 1)) div 2
        ELSE hh * (hh + 1) + ff * ($x - hh) - ($x * ($x + 1)) div 2 END"""
    Scans.rangedCumSum(g, "v", col("k1") + col("k2"), "ci")
      .crossJoin(broadcast(tot))
      .withColumn("nn", col("tn1") + col("tn2"))
      .withColumn("hh", expr("nn div 2"))
      .withColumn("ff", col("nn") + 1)
      .withColumn("k", col("k1") + col("k2"))
      .withColumn("c", col("ci") - col("k"))
      .withColumn("a1", col("c") + col("k"))
      .withColumn("sg", expr(sumTo("a1")) - expr(sumTo("c")))
      .agg(max(col("tn1")).as("n1"), max(col("tn2")).as("n2"),
        max(col("nn")).as("nn"),
        sum(expr("(k1 * sg) div k")).as("cu"),
        sum(col("sg")).as("ss"),
        sum(expr("(cast(sg as decimal(38,0)) * sg) div k")).as("ssq"))
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        col("cu").cast("long").as("c_units"),
        expr("""CAST((1000 * (cast(cu as decimal(38,0))
            - (cast(n1 as decimal(38,0)) * ss) div nn)
            * (cast(cu as decimal(38,0))
            - (cast(n1 as decimal(38,0)) * ss) div nn)
            * nn * nn * (nn - 1))
          div nullif(cast(n1 as decimal(38,0)) * n2
            * (cast(nn as decimal(38,0)) * ssq
              - cast(ss as decimal(38,0)) * ss),
            cast(0 as decimal(38,0))) AS BIGINT)""").as("z2_milli"))
      .withColumn("reject_05", col("z2_milli") > criticalMilli)
  }

  /** Purchase vs view spreads (the qstat_brunner_munzel pairing read
    * for SCALE): same center or not, are purchase values more
    * dispersed than view values in rank terms.
    */
  private val qAnsari = GraftQuery(
    "qstat_ansari_bradley",
    (s, dir) => ansariBradley(
      Tables.events(s, dir).filter(col("event_type").isin("purchase", "view"))
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type").as("t")),
      "cents", col("t") === "purchase"),
    Some("""WITH g AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k1,
        SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS k2
      FROM events WHERE event_type IN ('purchase', 'view')
        AND value IS NOT NULL GROUP BY 1),
    tot AS (SELECT SUM(k1) AS tn1, SUM(k2) AS tn2, SUM(k1) + SUM(k2) AS nn,
        (SUM(k1) + SUM(k2)) // 2 AS hh, SUM(k1) + SUM(k2) + 1 AS ff FROM g),
    cum AS (SELECT k1, k2, k1 + k2 AS k,
        COALESCE(SUM(k1 + k2) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM g),
    sg AS (SELECT k1, k2, k, c,
        (CASE WHEN c + k <= hh THEN ((c + k) * (c + k + 1)) // 2
          ELSE hh * (hh + 1) + ff * (c + k - hh)
            - ((c + k) * (c + k + 1)) // 2 END)
        - (CASE WHEN c <= hh THEN (c * (c + 1)) // 2
          ELSE hh * (hh + 1) + ff * (c - hh) - (c * (c + 1)) // 2 END) AS s
      FROM cum, tot),
    a AS (SELECT (SELECT tn1 FROM tot) AS n1, (SELECT tn2 FROM tot) AS n2,
        (SELECT nn FROM tot) AS nn,
        SUM((k1 * s) // k) AS cu, CAST(SUM(s) AS HUGEINT) AS ss,
        SUM((CAST(s AS HUGEINT) * s) // k) AS ssq
      FROM sg)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      CAST(cu AS BIGINT) AS c_units,
      CAST((1000 * (CAST(cu AS HUGEINT) - (CAST(n1 AS HUGEINT) * ss) // nn)
          * (CAST(cu AS HUGEINT) - (CAST(n1 AS HUGEINT) * ss) // nn)
          * nn * nn * (nn - 1))
        // NULLIF(CAST(n1 AS HUGEINT) * n2
          * (CAST(nn AS HUGEINT) * ssq - ss * ss), 0) AS BIGINT) AS z2_milli,
      (1000 * (CAST(cu AS HUGEINT) - (CAST(n1 AS HUGEINT) * ss) // nn)
          * (CAST(cu AS HUGEINT) - (CAST(n1 AS HUGEINT) * ss) // nn)
          * nn * nn * (nn - 1))
        // NULLIF(CAST(n1 AS HUGEINT) * n2
          * (CAST(nn AS HUGEINT) * ssq - ss * ss), 0) > 3841 AS reject_05
    FROM a"""))

  // --------------------------- binary-segmentation changepoints
  /** Hierarchical MULTI-changepoint detection by binary segmentation
    * (Scott & Knott 1974 lineage; the standard first tool before PELT):
    * recursively split each segment at the point maximizing the
    * between-group sum of squares, accept a split only when it explains
    * ≥ tauMilli/1000 of the segment's variance and both sides keep
    * ≥ minSeg points. Complements qstat_pettitt (ONE rank-based shift)
    * and qe_cusum_alerts (per-entity drift): this finds the global
    * piecewise-constant structure — several regime changes, not one.
    *
    * Exact integer arithmetic throughout: with prefix sum S_t over the
    * segment, A_t = n·S_t − t·S, between-SS share at t is
    * A_t²/(t(n−t)·Q) with Q = n·Σy² − S² (n²·variance) — the score is
    * the cross-multiplied milli ratio (A²·1000 div (t(n−t)Q)), so
    * argmax and the acceptance test are partition-independent and
    * engine-identical. Q = 0 (constant segment) never splits.
    *
    * Shape: the [[ProfileOps.mondrianAnonymize]] recursion pattern on
    * the TIME axis — per level one segment-keyed stats agg, one
    * per-segment running sum (window partitions bounded by the time
    * domain, constant in corpus size), and a broadcast ≤ 2^depth-row
    * split plan. Output: final segments (seg, d_from, d_to, n_days,
    * total_cents), ordered.
    *
    * `dayCol` must be UNIQUE per row (a strict total order): duplicate
    * keys would make the per-segment row_number — and therefore the
    * split point — partition/engine-dependent. Asserted loudly inside
    * the level-1 window (one lag comparison per row, no extra action);
    * pre-aggregate to the day grain first, as the qstat_binseg binding
    * does.
    */
  def binarySegmentation(days: DataFrame, dayCol: String, valCol: String,
      depth: Int = 3, minSeg: Int = 5, tauMilli: Int = 20): DataFrame = {
    require(depth >= 1 && minSeg >= 1 && tauMilli >= 0,
      s"bad params: depth=$depth minSeg=$minSeg tau=$tauMilli")
    var st = Scans.rebase(days.select(col(dayCol).as("d"),
        col(valCol).cast("bigint").as("y"))
      .withColumn("seg", lit(1L)).withColumn("done", lit(false)), 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col("d"))
    for (_ <- 1 to depth) {
      val act = st.filter(!col("done"))
      val stats = act.groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
          (dec(count(lit(1))) * sum(dec(col("y")) * dec(col("y")))
            - dec(sum(col("y"))) * dec(sum(col("y")))).as("q"))
      val pref = act
        .withColumn("t", when(assert_true(
          coalesce(lag(col("d"), 1).over(w) =!= col("d"), lit(true)),
          lit("binarySegmentation: dayCol must be unique per row — " +
            "pre-aggregate to the day grain first")).isNull,
          row_number().over(w)))
        .withColumn("sl", sum(col("y")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      val plan = pref.join(broadcast(stats), "seg")
        .filter(col("t") >= minSeg && col("t") <= col("n") - minSeg &&
          col("q") > 0)
        .withColumn("a", dec(col("n")) * dec(col("sl"))
          - dec(col("t")) * dec(col("s")))
        .withColumn("score", expr(
          "(a * a * 1000) div (cast(t as decimal(38,0)) * (n - t) * q)"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("seg"))
            .orderBy(col("score").desc, col("t"))))
        .filter(col("rn") === 1 && col("score") >= tauMilli)
        .select(col("seg"), col("t").as("tstar"))
      val prev = st
      st = Scans.rebase(
        pref.select(col("d"), col("y"), col("seg"), col("done"), col("t"))
          .unionByName(st.filter(col("done")).withColumn("t", lit(0)))
          .join(broadcast(plan), Seq("seg"), "left")
          .select(col("d"), col("y"),
            when(!col("done") && col("tstar").isNotNull,
              col("seg") * 2 + when(col("t") > col("tstar"), 1L)
                .otherwise(0L))
              .otherwise(col("seg")).as("seg"),
            (col("done") || col("tstar").isNull).as("done")), 8)
      prev.unpersist(blocking = false)
    }
    st.groupBy(col("seg"))
      .agg(min(col("d")).as("d_from"), max(col("d")).as("d_to"),
        count(lit(1)).as("n_days"), sum(col("y")).as("total_cents"))
      .orderBy(col("d_from"))
  }

  private val BinsegDepth = 3
  private val BinsegMinSeg = 5
  private val BinsegTau = 20

  private def binsegRoundSql(r: Int): String = {
    val p = r - 1
    s"""stats$r AS MATERIALIZED (SELECT seg, COUNT(*) AS n, SUM(y) AS s,
        CAST(COUNT(*) AS HUGEINT) * SUM(CAST(y AS HUGEINT) * y)
          - CAST(SUM(y) AS HUGEINT) * SUM(y) AS q
      FROM st$p WHERE NOT done GROUP BY seg),
    pref$r AS MATERIALIZED (SELECT d, y, seg, done,
        ROW_NUMBER() OVER (PARTITION BY seg ORDER BY d) AS t,
        SUM(y) OVER (PARTITION BY seg ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl
      FROM st$p WHERE NOT done),
    plan$r AS MATERIALIZED (SELECT seg, t AS tstar FROM (
      SELECT p.seg, p.t,
          ROW_NUMBER() OVER (PARTITION BY p.seg ORDER BY
            (CAST(s.n AS HUGEINT) * p.sl - CAST(p.t AS HUGEINT) * s.s)
            * (CAST(s.n AS HUGEINT) * p.sl - CAST(p.t AS HUGEINT) * s.s)
            * 1000 // (CAST(p.t AS HUGEINT) * (s.n - p.t) * s.q) DESC,
            p.t) AS rn,
          (CAST(s.n AS HUGEINT) * p.sl - CAST(p.t AS HUGEINT) * s.s)
            * (CAST(s.n AS HUGEINT) * p.sl - CAST(p.t AS HUGEINT) * s.s)
            * 1000 // (CAST(p.t AS HUGEINT) * (s.n - p.t) * s.q) AS score
        FROM pref$r p JOIN stats$r s USING (seg)
        WHERE p.t >= $BinsegMinSeg AND p.t <= s.n - $BinsegMinSeg
          AND s.q > 0)
      WHERE rn = 1 AND score >= $BinsegTau),
    st$r AS MATERIALIZED (SELECT b.d, b.y,
        CASE WHEN NOT b.done AND pl.tstar IS NOT NULL
          THEN b.seg * 2 + (CASE WHEN b.t > pl.tstar THEN 1 ELSE 0 END)
          ELSE b.seg END AS seg,
        (b.done OR pl.tstar IS NULL) AS done
      FROM (SELECT d, y, seg, done, t FROM pref$r
        UNION ALL SELECT d, y, seg, done, 0 AS t FROM st$p WHERE done) b
      LEFT JOIN plan$r pl USING (seg))"""
  }

  private val binsegSql = {
    val rounds = (1 to BinsegDepth).map(binsegRoundSql).mkString(",\n    ")
    s"""WITH st0 AS MATERIALIZED (SELECT CAST(ts AS DATE) AS d,
        SUM(CAST(round(value * 100) AS BIGINT)) AS y,
        CAST(1 AS BIGINT) AS seg, FALSE AS done
      FROM events GROUP BY 1),
    $rounds
    SELECT CAST(seg AS BIGINT) AS seg, MIN(d) AS d_from, MAX(d) AS d_to,
      CAST(COUNT(*) AS BIGINT) AS n_days,
      CAST(SUM(y) AS BIGINT) AS total_cents
    FROM st$BinsegDepth GROUP BY seg ORDER BY d_from"""
  }

  /** Regime changes in daily revenue: where did the level shift, and
    * into how many stable stretches does the month decompose.
    */
  private val qBinseg = GraftQuery(
    "qstat_binseg",
    (s, dir) => binarySegmentation(
      Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("d"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents")),
      "d", "cents", BinsegDepth, BinsegMinSeg, BinsegTau),
    Some(binsegSql))

  // --------------------- Benjamini–Hochberg FDR correction
  /** Benjamini–Hochberg step-up FDR correction over a FAMILY of
    * hypothesis tests — the multiple-testing control every per-entity
    * screening query needs once the family is corpus-scaled (millions
    * of users/documents each tested for anomaly): reject the k* lowest
    * p-values where k* = max{k : p₍k₎ ≤ k·α/m}.
    *
    * Takes (id, p_micro) — p-values as integer micro-units, the module's
    * fixed-point convention, so the step-up comparison
    * p_micro·m ≤ rank·α_micro is ALL-INTEGER exact (no float thresholds).
    * Ranking the corpus-scaled family uses [[Scans.globalRank]] (range
    * exchange + broadcast offsets — no single-partition window); k* is a
    * 1-row aggregate broadcast back. BH's step-up property (reject ALL
    * ranks ≤ k*, even those above their own line) is preserved.
    *
    * Output: input columns + p_rank (1-based ascending p, id tie-break)
    * + q_value_micro + rejected. q_value_micro is the BH-ADJUSTED
    * p-value users actually report — q₍k₎ = min_{j≥k} min(1, m·p₍j₎/j),
    * a suffix running-min over the ranked family, computed DISTRIBUTED
    * via [[Scans.rangedRunningMin]] on rank descending (never a
    * single-partition window). Floor convention: each term is
    * ⌊m·p_micro/j⌋ capped at 10⁶, so rejection implies
    * q_value_micro ≤ α_micro (the converse can differ only in the
    * sub-micro remainder; `rejected` stays the EXACT all-integer
    * step-up comparison).
    */
  def bhFdr(tests: DataFrame, idCol: String, pMicroCol: String,
      alphaMicro: Long): DataFrame = {
    require(alphaMicro > 0L && alphaMicro <= 1000000L,
      s"alphaMicro must be in (0, 1e6], got $alphaMicro")
    // ONE ranked exchange: globalRank checkpoints its range-exchanged
    // frame INTERNALLY (pinning shuffle + partition placement), so the
    // three consumers here (family count, k* aggregate, output) only
    // re-run the cheap broadcast-offset join + per-partition window on
    // top of pinned blocks. A second localCheckpoint here would
    // materialize the corpus-sized ranked family twice per run —
    // rangedRunningMin checkpoints again internally (r12 ADVICE)
    val ranked = Scans.globalRank(tests,
      Seq(col(pMicroCol), col(idCol)), "p_rank")
    val m = ranked.agg(count(lit(1)).as("_m"))
    val withM = ranked.crossJoin(broadcast(m))
    val kstar = withM
      .agg(max(when(col(pMicroCol) * col("_m") <= col("p_rank") * alphaMicro,
        col("p_rank"))).as("_kstar"))
    Scans.rangedRunningMin(withM, Seq(col("p_rank").desc),
        least(lit(1000000L), expr(s"($pMicroCol * _m) div p_rank")),
        "q_value_micro")
      .crossJoin(broadcast(kstar))
      .withColumn("rejected", col("p_rank") <= coalesce(col("_kstar"), lit(0L)))
      .drop("_m", "_kstar")
  }

  /** qstat_bh_fdr binding: per-user spend-anomaly screening. Each user's
    * mean event value is tested against the global mean with an EXACT
    * Chebyshev-bound p-value — p = min(1, 1/z²) where
    * z² = n·(mean_u − mean)²/σ², kept rational end-to-end:
    *
    *   z² = (N·S_u − n_u·S)² / (n_u·(N·Q − S²))      (cents: S=Σc, Q=Σc²)
    *
    * so p_micro = ⌊10⁶·num/den⌋ is one DECIMAL(38,0) integer division —
    * no erf/exp (the qstat_kde lesson: transcendentals drift across
    * engines). Chebyshev is conservative but exactly valid under ANY
    * value distribution. On this synthetic corpus the global null is
    * TRUE (users share one value distribution), so zero rejections is
    * the CORRECT BH outcome — the rejection path is proven on planted
    * outliers in OpsApiSpec.
    *
    * Scale shape: one user-key agg, one 1-row global-moment agg
    * broadcast back, then [[bhFdr]]'s ranked exchange — no all-pairs,
    * no global window.
    */
  private val BhAlphaMicro = 50000L

  private val qBhFdr = GraftQuery(
    "qstat_bh_fdr",
    (s, dir) => {
      val cents = Tables.events(s, dir)
        .select(col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      // ONE events scan (r16, guide §2.3): the global moments are exact
      // sums of the per-user moments (LONG/DECIMAL addition is
      // associative), so carrying Σc² per user lets the 1-row global
      // frame aggregate the small checkpointed per-user frame instead of
      // re-scanning the corpus. The checkpoint is per-query-lifetime,
      // inside the timed region; without it the broadcast build would
      // recompute the corpus scan and nothing is saved.
      val per = Scans.rebase(cents.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(dec(col("c")) * dec(col("c"))).as("q")), 8)
      val glob = per.agg(sum(col("n")).as("_nn"), sum(col("s")).as("_ss"),
        sum(col("q")).as("_qq"))
      val tests = per.crossJoin(broadcast(glob))
        .withColumn("_num", dec(col("n")) *
          (dec(col("_nn")) * col("_qq") - dec(col("_ss")) * dec(col("_ss"))))
        .withColumn("_dev", dec(col("_nn")) * dec(col("s")) -
          dec(col("n")) * dec(col("_ss")))
        .withColumn("_den", col("_dev") * col("_dev"))
        .withColumn("p_micro",
          when(col("_den") === 0 || col("_num") >= col("_den"), lit(1000000L))
            .otherwise(expr("CAST((_num * 1000000) DIV _den AS BIGINT)")))
        .select(col("user_id"), col("n"), col("p_micro"))
      bhFdr(tests, "user_id", "p_micro", BhAlphaMicro)
        .select(col("user_id"), col("n"), col("p_micro"), col("p_rank"),
          col("q_value_micro"), col("rejected"))
        .orderBy(col("p_rank"))
    },
    Some(s"""WITH cts AS (SELECT user_id,
        CAST(round(value * 100) AS BIGINT) AS c FROM events),
      per AS (SELECT user_id, COUNT(*) AS n, SUM(c) AS s
        FROM cts GROUP BY user_id),
      g AS (SELECT COUNT(*) AS nn, SUM(c) AS ss,
        SUM(CAST(c AS HUGEINT) * c) AS qq FROM cts),
      z AS (SELECT user_id, n,
        CAST(n AS HUGEINT) * (CAST(nn AS HUGEINT) * qq
          - CAST(ss AS HUGEINT) * ss) AS num,
        (CAST(nn AS HUGEINT) * s - CAST(n AS HUGEINT) * ss)
          * (CAST(nn AS HUGEINT) * s - CAST(n AS HUGEINT) * ss) AS den
        FROM per, g),
      p AS (SELECT user_id, n,
        CASE WHEN den = 0 OR num >= den THEN 1000000
          ELSE CAST(num * 1000000 // den AS BIGINT) END AS p_micro FROM z),
      r AS (SELECT user_id, n, p_micro,
        ROW_NUMBER() OVER (ORDER BY p_micro, user_id) AS p_rank FROM p),
      mm AS (SELECT COUNT(*) AS m FROM p),
      k AS (SELECT MAX(CASE WHEN p_micro * m <= p_rank * $BhAlphaMicro
          THEN p_rank END) AS kstar FROM r, mm),
      qv AS (SELECT r.*, CAST(MIN(LEAST(1000000, p_micro * m // p_rank))
          OVER (ORDER BY p_rank DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS q_value_micro
        FROM r, mm)
      SELECT user_id, n, p_micro, p_rank, q_value_micro,
        p_rank <= COALESCE(kstar, 0) AS rejected
      FROM qv, k ORDER BY p_rank"""))

  // ------------------------------- CUPED variance reduction (A/B tier)
  /** CUPED covariate adjustment (Deng, Xu, Kohavi & Walker, WSDM 2013 —
    * the industry-standard A/B variance-reduction technique): replace
    * each unit's post-period metric y with y′ = y − θ·(x − x̄), where x
    * is the PRE-period covariate and θ = Cov(x,y)/Var(x); the adjusted
    * means preserve the treatment effect while shrinking variance by
    * the squared x↔y correlation.
    *
    * Exact-arithmetic discipline: θ is the integer ratio
    * (N·Sxy − Sx·Sy)·10⁶ div (N·Sxx − Sx²) over the six global moments
    * (N, Sx, Sy, Sxx, Sxy, Syy), and everything else EXPANDS
    * ALGEBRAICALLY from those moments plus per-variant (n_v, Sx_v,
    * Sy_v) — the adjusted lattice values a = 10⁶·N·y − θμ·(N·x − Sx)
    * are never materialized per row, because Σa = 10⁶·N·Sy_v exactly
    * (the adjustment is mean-preserving) and
    * Σa² = 10¹²N²·Syy − 2·10⁶N·θμ·covnum + θμ²·varnum collapses the
    * variance-kept ratio to
    * (10⁶·vary − 2·θμ·covnum + θμ²·varnum div 10⁶) div vary. Overflow
    * headroom: Cauchy–Schwarz bounds every product by ~10¹²·vary, so
    * DECIMAL(38,0) holds to vary ≈ 10²⁶ — N·y_max² ≈ 10²⁶ corpus
    * cents², ~12 orders past the per-row-Σa² formulation this replaced
    * (which silently nulled around N ≈ 10⁵ cent-scale users).
    *
    * Scale shape: ONE unit-key aggregation and two 1-row/`per-variant`
    * moment aggregates — no second pass over units, no window, no pair
    * join, nothing corpus-scaled on a single partition.
    *
    * On this synthetic corpus x and y are nearly independent (per-user
    * activity is homogeneous), so θ ≈ 0 and var_keep ≈ 10⁶ is the
    * CORRECT null outcome; OpsApiSpec plants a correlated family where
    * CUPED cuts variance by ~4× and preserves the planted lift.
    *
    * Input: one row per unit — (idCol, variantCol, xCol, yCol), x/y
    * integer (cents). Output: one row per variant — (variant, users,
    * mean_y_micro, mean_adj_micro) plus the pooled (theta_micro,
    * var_keep_micro) constants on every row.
    */
  def cuped(units: DataFrame, idCol: String, variantCol: String,
      xCol: String, yCol: String): DataFrame = {
    val per = units.select(col(idCol).as("_id"),
      col(variantCol).as("variant"),
      col(xCol).cast("bigint").as("_x"), col(yCol).cast("bigint").as("_y"))
    val g = per.agg(count(lit(1)).as("_nu"),
      coalesce(sum(col("_x")), lit(0L)).as("_sx"),
      coalesce(sum(col("_y")), lit(0L)).as("_sy"),
      coalesce(sum(dec(col("_x")) * dec(col("_x"))), lit(0L).cast("decimal(38,0)")).as("_sxx"),
      coalesce(sum(dec(col("_x")) * dec(col("_y"))), lit(0L).cast("decimal(38,0)")).as("_sxy"),
      coalesce(sum(dec(col("_y")) * dec(col("_y"))), lit(0L).cast("decimal(38,0)")).as("_syy"))
      .withColumn("_covnum",
        expr("_nu * _sxy - CAST(_sx AS DECIMAL(38,0)) * _sy"))
      .withColumn("_varnum",
        expr("_nu * _sxx - CAST(_sx AS DECIMAL(38,0)) * _sx"))
      .withColumn("_vary",
        expr("_nu * _syy - CAST(_sy AS DECIMAL(38,0)) * _sy"))
      .withColumn("theta_micro", expr("""CASE
        WHEN _varnum = 0 THEN CAST(0 AS BIGINT)
        ELSE (_covnum * 1000000) DIV _varnum END"""))
      .withColumn("var_keep_micro", expr("""CASE
        WHEN _vary = 0 THEN CAST(1000000 AS BIGINT)
        ELSE greatest(CAST(0 AS BIGINT),
          (1000000 * _vary - 2 * theta_micro * _covnum
            + (theta_micro * theta_micro * _varnum) DIV 1000000)
          DIV _vary) END"""))
    per.groupBy(col("variant"))
      .agg(count(lit(1)).as("users"),
        coalesce(sum(col("_x")), lit(0L)).as("_sxv"),
        coalesce(sum(col("_y")), lit(0L)).as("_syv"))
      .crossJoin(broadcast(g.select(col("_nu"), col("_sx"),
        col("theta_micro"), col("var_keep_micro"))))
      .select(col("variant"), col("users"),
        expr("(1000000 * CAST(_syv AS DECIMAL(38,0))) DIV users").as("mean_y_micro"),
        expr("""(1000000 * CAST(_nu AS DECIMAL(38,0)) * _syv
          - theta_micro * (CAST(_nu AS DECIMAL(38,0)) * _sxv
            - users * CAST(_sx AS DECIMAL(38,0))))
          DIV (users * _nu)""").as("mean_adj_micro"),
        col("theta_micro"), col("var_keep_micro"))
      .orderBy(col("variant"))
  }

  private val qCuped = GraftQuery(
    "qstat_cuped",
    (s, dir) => {
      // pre-period covariate: spend in Jan 1-15; post metric: Jan 16-30;
      // synthetic variant assignment by user parity
      val per = Tables.events(s, dir)
        .select(col("user_id"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("ts") < lit("2024-01-16").cast("timestamp"), col("c"))
          .otherwise(lit(0L))).as("x"),
          sum(when(col("ts") >= lit("2024-01-16").cast("timestamp"), col("c"))
            .otherwise(lit(0L))).as("y"))
        .withColumn("variant", col("user_id") % 2)
      cuped(per, "user_id", "variant", "x", "y")
    },
    Some("""WITH per AS (SELECT user_id, user_id % 2 AS variant,
        SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
          THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
        SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
          THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
      FROM events GROUP BY user_id),
    g AS (SELECT COUNT(*) AS nu, SUM(x) AS sx, SUM(y) AS sy,
        SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(x AS HUGEINT) * y) AS sxy,
        SUM(CAST(y AS HUGEINT) * y) AS syy FROM per),
    d AS (SELECT nu, sx,
        nu * sxy - CAST(sx AS HUGEINT) * sy AS covnum,
        nu * sxx - CAST(sx AS HUGEINT) * sx AS varnum,
        nu * syy - CAST(sy AS HUGEINT) * sy AS vary FROM g),
    t AS (SELECT nu, sx, covnum, varnum, vary,
        CASE WHEN varnum = 0 THEN 0
          ELSE (covnum * 1000000) // varnum END AS theta_micro FROM d),
    k AS (SELECT nu, sx, theta_micro,
        CASE WHEN vary = 0 THEN 1000000
          ELSE greatest(0,
            (1000000 * vary - 2 * theta_micro * covnum
              + (theta_micro * theta_micro * varnum) // 1000000) // vary)
        END AS var_keep_micro FROM t)
    SELECT variant, COUNT(*) AS users,
      CAST((1000000 * SUM(y)) // COUNT(*) AS BIGINT) AS mean_y_micro,
      CAST((1000000 * CAST(nu AS HUGEINT) * SUM(y)
          - theta_micro * (CAST(nu AS HUGEINT) * SUM(x)
            - COUNT(*) * CAST(sx AS HUGEINT)))
        // (COUNT(*) * nu) AS BIGINT) AS mean_adj_micro,
      CAST(theta_micro AS BIGINT) AS theta_micro,
      CAST(var_keep_micro AS BIGINT) AS var_keep_micro
    FROM per, k
    GROUP BY variant, nu, sx, theta_micro, var_keep_micro
    ORDER BY variant"""))

  // --------------------- delta-method ratio metrics (A/B tier)
  /** Per-variant RATIO metric with its delta-method standard error —
    * the canonical A/B-testing pitfall (Deng et al., KDD 2018 "Applying
    * the Delta Method in Metric Analytics"): for a metric like
    * clicks/views the unit of ANALYSIS (user) differs from the unit of
    * the metric (event), so the naive binomial SE on pooled events is
    * wrong; the right variance treats each user's (x_i, y_i) as one
    * observation of the ratio R̂ = ΣY/ΣX,
    *
    *   Var(R̂)/R̂² = n·Σ(y_i·Sx − Sy·x_i)² / ((n−1)·Sx²·Sy²).
    *
    * Same moment-expansion discipline as [[cuped]]: the quadratic form
    * expands to Sx²·Syy − 2·Sx·Sy·Sxy + Sy²·Sxx, so the whole statistic
    * is integer arithmetic on six per-variant moments — one unit-key
    * aggregation, one per-variant 1-row aggregate, nothing per-row
    * downstream and nothing corpus-scaled on one partition. Emitted as
    * rel_se2_nano (relative variance ×10⁹; relative → comparable across
    * variants whose ratios differ). Constant-ratio data (y = c·x) gives
    * exactly 0.
    *
    * Input: one row per unit — (variantCol, xCol = denominator,
    * yCol = numerator), integers. Output: one row per variant —
    * (variant, users, num_sum, den_sum, ratio_micro, rel_se2_nano).
    */
  def ratioMetricDelta(units: DataFrame, variantCol: String,
      xCol: String, yCol: String): DataFrame =
    units.select(col(variantCol).as("variant"),
        col(xCol).cast("bigint").as("_x"), col(yCol).cast("bigint").as("_y"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("users"),
        coalesce(sum(col("_x")), lit(0L)).as("_sx"),
        coalesce(sum(col("_y")), lit(0L)).as("_sy"),
        coalesce(sum(dec(col("_x")) * dec(col("_x"))), lit(0L).cast("decimal(38,0)")).as("_sxx"),
        coalesce(sum(dec(col("_x")) * dec(col("_y"))), lit(0L).cast("decimal(38,0)")).as("_sxy"),
        coalesce(sum(dec(col("_y")) * dec(col("_y"))), lit(0L).cast("decimal(38,0)")).as("_syy"))
      .withColumn("_num", expr("""CAST(_sx AS DECIMAL(38,0)) * _sx * _syy
        - 2 * CAST(_sx AS DECIMAL(38,0)) * _sy * _sxy
        + CAST(_sy AS DECIMAL(38,0)) * _sy * _sxx"""))
      .select(col("variant"), col("users"),
        col("_sy").as("num_sum"), col("_sx").as("den_sum"),
        expr("""CASE WHEN _sx = 0 THEN CAST(0 AS BIGINT)
          ELSE (1000000 * CAST(_sy AS DECIMAL(38,0))) DIV _sx END""").as("ratio_micro"),
        // STAGED division (r12, mirrored in the oracle): divide the
        // nano-scaled quadratic form by Sx² first (an EXACT decimal
        // floor — subtract the pmod remainder so the decimal division
        // has none; the result would overflow a long whenever Sy is
        // large, since _q = rel·(n−1)·Sy²/n), then apply the n/(n−1)
        // factor against Sy². Headroom, both stages in DECIMAL:
        // stage 1 needs _num·10⁹ ≤ 10³⁸ (vs the single-floor form's
        // users·_num·10⁹ — a factor-of-users gain; by Cauchy–Schwarz
        // _num ≤ 4n³V⁴, so n³V⁴ ≤ 2.5·10²⁸ at per-user values ≤ V);
        // stage 2 needs users·_q ≈ rel_se2_nano·(n−1)·Sy² ≤ 10³²
        // (the decimal(38,6) quotient's integer headroom) — any
        // meaningful readout (rel ≤ 10⁹ nano) holds to Sy ≈ 3·10¹¹.
        // Composed floors shift the result by < n/((n−1)·Sy²) nano vs
        // the single-floor form — sub-unit once Sy > ~2.
        expr("""CASE WHEN users <= 1 OR _sx = 0 OR _sy = 0 THEN CAST(0 AS BIGINT)
          ELSE (users * ((_num * 1000000000
                - pmod(_num * 1000000000, CAST(_sx AS DECIMAL(38,0)) * _sx))
              / (CAST(_sx AS DECIMAL(38,0)) * _sx)))
            DIV ((users - 1) * CAST(_sy AS DECIMAL(38,0)) * _sy) END""").as("rel_se2_nano"))
      .orderBy(col("variant"))

  private val qRatioDelta = GraftQuery(
    "qstat_ratio_delta",
    (s, dir) => ratioMetricDelta(
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .withColumn("variant", col("user_id") % 2),
      "variant", "x", "y"),
    Some("""WITH per AS (SELECT user_id, user_id % 2 AS variant,
        SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id),
    g AS (SELECT variant, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        SUM(CAST(y AS HUGEINT) * y) AS syy FROM per GROUP BY variant),
    d AS (SELECT variant, n, sx, sy,
        CAST(sx AS HUGEINT) * sx * syy
          - 2 * CAST(sx AS HUGEINT) * sy * sxy
          + CAST(sy AS HUGEINT) * sy * sxx AS num FROM g)
    SELECT variant, n AS users,
      CAST(sy AS BIGINT) AS num_sum, CAST(sx AS BIGINT) AS den_sum,
      CAST(CASE WHEN sx = 0 THEN 0
        ELSE (1000000 * sy) // sx END AS BIGINT) AS ratio_micro,
      CAST(CASE WHEN n <= 1 OR sx = 0 OR sy = 0 THEN 0
        ELSE (n * ((num * 1000000000) // (CAST(sx AS HUGEINT) * sx)))
          // ((n - 1) * CAST(sy AS HUGEINT) * sy)
        END AS BIGINT) AS rel_se2_nano
    FROM d ORDER BY variant"""))

  // --------------------- sample-ratio-mismatch check (A/B tier)
  /** Sample-ratio mismatch — the experiment-health check every A/B
    * platform runs FIRST (Fabijan et al., ICSE-SEIP 2019: a biased
    * assignment invalidates every downstream metric): a chi-square
    * goodness-of-fit of the observed variant counts against the
    * designed 50/50 split. For two variants the statistic collapses to
    *
    *   χ² = (O₀ − O₁)² / N,
    *
    * so the α = 0.001 decision (SRM convention — the test must be very
    * sure before it kills an experiment) is the ALL-INTEGER comparison
    * (O₀−O₁)²·10⁶ > χ²₍₀.₀₀₁,1₎·N with the critical value pre-scaled
    * (10.827566 → 10827566 micro). One unit-key dedup + one 1-row
    * aggregate; nothing else.
    *
    * Output: ONE row — (users_a, users_b, chisq_micro, srm_detected).
    */
  private val SrmCritMicro = 10827566L   // χ²(0.001, df=1) · 10⁶

  def sampleRatioMismatch(units: DataFrame,
      variantCol: String): DataFrame =
    units.select(col(variantCol).as("_v"))
      .agg(sum(when(col("_v") === 0, 1L).otherwise(0L)).as("users_a"),
        sum(when(col("_v") =!= 0, 1L).otherwise(0L)).as("users_b"))
      // the squared-difference product rides DECIMAL(38,0) (the module
      // dec() discipline): in LongType, (users_a−users_b)²·10⁶ wraps
      // negative past ~3·10⁶ units of imbalance — the health gate would
      // PASS exactly the worst inputs (and diverge from the HUGEINT
      // oracle). Decimal keeps it exact to ~10¹⁵ users of imbalance.
      .select(col("users_a"), col("users_b"),
        expr("""CASE WHEN users_a + users_b = 0 THEN CAST(0 AS BIGINT)
          ELSE (CAST(users_a - users_b AS DECIMAL(38,0))
              * (users_a - users_b) * 1000000)
            DIV (users_a + users_b) END""").as("chisq_micro"),
        expr(s"""CASE WHEN users_a + users_b = 0 THEN false
          ELSE CAST(users_a - users_b AS DECIMAL(38,0))
              * (users_a - users_b) * 1000000
            > CAST($SrmCritMicro AS DECIMAL(38,0)) * (users_a + users_b) END""")
          .as("srm_detected"))

  private val qSrm = GraftQuery(
    "qstat_srm",
    (s, dir) => sampleRatioMismatch(
      Tables.events(s, dir).select(col("user_id")).distinct()
        .withColumn("variant", col("user_id") % 2),
      "variant"),
    Some(s"""WITH u AS (SELECT DISTINCT user_id, user_id % 2 AS v FROM events),
      c AS (SELECT SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS users_a,
        SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS users_b FROM u)
      SELECT CAST(users_a AS BIGINT) AS users_a,
        CAST(users_b AS BIGINT) AS users_b,
        CAST(CASE WHEN users_a + users_b = 0 THEN 0
          ELSE ((users_a - users_b) * (users_a - users_b) * 1000000)
            // (users_a + users_b) END AS BIGINT) AS chisq_micro,
        CASE WHEN users_a + users_b = 0 THEN false
          ELSE (users_a - users_b) * (users_a - users_b) * 1000000
            > $SrmCritMicro * (users_a + users_b) END AS srm_detected
      FROM c"""))

  // --------------------- difference-in-differences (A/B tier)
  /** Difference-in-differences — the quasi-experimental 2×2 estimator
    * (Card & Krueger 1994 lineage) for launches WITHOUT randomized
    * assignment: with treatment group T/C observed pre/post, the effect
    * estimate is (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre), the
    * parallel-trends-adjusted lift.
    *
    * Exact arithmetic, composed-floors convention: each group delta is
    * ONE cross-multiplied micro floor
    * Δ_micro = ⌊10⁶·(S_post·n_pre − S_pre·n_post) / (n_post·n_pre)⌋ and
    * did_micro = ΔT_micro − ΔC_micro (two floors, error < 2 micro —
    * the single-floor form's 4-way denominator product would cap
    * headroom at n⁴·S instead of n²·S). DECIMAL(38,0) holds to
    * S·n ≤ 10³² — 10⁹ observations of 10⁹-cent values.
    *
    * Scale shape: ONE 4-cell aggregation over the observation frame;
    * everything else is 1-row arithmetic.
    *
    * Input: one row per unit-period observation — (treatCol ≠ 0 ⇒ T,
    * postCol ≠ 0 ⇒ post, valueCol integer). Output: one row with the
    * four cell (n, sum, mean_micro), both deltas, and did_micro.
    */
  def diffInDiff(obs: DataFrame, treatCol: String, postCol: String,
      valueCol: String): DataFrame =
    obs.select((col(treatCol) =!= 0).as("_t"), (col(postCol) =!= 0).as("_p"),
        col(valueCol).cast("bigint").as("_v"))
      .agg(
        sum(when(col("_t") && !col("_p"), 1L).otherwise(0L)).as("n_tpre"),
        coalesce(sum(when(col("_t") && !col("_p"), col("_v"))), lit(0L)).as("s_tpre"),
        sum(when(col("_t") && col("_p"), 1L).otherwise(0L)).as("n_tpost"),
        coalesce(sum(when(col("_t") && col("_p"), col("_v"))), lit(0L)).as("s_tpost"),
        sum(when(!col("_t") && !col("_p"), 1L).otherwise(0L)).as("n_cpre"),
        coalesce(sum(when(!col("_t") && !col("_p"), col("_v"))), lit(0L)).as("s_cpre"),
        sum(when(!col("_t") && col("_p"), 1L).otherwise(0L)).as("n_cpost"),
        coalesce(sum(when(!col("_t") && col("_p"), col("_v"))), lit(0L)).as("s_cpost"))
      .withColumn("mean_tpre_micro",
        expr("CASE WHEN n_tpre = 0 THEN CAST(0 AS BIGINT) ELSE (1000000 * CAST(s_tpre AS DECIMAL(38,0))) DIV n_tpre END"))
      .withColumn("mean_tpost_micro",
        expr("CASE WHEN n_tpost = 0 THEN CAST(0 AS BIGINT) ELSE (1000000 * CAST(s_tpost AS DECIMAL(38,0))) DIV n_tpost END"))
      .withColumn("mean_cpre_micro",
        expr("CASE WHEN n_cpre = 0 THEN CAST(0 AS BIGINT) ELSE (1000000 * CAST(s_cpre AS DECIMAL(38,0))) DIV n_cpre END"))
      .withColumn("mean_cpost_micro",
        expr("CASE WHEN n_cpost = 0 THEN CAST(0 AS BIGINT) ELSE (1000000 * CAST(s_cpost AS DECIMAL(38,0))) DIV n_cpost END"))
      .withColumn("delta_t_micro",
        expr("""CASE WHEN n_tpre = 0 OR n_tpost = 0 THEN CAST(0 AS BIGINT)
          ELSE (1000000 * (CAST(s_tpost AS DECIMAL(38,0)) * n_tpre
            - CAST(s_tpre AS DECIMAL(38,0)) * n_tpost))
            DIV (CAST(n_tpost AS DECIMAL(38,0)) * n_tpre) END"""))
      .withColumn("delta_c_micro",
        expr("""CASE WHEN n_cpre = 0 OR n_cpost = 0 THEN CAST(0 AS BIGINT)
          ELSE (1000000 * (CAST(s_cpost AS DECIMAL(38,0)) * n_cpre
            - CAST(s_cpre AS DECIMAL(38,0)) * n_cpost))
            DIV (CAST(n_cpost AS DECIMAL(38,0)) * n_cpre) END"""))
      .withColumn("did_micro", col("delta_t_micro") - col("delta_c_micro"))

  /** DiD binding: treatment = odd user ids, post = second half of the
    * observed window (cutoff = midpoint of min/max event time, exact
    * epoch-second arithmetic mirrored in the oracle), value = event
    * cents. On this synthetic corpus assignment is id-parity and
    * behavior homogeneous, so did ≈ 0 is the correct null; the
    * discriminating path (planted treatment-post lift recovered while a
    * shared time trend cancels) is pinned in OpsApiSpec.
    */
  private val qDid = GraftQuery(
    "qstat_did",
    (s, dir) => {
      // unix_micros / epoch_us, the repo's time convention: DuckDB's
      // epoch() returns a FRACTIONAL DOUBLE and // on doubles does not
      // floor, so a whole-seconds cut would diverge by a sub-second
      // window around the midpoint (caught in the r12 review pass)
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      // integer halving, not double `/ 2` + cast: the double round-trip
      // is exact only while the micros sum stays under 2^53. DIV
      // truncates toward zero — which is what the oracle's DuckDB `//`
      // was MEASURED to do (-7//2 = -3, r14 ADVICE; the r13-era claim
      // that `//` floors was wrong), so DIV matches the oracle on every
      // sign, including a negative (pre-1970) micros sum where
      // shiftright's floor would diverge by 1µs on odd sums
      val cut = ev.agg(min(col("ts")).as("_mn"), max(col("ts")).as("_mx"))
        .select(expr("(unix_micros(_mn) + unix_micros(_mx)) DIV 2").as("_cut"))
      diffInDiff(
        ev.crossJoin(broadcast(cut))
          .select((col("user_id") % 2).as("treat"),
            (unix_micros(col("ts")) >= col("_cut")).cast("int").as("post"),
            col("c")),
        "treat", "post", "c")
    },
    Some("""WITH ev AS (SELECT user_id, ts,
        CAST(round(value * 100) AS BIGINT) AS c FROM events),
      cut AS (SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS cut_us
        FROM ev),
      o AS (SELECT user_id % 2 <> 0 AS t, epoch_us(ts) >= cut_us AS p, c
        FROM ev, cut),
      g AS (SELECT
        SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS n_tpre,
        COALESCE(SUM(CASE WHEN t AND NOT p THEN c END), 0) AS s_tpre,
        SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS n_tpost,
        COALESCE(SUM(CASE WHEN t AND p THEN c END), 0) AS s_tpost,
        SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS n_cpre,
        COALESCE(SUM(CASE WHEN NOT t AND NOT p THEN c END), 0) AS s_cpre,
        SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS n_cpost,
        COALESCE(SUM(CASE WHEN NOT t AND p THEN c END), 0) AS s_cpost
        FROM o),
      d AS (SELECT *,
        CASE WHEN n_tpre = 0 OR n_tpost = 0 THEN 0
          ELSE (1000000 * (CAST(s_tpost AS HUGEINT) * n_tpre
            - CAST(s_tpre AS HUGEINT) * n_tpost))
            // (CAST(n_tpost AS HUGEINT) * n_tpre) END AS dt,
        CASE WHEN n_cpre = 0 OR n_cpost = 0 THEN 0
          ELSE (1000000 * (CAST(s_cpost AS HUGEINT) * n_cpre
            - CAST(s_cpre AS HUGEINT) * n_cpost))
            // (CAST(n_cpost AS HUGEINT) * n_cpre) END AS dc
        FROM g)
      SELECT CAST(n_tpre AS BIGINT) AS n_tpre, CAST(s_tpre AS BIGINT) AS s_tpre,
        CAST(n_tpost AS BIGINT) AS n_tpost, CAST(s_tpost AS BIGINT) AS s_tpost,
        CAST(n_cpre AS BIGINT) AS n_cpre, CAST(s_cpre AS BIGINT) AS s_cpre,
        CAST(n_cpost AS BIGINT) AS n_cpost, CAST(s_cpost AS BIGINT) AS s_cpost,
        CAST(CASE WHEN n_tpre = 0 THEN 0 ELSE (1000000 * CAST(s_tpre AS HUGEINT)) // n_tpre END AS BIGINT) AS mean_tpre_micro,
        CAST(CASE WHEN n_tpost = 0 THEN 0 ELSE (1000000 * CAST(s_tpost AS HUGEINT)) // n_tpost END AS BIGINT) AS mean_tpost_micro,
        CAST(CASE WHEN n_cpre = 0 THEN 0 ELSE (1000000 * CAST(s_cpre AS HUGEINT)) // n_cpre END AS BIGINT) AS mean_cpre_micro,
        CAST(CASE WHEN n_cpost = 0 THEN 0 ELSE (1000000 * CAST(s_cpost AS HUGEINT)) // n_cpost END AS BIGINT) AS mean_cpost_micro,
        CAST(dt AS BIGINT) AS delta_t_micro, CAST(dc AS BIGINT) AS delta_c_micro,
        CAST(dt - dc AS BIGINT) AS did_micro
      FROM d"""))

  // --------------------- post-stratification (A/B tier)
  /** Post-stratified variant means — the weighting fix when variant
    * composition drifts across strata (the SRM sibling that CORRECTS
    * rather than alarms; classic survey-sampling estimator): each
    * variant's stratum means are re-weighted by the POOLED stratum
    * shares, ȳ_v^ps = Σ_s (N_s/N)·ȳ_{v,s}, so a variant that
    * over-sampled a high-value stratum stops inheriting the bias.
    *
    * Exact arithmetic, composed floors: each stratum term is one
    * cross-multiplied micro floor ⌊10⁶·N_s·S_{v,s} / (N·n_{v,s})⌋,
    * summed over the stratum domain (≤ |strata| terms, error
    * < |strata| micro). A stratum a variant never entered contributes
    * 0 and is counted in missing_strata (the estimator is then
    * partially weighted — flagged, not hidden).
    *
    * Scale shape: one (variant, stratum) aggregation + one
    * stratum-domain aggregation broadcast back; the final rollup is
    * variant-domain-sized.
    *
    * Output: one row per variant — (variant, users, raw_mean_micro,
    * poststrat_mean_micro, n_strata, missing_strata).
    */
  def postStratified(obs: DataFrame, variantCol: String, strataCol: String,
      valueCol: String): DataFrame = {
    val o = obs.select(col(variantCol).as("variant"),
      col(strataCol).as("_s"), col(valueCol).cast("bigint").as("_v"))
    val pop = o.groupBy(col("_s")).agg(count(lit(1)).as("_ns"))
    val tot = pop.agg(coalesce(sum(col("_ns")), lit(0L)).as("_n"))
    val vs = o.groupBy(col("variant"), col("_s"))
      .agg(count(lit(1)).as("_nvs"), sum(col("_v")).as("_svs"))
    vs.join(broadcast(pop), "_s").crossJoin(broadcast(tot))
      .withColumn("_term",
        expr("""(1000000 * CAST(_ns AS DECIMAL(38,0)) * _svs)
          DIV (CAST(_n AS DECIMAL(38,0)) * _nvs)"""))
      .groupBy(col("variant"))
      .agg(sum(col("_nvs")).as("users"),
        sum(col("_svs")).as("_sv"),
        sum(col("_term")).as("poststrat_mean_micro"),
        count(lit(1)).as("_covered"))
      .crossJoin(broadcast(pop.agg(count(lit(1)).as("n_strata"))))
      .select(col("variant"), col("users"),
        expr("(1000000 * CAST(_sv AS DECIMAL(38,0))) DIV users")
          .as("raw_mean_micro"),
        col("poststrat_mean_micro"), col("n_strata"),
        (col("n_strata") - col("_covered")).as("missing_strata"))
      .orderBy(col("variant"))
  }

  private val qPostStrat = GraftQuery(
    "qstat_poststrat",
    (s, dir) => postStratified(
      Tables.events(s, dir)
        .select((col("user_id") % 2).as("variant"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c")),
      "variant", "event_type", "c"),
    Some("""WITH o AS (SELECT user_id % 2 AS variant, event_type AS st,
        CAST(round(value * 100) AS BIGINT) AS c FROM events),
      pop AS (SELECT st, COUNT(*) AS ns FROM o GROUP BY st),
      tot AS (SELECT SUM(ns) AS n FROM pop),
      vs AS (SELECT variant, st, COUNT(*) AS nvs, SUM(c) AS svs
        FROM o GROUP BY variant, st),
      t AS (SELECT variant, nvs, svs,
          (1000000 * CAST(ns AS HUGEINT) * svs)
            // (CAST(n AS HUGEINT) * nvs) AS term
        FROM vs JOIN pop USING (st), tot),
      a AS (SELECT variant, SUM(nvs) AS users, SUM(svs) AS sv,
          SUM(term) AS ps, COUNT(*) AS covered
        FROM t GROUP BY variant),
      k AS (SELECT COUNT(*) AS n_strata FROM pop)
      SELECT variant, CAST(users AS BIGINT) AS users,
        CAST((1000000 * CAST(sv AS HUGEINT)) // users AS BIGINT) AS raw_mean_micro,
        CAST(ps AS BIGINT) AS poststrat_mean_micro,
        CAST(n_strata AS BIGINT) AS n_strata,
        CAST(n_strata - covered AS BIGINT) AS missing_strata
      FROM a, k ORDER BY variant"""))

  // --------------------- group-sequential looks (A/B tier)
  /** Group-sequential monitoring — the "peeking" guard (Pocock 1977 /
    * O'Brien & Fleming 1979): an experiment checked at K interim looks
    * must spend its α across them, or repeated testing inflates false
    * positives far past the nominal level. The OBF spending shape keeps
    * early looks conservative: the look-k boundary is z_k = c·√(K/k),
    * so in SQUARED (chi-square) space the all-integer decision is
    *
    *   χ²₍k₎ · k ≥ c² · K        (c² pre-scaled to micro units).
    *
    * χ² at each look is the cumulative 2×2 conversion test in the
    * [[qChisq]] exact form — N·(ad−bc)²·10⁶ div the four margins, all
    * DECIMAL(38,0). `crossed` marks each look past its boundary;
    * `stop_look` (broadcast 1-row min) is where a sequential monitor
    * would have stopped.
    *
    * Scale shape: each unit fans out map-side to looks k..K (≤ K rows,
    * the hll_sliding windowing pattern — no range join), then one
    * (look)-key aggregation; the boundary comparison is a K-row frame.
    *
    * Input: one row per unit — (variantCol ≠ 0 splits arms, convCol ≠ 0
    * = converted, lookCol ∈ 1..K = the look at which the unit's data
    * arrived). Output: one row per look 1..K present —
    * (look, users_a, conv_a, users_b, conv_b, chisq_micro, bound_micro,
    * crossed, stop_look).
    */
  def groupSequential(units: DataFrame, variantCol: String, convCol: String,
      lookCol: String, looks: Int = GsLooks,
      critC2Micro: Long = GsObfC2Micro): DataFrame = {
    require(looks >= 1, s"looks must be >= 1, got $looks")
    val u = units.select((col(variantCol) =!= 0).as("_b"),
        (col(convCol) =!= 0).as("_c"),
        col(lookCol).cast("long").as("_l"))
      .filter(col("_l").between(1, looks))
      .select(col("_b"), col("_c"),
        explode(expr(s"sequence(_l, ${looks}L)")).as("look"))
    val g = u.groupBy(col("look"))
      .agg(sum(when(!col("_b") && col("_c"), 1L).otherwise(0L)).as("conv_a"),
        sum(when(!col("_b") && !col("_c"), 1L).otherwise(0L)).as("_na"),
        sum(when(col("_b") && col("_c"), 1L).otherwise(0L)).as("conv_b"),
        sum(when(col("_b") && !col("_c"), 1L).otherwise(0L)).as("_nb"))
      .withColumn("users_a", col("conv_a") + col("_na"))
      .withColumn("users_b", col("conv_b") + col("_nb"))
      .withColumn("chisq_micro", expr("""CASE
        WHEN users_a = 0 OR users_b = 0 OR conv_a + conv_b = 0
          OR _na + _nb = 0 THEN CAST(0 AS BIGINT)
        ELSE (CAST(users_a + users_b AS DECIMAL(38,0))
            * (CAST(conv_a AS DECIMAL(38,0)) * _nb
              - CAST(conv_b AS DECIMAL(38,0)) * _na)
            * (CAST(conv_a AS DECIMAL(38,0)) * _nb
              - CAST(conv_b AS DECIMAL(38,0)) * _na) * 1000000)
          DIV (CAST(users_a AS DECIMAL(38,0)) * users_b
            * (conv_a + conv_b) * (_na + _nb)) END"""))
      .withColumn("bound_micro",
        expr(s"($critC2Micro * ${looks}L) DIV look"))
      // the decision is the EXACT product form chisq·k ≥ c²·K (the
      // docstring's rule), not chisq ≥ ⌊c²K/k⌋ — when c²K is not
      // divisible by k the floored bound would declare a look in the
      // truncated gap crossed though the exact rule says hold (r12
      // ADVICE). bound_micro stays the floored DISPLAY value. DECIMAL:
      // chisq_micro is ~10⁶·n, so the long product overflows at
      // corpus n ≳ 2⁶³/(10⁶·K)
      .withColumn("crossed", expr(
        s"CAST(chisq_micro AS DECIMAL(38,0)) * look >= " +
          s"CAST($critC2Micro AS DECIMAL(38,0)) * ${looks}L"))
    val stop = g.agg(min(when(col("crossed"), col("look"))).as("stop_look"))
    g.crossJoin(broadcast(stop))
      .select(col("look"), col("users_a"), col("conv_a"),
        col("users_b"), col("conv_b"), col("chisq_micro"),
        col("bound_micro"), col("crossed"), col("stop_look"))
      .orderBy(col("look"))
  }

  private val GsLooks = 5
  // O'Brien–Fleming K=5, two-sided alpha=0.05: final-look critical
  // z = 2.040 (the standard tabulated value), c^2 in micro units
  private val GsObfC2Micro = 4161600L

  /** Binding: weekly looks over the event window (look = capped week of
    * the user's FIRST event), arms by id parity, conversion = the user
    * ever purchases. Homogeneous corpus ⇒ no look should cross (the
    * null-honesty convention); the crossing + stop path is pinned on a
    * planted drifted family in OpsApiSpec.
    */
  private val qGroupSeq = GraftQuery(
    "qstat_group_seq",
    (s, dir) => groupSequential(
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("_t0"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .select((col("user_id") % 2).as("variant"), col("conv"),
          least(lit(GsLooks.toLong),
            lit(1L) + (dayofmonth(col("_t0")) - 1) / 7).as("look")),
      "variant", "conv", "look"),
    Some(s"""WITH per AS (SELECT user_id, MIN(ts) AS t0,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
      u AS (SELECT user_id % 2 <> 0 AS b, conv <> 0 AS c,
        LEAST($GsLooks, 1 + (day(t0) - 1) // 7) AS l FROM per),
      f AS (SELECT b, c, unnest(generate_series(l, $GsLooks)) AS look FROM u),
      g AS (SELECT look,
        SUM(CASE WHEN NOT b AND c THEN 1 ELSE 0 END) AS conv_a,
        SUM(CASE WHEN NOT b AND NOT c THEN 1 ELSE 0 END) AS na,
        SUM(CASE WHEN b AND c THEN 1 ELSE 0 END) AS conv_b,
        SUM(CASE WHEN b AND NOT c THEN 1 ELSE 0 END) AS nb
        FROM f GROUP BY look),
      x AS (SELECT look, conv_a, na, conv_b, nb,
        conv_a + na AS users_a, conv_b + nb AS users_b FROM g),
      z AS (SELECT *, CASE
          WHEN users_a = 0 OR users_b = 0 OR conv_a + conv_b = 0
            OR na + nb = 0 THEN 0
          ELSE (CAST(users_a + users_b AS HUGEINT)
              * (CAST(conv_a AS HUGEINT) * nb - CAST(conv_b AS HUGEINT) * na)
              * (CAST(conv_a AS HUGEINT) * nb - CAST(conv_b AS HUGEINT) * na)
              * 1000000)
            // (CAST(users_a AS HUGEINT) * users_b
              * (conv_a + conv_b) * (na + nb)) END AS chisq_micro,
          ($GsObfC2Micro * $GsLooks) // look AS bound_micro
        FROM x),
      z2 AS (SELECT *, CAST(chisq_micro AS HUGEINT) * look
            >= CAST($GsObfC2Micro AS HUGEINT) * $GsLooks AS crossed
        FROM z),
      st AS (SELECT MIN(CASE WHEN crossed THEN look END)
        AS stop_look FROM z2)
      SELECT CAST(look AS BIGINT) AS look,
        CAST(users_a AS BIGINT) AS users_a, CAST(conv_a AS BIGINT) AS conv_a,
        CAST(users_b AS BIGINT) AS users_b, CAST(conv_b AS BIGINT) AS conv_b,
        CAST(chisq_micro AS BIGINT) AS chisq_micro,
        CAST(bound_micro AS BIGINT) AS bound_micro,
        crossed,
        CAST(stop_look AS BIGINT) AS stop_look
      FROM z2, st ORDER BY look"""))

  // --------------------- winsorized metric delta (A/B tier)
  /** Winsorized per-variant means — the metric-capping step every
    * heavy-tailed A/B metric runs before comparison (one whale user
    * otherwise swings the raw mean; capping at a high pooled quantile
    * trades a small bias for a large variance cut): values are clamped
    * at the POOLED ⌈p·n⌉-th order statistic (pooled, not per-variant —
    * a per-arm cap would itself differ under treatment and bias the
    * delta), then per-variant raw and winsorized means are exact micro
    * floors.
    *
    * The cap is the EXACT order statistic, distributed: one
    * value-collapsed count frame, [[Scans.rangedCumSum]] over the value
    * domain (never a global window), cap = min value whose cumulative
    * count reaches ⌈n·p/1000⌉ (all-integer: 1000·cum ≥ n·p), broadcast
    * back as one row — the split-conformal threshold machinery applied
    * to metric hygiene.
    *
    * Output: one row per variant — (variant, users, raw_mean_micro,
    * wins_mean_micro, cap), cap on every row.
    */
  def winsorizedDelta(units: DataFrame, variantCol: String,
      valueCol: String, pMilli: Int = 990): DataFrame = {
    require(pMilli >= 1 && pMilli <= 1000,
      s"pMilli must be in [1, 1000], got $pMilli")
    val u = units.select(col(variantCol).as("variant"),
      col(valueCol).cast("bigint").as("_v"))
    val vc = u.groupBy(col("_v")).agg(count(lit(1)).as("_c"))
    val cum = Scans.rangedCumSum(vc, "_v", col("_c"), "_cum")
    val n1 = u.agg(count(lit(1)).as("_n"))
    val cap = cum.crossJoin(broadcast(n1))
      .agg(min(when(col("_cum") * 1000 >= col("_n") * pMilli, col("_v")))
        .as("cap"))
    u.crossJoin(broadcast(cap))
      .groupBy(col("variant"), col("cap"))
      .agg(count(lit(1)).as("users"), sum(col("_v")).as("_s"),
        sum(least(col("_v"), col("cap"))).as("_sw"))
      .select(col("variant"), col("users"),
        expr("(1000000 * CAST(_s AS DECIMAL(38,0))) DIV users")
          .as("raw_mean_micro"),
        expr("(1000000 * CAST(_sw AS DECIMAL(38,0))) DIV users")
          .as("wins_mean_micro"),
        col("cap"))
      .orderBy(col("variant"))
  }

  /** Binding: per-user total spend in cents, arms by id parity, cap at
    * the pooled p99. Uniform corpus ⇒ raw ≈ winsorized (null honesty);
    * the whale-correction path is pinned on a planted outlier family in
    * OpsApiSpec.
    */
  private val qWinsor = GraftQuery(
    "qstat_winsorized_delta",
    (s, dir) => winsorizedDelta(
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("spend"))
        .select((col("user_id") % 2).as("variant"), col("spend")),
      "variant", "spend"),
    Some("""WITH per AS (SELECT user_id, user_id % 2 AS variant,
        SUM(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events GROUP BY user_id),
      vc AS (SELECT v, COUNT(*) AS c FROM per GROUP BY v),
      cum AS (SELECT v, SUM(c) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm FROM vc),
      n1 AS (SELECT COUNT(*) AS n FROM per),
      cap AS (SELECT MIN(CASE WHEN cm * 1000 >= n * 990 THEN v END) AS cap
        FROM cum, n1)
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS users,
        CAST((1000000 * CAST(SUM(v) AS HUGEINT)) // COUNT(*) AS BIGINT)
          AS raw_mean_micro,
        CAST((1000000 * CAST(SUM(LEAST(v, cap)) AS HUGEINT)) // COUNT(*)
          AS BIGINT) AS wins_mean_micro,
        CAST(cap AS BIGINT) AS cap
      FROM per, cap GROUP BY variant, cap ORDER BY variant"""))

  val queries: Seq[GraftQuery] =
    Seq(qChisq, qKs, qBoot, qGini, qLinReg, qPettitt, qWMedian, qMwu,
      qBenford, qPareto, qRuns, qSpearman, qKendall, qTheilSen, qCramersV,
      qAutocorr, qCohensD, qIqr, qPowerN, qSimpson, qForecastErr, qAnova,
      qLevene, qMannKendall, qKruskal, qKde, qGamesHowell, qWilson, qFriedman,
      qCochran, qLjungBox, qJonckheere, qCliffs, qCochranArmitage,
      qMoodMedian, qCvm, qPageTrend, qHodgesLehmann, qBrunnerMunzel,
      qMad, qAnsari, qSeasonalAnomaly, qHartley, qBinseg, qBhFdr, qCuped,
      qRatioDelta, qSrm, qDid, qPostStrat, qGroupSeq, qWinsor)
}
