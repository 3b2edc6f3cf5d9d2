package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import Exact._
import OracleFragments.{d2 => od2, sumD => oSumD}

/** Batch analogues of the streaming plane over the `events` table: tumbling
  * windows, sessionization (the stateful per-key pattern of the reference's
  * InvokeStatefulLambda, cf. /root/reference .../InvokeStatefulLambda.java:61-65),
  * JSON payload extraction, and per-key top-k. Each has a DuckDB oracle.
  */
object EventsQueries {

  // Tumbling 1-hour windows per event type (streaming window agg analogue).
  private val qTumbling = GraftQuery(
    "qe_hourly_by_type",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumD(d2(col("value"))).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    },
    Some(s"""SELECT date_trunc('hour', ts) AS hour, event_type,
      COUNT(*) AS n, ${oSumD(od2("value"))} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))

  // Sessionization by 30-minute inactivity gap; exact integer µs arithmetic.
  private val qSessions = GraftQuery(
    "qe_sessionize_30m",
    (s, dir) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapped = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      gapped
        .withColumn("session_id", sum(col("new_sess")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), sumD(d2(col("value"))).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
    Some(s"""WITH g AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS us,
        LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events),
    m AS (
      SELECT user_id, event_id, value,
        CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess,
        us FROM g),
    sess AS (
      SELECT user_id, value,
        CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM m)
    SELECT user_id, session_id, COUNT(*) AS n_events, ${oSumD(od2("value"))} AS session_value
    FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id"""))

  // JSON payload extraction + aggregation (props is a JSON string column).
  private val qJson = GraftQuery(
    "qe_json_props",
    (s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type"""))

  // Per-key accumulation + global top-k (the keyBy→state→rank shape).
  private val qTopUsers = GraftQuery(
    "qe_top_users_by_value",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sumD(d2(col("value"))).as("total_value"), count(lit(1)).as("n_events"))
        .orderBy(col("total_value").desc, col("user_id"))
        .limit(10)
    },
    Some(s"""SELECT user_id, ${oSumD(od2("value"))} AS total_value, COUNT(*) AS n_events
    FROM events GROUP BY user_id ORDER BY total_value DESC, user_id LIMIT 10"""))

  // Per-user event-to-event deltas (lag) — feeds latency-style analyses.
  private val qDeltas = GraftQuery(
    "qe_user_event_deltas",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("delta_us", col("us") - lag(col("us"), 1).over(w))
        .filter(col("delta_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("delta_us")).as("sum_gap_us"),
          max(col("delta_us")).as("max_gap_us"))
        .orderBy(col("user_id"))
    },
    Some("""WITH d AS (
      SELECT user_id,
        epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
      FROM events)
    SELECT user_id, COUNT(*) AS n_gaps, CAST(SUM(delta_us) AS BIGINT) AS sum_gap_us,
      MAX(delta_us) AS max_gap_us
    FROM d WHERE delta_us IS NOT NULL GROUP BY user_id ORDER BY user_id"""))

  // Sliding windows (2 h duration, 1 h slide): Spark's window() assigns
  // each event to exactly two epoch-aligned windows — starts at
  // hour-floor(ts) and hour-floor(ts) − 1 h — which the oracle reproduces
  // with a two-element unnest.
  private val qSliding = GraftQuery(
    "qe_sliding_windows",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumD(d2(col("value"))).as("sum_value"))
        .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },
    Some(s"""WITH e AS (SELECT event_type, value,
      unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start
      FROM events)
    SELECT win_start, event_type, COUNT(*) AS n, ${oSumD(od2("value"))} AS sum_value
    FROM e GROUP BY win_start, event_type ORDER BY win_start, event_type"""))

  // Feature standardization: per-user z-score with exact-moment math (the
  // same order-independent DECIMAL accumulation as qstat_exact_variance,
  // applied per row over a full-partition window frame, then one
  // fixed-form double expression — engine-exact).
  private val qZscore = GraftQuery(
    "qe_zscore_by_user",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .filter(col("user_id") < 20)
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("n") > 1)
        .withColumn("sx", sum(d2(col("value"))).over(w).cast("double"))
        .withColumn("sxx", sum(d2(col("value")) * d2(col("value"))).over(w).cast("double"))
        .withColumn("mean_v", col("sx") / col("n"))
        .withColumn("std_v",
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)))
        .select(col("user_id"), col("event_id"), col("value"),
          ((col("value") - col("mean_v")) / col("std_v")).as("z"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some(s"""WITH m AS (SELECT user_id, event_id, value,
      COUNT(*) OVER (PARTITION BY user_id) AS n,
      CAST(SUM(${od2("value")}) OVER (PARTITION BY user_id) AS DOUBLE) AS sx,
      CAST(SUM(${od2("value")} * ${od2("value")}) OVER (PARTITION BY user_id) AS DOUBLE) AS sxx
    FROM events WHERE user_id < 20)
    SELECT user_id, event_id, value,
      (value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)) AS z
    FROM m WHERE n > 1 ORDER BY user_id, event_id"""))

  /** Ordered conversion funnel view → click → purchase: a user advances a
    * step only with a strictly-later event of the next type. Three
    * per-user conditional-min aggregations chained by uniform user_id hash
    * joins — each stage shrinks (funnel monotonicity), aggregations are
    * partial-agg friendly, nothing windows globally. The classic product-
    * analytics shape the events plane was missing.
    */
  private val qFunnel = GraftQuery(
    "qe_funnel",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.select(lit(1).as("step"), lit("view").as("step_name"), col("user_id"))
        .unionByName(c.select(lit(2).as("step"), lit("view>click").as("step_name"),
          col("user_id")))
        .unionByName(p.select(lit(3).as("step"),
          lit("view>click>purchase").as("step_name"), col("user_id")))
        .groupBy(col("step"), col("step_name"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("step"))
    },
    Some("""WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
    u AS (SELECT 1 AS step, 'view' AS step_name, user_id FROM v
      UNION ALL SELECT 2, 'view>click', user_id FROM c
      UNION ALL SELECT 3, 'view>click>purchase', user_id FROM p)
    SELECT step, step_name, COUNT(DISTINCT user_id) AS n_users
    FROM u GROUP BY step, step_name ORDER BY step"""))

  /** Day-0 cohort retention: users grouped by first-seen day, activity
    * counted per whole-week offset. One per-user min aggregation, a
    * uniform user_id join back, one (cohort, week) aggregation.
    */
  private val qRetention = GraftQuery(
    "qe_retention_cohorts",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val first = e.groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("cohort_day"))
      e.join(first, "user_id")
        .withColumn("week_offset",
          expr("datediff(to_date(ts), cohort_day) div 7"))
        .groupBy(col("cohort_day"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("week_offset"))
    },
    Some("""WITH f AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id)
    SELECT f.cohort_day, (CAST(e.ts AS DATE) - f.cohort_day) // 7 AS week_offset,
      COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY cohort_day, week_offset"""))

  /** Time-series regularization (resampling): per-user hourly spine from
    * first to last event (sequence + explode — each user's spine generates
    * next to their aggregate, no driver involvement), left-joined hourly
    * aggregates, gaps carried forward LOCF-style. The spine join keys on
    * (user, hour) — uniform; sums stay decimal-exact.
    */
  private val qResample = GraftQuery(
    "qe_resample_hourly",
    (s, dir) => {
      val e = Tables.events(s, dir).filter(col("user_id") < 10)
      val hourly = e
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"), sumD(d2(col("value"))).as("sum_value"))
      val spine = e.groupBy(col("user_id"))
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "hour"), "left")
        .select(col("user_id"), col("hour"),
          coalesce(col("n"), lit(0L)).as("n"), col("sum_value"),
          last(col("sum_value"), ignoreNulls = true).over(w).as("filled_sum"))
        .orderBy(col("user_id"), col("hour"))
    },
    Some(s"""WITH e AS (SELECT * FROM events WHERE user_id < 10),
    h AS (SELECT user_id, date_trunc('hour', ts) AS hour, COUNT(*) AS n,
      ${oSumD(od2("value"))} AS sum_value FROM e GROUP BY 1, 2),
    b AS (SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
      date_trunc('hour', MAX(ts)) AS h1 FROM e GROUP BY 1),
    sp AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
    j AS (SELECT sp.user_id, sp.hour, h.n, h.sum_value FROM sp
      LEFT JOIN h ON sp.user_id = h.user_id AND sp.hour = h.hour)
    SELECT user_id, hour, COALESCE(n, 0) AS n, sum_value,
      last_value(sum_value IGNORE NULLS) OVER (PARTITION BY user_id
        ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
    FROM j ORDER BY user_id, hour"""))

  // Fixed-width value histogram (50-unit bins over [0, 500)): one map-only
  // bin assignment + one uniform-key aggregation — the profiling
  // complement to qprof_*'s min/max.
  private val qHistogram = GraftQuery(
    "qe_value_histogram",
    (s, dir) => Tables.events(s, dir)
      .withColumn("bin", floor(col("value") / 50.0).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sumD(d2(col("value"))).as("sum_value"))
      .orderBy(col("bin")),
    Some(s"""SELECT CAST(floor(value / 50.0) AS INT) AS bin, COUNT(*) AS n,
      ${oSumD(od2("value"))} AS sum_value
    FROM events GROUP BY 1 ORDER BY bin"""))

  /** Sequence-pattern match with a NEGATIVE condition — MATCH_RECOGNIZE's
    * `A ... B` with no `C` between, per user: a 'view' that converts
    * straight to a 'purchase' with no intervening 'error'. The forward
    * scan is two conditional-min windows over the FOLLOWING frame (next
    * purchase µs, next error µs after each event); a view matches iff the
    * next purchase exists and precedes any next error. Negative
    * conditions are exactly what the plain funnel join ([[qFunnel]])
    * cannot express — min-join funnels see only earliest times, not
    * intervening events.
    *
    * Scale shape: one user-key shuffle + in-partition sorted windows (the
    * sessionize/SCD2 shape) — no self-joins, no per-pattern passes.
    * (user_id, ts) is unique in the events data, so µs comparison is
    * deterministic; event_id tie-breaks the frame order anyway.
    */
  private val qPattern = GraftQuery(
    "qe_pattern_noerror",
    (s, dir) => {
      val wFwd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("next_purchase_us",
          min(when(col("event_type") === "purchase", col("us"))).over(wFwd))
        .withColumn("next_error_us",
          min(when(col("event_type") === "error", col("us"))).over(wFwd))
        .filter(col("event_type") === "view" &&
          col("next_purchase_us").isNotNull &&
          (col("next_error_us").isNull ||
            col("next_purchase_us") < col("next_error_us")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clean_conversions"),
          min(col("us")).as("first_view_us"))
        .orderBy(col("user_id"))
    },
    Some("""WITH w AS (SELECT user_id, event_type, epoch_us(ts) AS us,
      MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_us,
      MIN(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_error_us
    FROM events)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_clean_conversions,
      MIN(us) AS first_view_us
    FROM w
    WHERE event_type = 'view' AND next_purchase_us IS NOT NULL
      AND (next_error_us IS NULL OR next_purchase_us < next_error_us)
    GROUP BY user_id ORDER BY user_id"""))

  /** First-order Markov transition matrix of event types: per user, each
    * event's successor (LEAD over the time order), then global
    * (from, to) counts and row-normalized transition probabilities in
    * basis points (integer division — cross-engine exact, no float
    * ratios). The behavioral-model summary (what follows what) that
    * sequence-aware sampling and anomaly scoring start from.
    *
    * Scale shape: one user-key shuffle + in-partition LEAD (the
    * sessionize shape), one uniform-key (from, to) aggregation; the
    * normalizing row-total window runs over the |types|² aggregated
    * matrix, not the events.
    */
  private val qTransitions = GraftQuery(
    "qe_transition_matrix",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val m = Tables.events(s, dir)
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      m.withColumn("p_bp",
          expr("(10000 * n) div sum(n) over (partition by from_type)"))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""WITH s AS (SELECT user_id, event_type,
      LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM events),
    m AS (SELECT event_type AS from_type, to_type, COUNT(*) AS n
      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
      CAST((10000 * n) // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_bp
    FROM m ORDER BY from_type, to_type"""))

  /** Exponentially-decayed moving average over each user's last 8 values
    * — EWMA with α = 0.9 decay, EXACT: the float recurrence
    * Σ value·αʲ is not cross-engine reproducible, so the horizon is
    * truncated at 8 lags and every term is integer — value in cents,
    * weight αʲ·10⁷ = 9ʲ·10⁷⁻ʲ (exactly representable as BIGINT). The
    * result is a deterministic fixed-point number (scale = cents·10⁷,
    * normalizer emitted alongside), the same exact-arithmetic convention
    * as PageRank's fixed-point ranks. An 8-step horizon retains ≥ 57% of
    * the infinite-sum mass at α = 0.9 and 100% reproducibility.
    *
    * Scale shape: one user-key shuffle, one in-partition window with 8
    * LAGs evaluated in a single Window operator — the sessionize shape.
    */
  private val qDecayWma = GraftQuery(
    "qe_decay_wma",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val cents = round(col("value") * 100).cast("bigint")
      val terms = (0 until 8).map { j =>
        val wj = math.pow(9, j).toLong * math.pow(10, 7 - j).toLong
        (coalesce(lag(cents, j).over(w), lit(0L)) * wj,
          when(lag(cents, j).over(w).isNotNull, wj).otherwise(lit(0L)))
      }
      Tables.events(s, dir)
        .withColumn("wma_scaled", terms.map(_._1).reduce(_ + _))
        .withColumn("weight_sum", terms.map(_._2).reduce(_ + _))
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("wma_scaled"), col("weight_sum"))
        .orderBy(col("user_id"), col("us"))
    },
    Some {
      val lagTerms = (0 until 8).map { j =>
        val wj = math.pow(9, j).toLong * math.pow(10, 7 - j).toLong
        (s"COALESCE(LAG(cents, $j) OVER w, 0) * $wj",
          s"CASE WHEN LAG(cents, $j) OVER w IS NOT NULL THEN $wj ELSE 0 END")
      }
      s"""WITH c AS (SELECT user_id, ts, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
      SELECT user_id, epoch_us(ts) AS us,
        ${lagTerms.map(_._1).mkString(" + ")} AS wma_scaled,
        ${lagTerms.map(_._2).mkString(" + ")} AS weight_sum
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, us"""
    })

  /** Multi-touch attribution with an EXACT integer budget split: each
    * purchase's value (cents) is divided equally across the user's
    * view/click touchpoints in the 24 h before it — integer division,
    * with the remainder going to the most recent touchpoint, so every
    * purchase's attributed total equals its value to the cent (no float
    * leakage, cross-engine exact). Last-touch/first-touch are the rk = 1
    * special cases of the same machinery.
    *
    * Scale shape: one user-key hash join (touch × purchase per user,
    * fan-out bounded by per-user activity in the window, the same
    * per-entity bound as sessionization), one window per purchase key
    * (uniform — a purchase has bounded touches), one final (user, type)
    * aggregation. No global windows, no cross-user work.
    */
  private val qAttribution = GraftQuery(
    "qe_attribution",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("us").as("p_us"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val touches = e.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_id").as("t_id"),
          col("us").as("t_us"), col("event_type").as("t_type"))
      val paired = purchases.join(touches, Seq("user_id"))
        .filter(col("t_us") < col("p_us") &&
          col("t_us") >= col("p_us") - lit(86400000000L))
      val w = Window.partitionBy(col("p_id"))
      val wRk = w.orderBy(col("t_us").desc, col("t_id"))
      paired
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("rk", row_number().over(wRk))
        .withColumn("share",
          expr("cents div n") +
            when(col("rk") === 1, expr("cents % n")).otherwise(lit(0L)))
        .groupBy(col("user_id"), col("t_type"))
        .agg(sum(col("share")).as("attributed_cents"),
          countDistinct(col("p_id")).as("n_purchases"))
        .orderBy(col("user_id"), col("t_type"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      p AS (SELECT user_id, event_id AS p_id, us AS p_us, cents FROM e
        WHERE event_type = 'purchase'),
      t AS (SELECT user_id, event_id AS t_id, us AS t_us, event_type AS t_type
        FROM e WHERE event_type IN ('view', 'click')),
      j AS (SELECT p.user_id, p.p_id, p.cents, t.t_id, t.t_us, t.t_type
        FROM p JOIN t ON p.user_id = t.user_id
        WHERE t.t_us < p.p_us AND t.t_us >= p.p_us - 86400000000),
      sh AS (SELECT user_id, p_id, t_type,
        cents // COUNT(*) OVER (PARTITION BY p_id)
          + CASE WHEN ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_us DESC, t_id) = 1
              THEN cents % COUNT(*) OVER (PARTITION BY p_id) ELSE 0 END AS share
        FROM j)
      SELECT user_id, t_type,
        CAST(SUM(share) AS BIGINT) AS attributed_cents,
        CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases
      FROM sh GROUP BY user_id, t_type ORDER BY user_id, t_type"""))

  /** CUSUM drift alerts — the clamped running recurrence s ←
    * max(0, s + x − k), alert while s > h. The clamp makes this the one
    * sequence pattern Spark's DECLARATIVE surface cannot express (no
    * window/agg computes a reset-on-floor prefix recurrence), so it uses
    * the typed per-key scan: `groupByKey(user).flatMapGroups` sorts one
    * user's events and folds the recurrence imperatively — distributed
    * on the (uniform) entity key, linear in each user's events, memory
    * bounded by per-entity activity (the sessionize bound). All
    * arithmetic in exact integer cents; the oracle
    * mirrors the recurrence with a per-user recursive CTE — an
    * independent formulation of the same fold.
    */
  private val CusumK = 6000L   // per-event allowance (cents)
  private val CusumH = 30000L  // alert threshold (cents)

  private val qCusum = GraftQuery(
    "qe_cusum_alerts",
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), round(col("value") * 100).cast("bigint").as("cents"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (u: Long, it: Iterator[(Long, Long, Long, Long)]) =>
          var acc = 0L
          it.toVector.sortBy(r => (r._2, r._3)).flatMap { case (_, us, _, c) =>
            acc = math.max(0L, acc + c - CusumK)
            if (acc > CusumH) Some((u, us, acc)) else None
          }.iterator
        }
        .toDF("user_id", "us", "s")
        .orderBy(col("user_id"), col("us"))
    },
    Some(s"""WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    c AS (
      SELECT user_id, us, rn, GREATEST(0, cents - $CusumK) AS s
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.us, e.rn, GREATEST(0, c.s + e.cents - $CusumK)
      FROM c JOIN e ON e.user_id = c.user_id AND e.rn = c.rn + 1)
    SELECT user_id, us, s FROM c WHERE s > $CusumH ORDER BY user_id, us"""))

  /** EWMA level alerts — the SMOOTHED spend monitor next to [[qCusum]]'s
    * drift detector, at the dyadic smoothing constant α = ½ that keeps
    * EWMA integer-exact: s ← (s + x) div 2 from s = 0, alert while
    * s > h. α = ½ is the one smoothing constant needing no float and no
    * scale factor (each event's weight halves per later event; the
    * floor loses < 1 cent per step and both engines floor identically).
    * Same typed per-key fold as CUSUM (the reset-free prefix recurrence
    * is equally inexpressible declaratively), same per-user recursive-
    * CTE oracle.
    */
  private val EwmaH = 12000L   // alert level (cents)

  private val qEwma = GraftQuery(
    "qe_ewma_alerts",
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), round(col("value") * 100).cast("bigint").as("cents"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (u: Long, it: Iterator[(Long, Long, Long, Long)]) =>
          var acc = 0L
          it.toVector.sortBy(r => (r._2, r._3)).flatMap { case (_, us, _, c) =>
            acc = Math.floorDiv(acc + c, 2L)
            if (acc > EwmaH) Some((u, us, acc)) else None
          }.iterator
        }
        .toDF("user_id", "us", "s")
        .orderBy(col("user_id"), col("us"))
    },
    Some(s"""WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    c AS (
      SELECT user_id, us, rn, (0 + cents) // 2 AS s
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.us, e.rn, (c.s + e.cents) // 2
      FROM c JOIN e ON e.user_id = c.user_id AND e.rn = c.rn + 1)
    SELECT user_id, us, s FROM c WHERE s > $EwmaH ORDER BY user_id, us"""))

  /** Holt double-exponential (level + trend) smoother at the dyadic
    * pair α = β = ½ — the trend-aware sibling of [[qEwma]], INTEGER-
    * EXACT: both recurrences are arithmetic right-shifts,
    *
    *   l' = (cents + l + b) >> 1,  b' = ((l' − l) + b) >> 1,
    *
    * seeded l₁ = cents₁, b₁ = 0. `>> 1` (floor), NOT `div` (truncates
    * toward zero): the trend is SIGNED, and the JVM and DuckDB agree on
    * two's-complement shift semantics, so level/trend/forecast are
    * bit-identical across engines. Emits every event's post-update
    * (level, trend, one-step forecast l + b) — the per-entity demand
    * forecast a spend monitor reads.
    *
    * Same typed per-key fold as CUSUM/EWMA (a reset-free prefix
    * recurrence is inexpressible declaratively), same recursive-CTE
    * oracle.
    */
  private val qHolt = GraftQuery(
    "qe_holt_trend",
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), round(col("value") * 100).cast("bigint").as("cents"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (u: Long, it: Iterator[(Long, Long, Long, Long)]) =>
          var l = 0L; var b = 0L; var seeded = false
          it.toVector.sortBy(r => (r._2, r._3)).map { case (_, us, _, c) =>
            if (!seeded) { l = c; b = 0L; seeded = true }
            else {
              val l0 = l
              l = (c + l + b) >> 1
              b = ((l - l0) + b) >> 1
            }
            (u, us, l, b, l + b)
          }.iterator
        }
        .toDF("user_id", "us", "level", "trend", "forecast")
        .orderBy(col("user_id"), col("us"))
    },
    Some("""WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    c AS (
      SELECT user_id, us, rn, cents AS l, CAST(0 AS BIGINT) AS b
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.us, e.rn,
        (e.cents + c.l + c.b) >> 1 AS l,
        (((e.cents + c.l + c.b) >> 1) - c.l + c.b) >> 1 AS b
      FROM c JOIN e ON e.user_id = c.user_id AND e.rn = c.rn + 1)
    SELECT user_id, us, l AS level, b AS trend, l + b AS forecast
    FROM c ORDER BY user_id, us"""))

  /** Token-bucket admission audit — "which requests would a per-user
    * rate limiter have rejected": a bucket of capacity `RlCap` refills
    * at `RlRate` cents per second of event time; each event spends its
    * value; an event whose cost exceeds the balance is rejected with
    * the bucket unchanged (strict policy). The retroactive what-if
    * behind quota/abuse-control tuning. Integer throughout (refill =
    * rate·⌊Δus/10⁶⌋); the refill-then-spend recurrence is reset-free
    * but CLAMPED above (min with cap), so like CUSUM/EWMA it needs the
    * typed per-key fold; oracle = per-user recursive CTE.
    */
  private val RlCap = 20000L   // bucket capacity (cents)
  private val RlRate = 50L     // refill (cents per second)

  private val qRateLimit = GraftQuery(
    "qe_rate_limit",
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), round(col("value") * 100).cast("bigint").as("cents"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (u: Long, it: Iterator[(Long, Long, Long, Long)]) =>
          var tok = -1L
          var lastUs = 0L
          it.toVector.sortBy(r => (r._2, r._3)).flatMap { case (_, us, _, c) =>
            val avail =
              if (tok < 0L) RlCap
              else math.min(RlCap, tok + RlRate * ((us - lastUs) / 1000000L))
            val admitted = avail >= c
            tok = if (admitted) avail - c else avail
            lastUs = us
            if (admitted) None else Some((u, us, c, avail))
          }.iterator
        }
        .toDF("user_id", "us", "cents", "avail")
        .orderBy(col("user_id"), col("us"))
    },
    Some(s"""WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    c AS (
      SELECT user_id, us, rn, cents, CAST($RlCap AS BIGINT) AS avail,
        CASE WHEN $RlCap >= cents THEN $RlCap - cents
          ELSE CAST($RlCap AS BIGINT) END AS tok
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.us, e.rn, e.cents,
        LEAST($RlCap, c.tok + $RlRate * ((e.us - c.us) // 1000000)) AS avail,
        CASE WHEN LEAST($RlCap, c.tok + $RlRate * ((e.us - c.us) // 1000000))
            >= e.cents
          THEN LEAST($RlCap, c.tok + $RlRate * ((e.us - c.us) // 1000000))
            - e.cents
          ELSE LEAST($RlCap, c.tok + $RlRate * ((e.us - c.us) // 1000000))
          END AS tok
      FROM c JOIN e ON e.user_id = c.user_id AND e.rn = c.rn + 1)
    SELECT user_id, us, cents, avail FROM c
    WHERE avail < cents ORDER BY user_id, us"""))

  /** Peak concurrency — the capacity-planning number: how many user
    * sessions were EVER active at once, and when that peak was first
    * hit. Sessions are the 30-minute-gap islands (the qe_sessionize_30m
    * rule); each contributes +1 at its start and −1 just after its end,
    * and the running sum over the unique endpoint order (time, ENDS
    * before starts at the same tick — a session over [a,b] is not
    * active at b+1, so back-to-back sessions [a,b],[b+1,..] never count
    * as simultaneous — user tiebreak, all folded into one composite
    * key) is the instantaneous closed-interval concurrency. The
    * running sum is
    * [[Scans.rangedCumSum]] — at any scale this is one range exchange,
    * never a global single-partition window.
    *
    * Output (1 row): (n_sessions, peak, first_peak_us).
    */
  private val qPeakConcurrency = GraftQuery(
    "qe_peak_concurrency",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      // materialize the session intervals once: three consumers below
      // (both endpoint branches + the n_sessions agg) would otherwise
      // each re-run the per-user window + groupBy over the corpus
      val iv = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("pus", lag(col("us"), 1).over(w))
        .withColumn("brk",
          when(col("pus").isNull || col("us") - col("pus") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(w))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("a"), max(col("us")).as("b"))
        .localCheckpoint()
      val pts = iv.select((col("a") * 2 + 1).as("t2"), lit(1L).as("d"),
          col("user_id"))
        .unionByName(iv.select(((col("b") + 1) * 2).as("t2"),
          lit(-1L).as("d"), col("user_id")))
        .withColumn("k", expr(
          "cast(t2 as decimal(38,0)) * 10000000 + user_id"))
      val cum = Scans.rangedCumSum(pts, "k", col("d"), "conc")
        .localCheckpoint()
      val peak = cum.agg(max(col("conc")).as("peak")).localCheckpoint()
      val at = cum.crossJoin(broadcast(peak))
        .filter(col("conc") === col("peak"))
        .agg(min(col("k")).as("kmin"), max(col("peak")).as("peak"))
      iv.agg(count(lit(1)).as("n_sessions"))
        .crossJoin(broadcast(at))
        .select(col("n_sessions"), col("peak").cast("long").as("peak"),
          expr("cast((kmin div 10000000) div 2 as bigint)")
            .as("first_peak_us"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    l AS (SELECT user_id, us,
        LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS pus FROM e),
    s AS (SELECT user_id, us,
        CASE WHEN pus IS NULL OR us - pus > 1800000000 THEN 1 ELSE 0 END
          AS brk FROM l),
    g AS (SELECT user_id, us,
        SUM(brk) OVER (PARTITION BY user_id ORDER BY us) AS sid FROM s),
    iv AS (SELECT user_id, sid, MIN(us) AS a, MAX(us) AS b
      FROM g GROUP BY 1, 2),
    pts AS (SELECT CAST(a * 2 + 1 AS HUGEINT) * 10000000 + user_id AS k,
        1 AS d FROM iv
      UNION ALL
      SELECT CAST((b + 1) * 2 AS HUGEINT) * 10000000 + user_id, -1
        FROM iv),
    cum AS (SELECT k, SUM(d) OVER (ORDER BY k
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM pts),
    pk AS (SELECT MAX(conc) AS peak FROM cum),
    at AS (SELECT MIN(k) AS kmin FROM cum, pk WHERE conc = peak)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM iv) AS n_sessions,
      (SELECT CAST(peak AS BIGINT) FROM pk) AS peak,
      (SELECT CAST((kmin // 10000000) // 2 AS BIGINT) FROM at)
        AS first_peak_us"""))

  /** Inter-event burstiness per event type — Goh & Barabási's
    * B = (σ−μ)/(σ+μ) over inter-arrival gaps: −1 = metronome-regular,
    * 0 = Poisson, →1 = heavy-tailed bursts. The temporal-pattern
    * summary behind rate-limiter and anomaly-baseline tuning. Gaps are
    * PER-USER within each type (lag over hash-partitioned (user, type)
    * windows — a per-type global window would put each type's whole
    * history in one partition at scale), pooled per type.
    *
    * Exactness: gap moments (n, Σg, Σg²) accumulate exactly in
    * DECIMAL(38,0); B needs one sqrt, so it follows the
    * qstat_wilson_ci convention — ONE fixed-form scalar double
    * expression written op-for-op identically in both engines over the
    * exact integer moments (σ and μ share the n-cancelling form
    * B = (√(nQ−S²) − S)/(√(nQ−S²) + S)).
    *
    * Output: (event_type, n_gaps, mean_us, b_milli) ordered by type.
    */
  def interEventBurstiness(events: DataFrame, tsCol: String = "ts",
      userCol: String = "user_id", typeCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col(tsCol), col(idCol))
    val b = "(sqrt(CAST(n AS DOUBLE) * CAST(q AS DOUBLE) " +
      "- CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) - CAST(s AS DOUBLE)) " +
      "/ (sqrt(CAST(n AS DOUBLE) * CAST(q AS DOUBLE) " +
      "- CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) + CAST(s AS DOUBLE))"
    events
      .withColumn("g", unix_micros(col(tsCol))
        - lag(unix_micros(col(tsCol)), 1).over(w))
      .filter(col("g").isNotNull)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n"),
        sum(col("g").cast("decimal(38,0)")).as("s"),
        sum(col("g").cast("decimal(38,0)") * col("g")).as("q"))
      .select(col(typeCol), col("n").as("n_gaps"),
        expr("CAST(s div n AS BIGINT)").as("mean_us"),
        expr(s"CAST(floor(1000.0 * ($b)) AS BIGINT)").as("b_milli"))
      .orderBy(col(typeCol))
  }

  private val qBurstiness = GraftQuery(
    "qe_burstiness",
    (s, dir) => interEventBurstiness(Tables.events(s, dir)),
    Some("""WITH d AS (SELECT event_type, epoch_us(ts)
        - LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
            ORDER BY ts, event_id) AS g
      FROM events),
    s AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(g) AS HUGEINT) AS s,
        SUM(CAST(g AS HUGEINT) * g) AS q
      FROM d WHERE g IS NOT NULL GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
      CAST(s // n AS BIGINT) AS mean_us,
      CAST(floor(1000.0 * ((sqrt(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) - CAST(s AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) + CAST(s AS DOUBLE))))
        AS BIGINT) AS b_milli
    FROM s ORDER BY event_type"""))

  /** Robust per-user anomaly detection via median absolute deviation —
    * the outlier rule that survives the outliers themselves (a mean/σ
    * z-score lets one huge spike inflate σ until nothing flags; the
    * median and MAD have a 50% breakdown point). An event is anomalous
    * when |value − median| > 3·MAD, the standard robust cutoff.
    *
    * Both medians use percentile_disc semantics (first actual value with
    * cume_dist ≥ 0.5 — no interpolation, engine-exact like
    * [[Relational2]]'s qstat_percentile_disc), and every derived number
    * (deviation, 3·MAD, the comparison) is a single IEEE operation on
    * identically-computed doubles, so the gate hash-matches.
    *
    * Scale shape: two ordered-set aggregations and two joins, ALL keyed
    * on user_id — one uniform key end-to-end, so AQE coalesces the whole
    * thing onto one exchange; output is bounded by the anomaly count,
    * not the event count. The sort each percentile_disc needs is
    * per-group inside the keyed aggregation, never global.
    */
  private val qMadAnomaly = GraftQuery(
    "qe_mad_anomaly",
    (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_mad")
      s.sql("""WITH m AS (SELECT user_id,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM events_mad GROUP BY user_id),
      d AS (SELECT e.user_id, e.event_id, e.value, m.med,
          abs(e.value - m.med) AS dev
        FROM events_mad e JOIN m ON e.user_id = m.user_id),
      md AS (SELECT user_id,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY dev) AS mad
        FROM d GROUP BY user_id)
      SELECT d.user_id, d.event_id, d.value, d.med, md.mad
      FROM d JOIN md ON d.user_id = md.user_id
      WHERE d.dev > 3 * md.mad
      ORDER BY d.user_id, d.event_id""")
    },
    Some("""WITH m AS (SELECT user_id, quantile_disc(value, 0.5) AS med
        FROM events GROUP BY user_id),
      d AS (SELECT e.user_id, e.event_id, e.value, m.med,
          abs(e.value - m.med) AS dev
        FROM events e JOIN m ON e.user_id = m.user_id),
      md AS (SELECT user_id, quantile_disc(dev, 0.5) AS mad
        FROM d GROUP BY user_id)
      SELECT d.user_id, d.event_id, d.value, d.med, md.mad
      FROM d JOIN md ON d.user_id = md.user_id
      WHERE d.dev > 3 * md.mad
      ORDER BY d.user_id, d.event_id"""))

  /** Top-k most common 3-step event-type paths — the navigation-path
    * mining complement of [[qTransitions]]' first-order Markov matrix
    * (a transition matrix can't distinguish A→B→C from A→B→D dominance;
    * path counting can). Per-user LEAD windows build consecutive
    * triples (uniform user_id partitions — never a global window), one
    * uniform-key aggregation counts them, and the global top-k is
    * `orderBy().limit()` = TakeOrderedAndProject, per-partition top-k
    * with no global sort. Ties break lexicographically on the path.
    */
  private val qTopPaths = GraftQuery(
    "qe_top_paths",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("e1"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(10)
    },
    Some("""WITH t AS (SELECT user_id, event_type AS e1,
        LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events)
      SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
      FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY e1, e2, e3
      ORDER BY n DESC, e1, e2, e3 LIMIT 10"""))

  /** Rolling active users: EXACT distinct users per sliding 3-hour
    * window (1-hour slide) — the DAU/WAU-family metric, and the distinct-
    * count upgrade of [[qSliding]]'s sums (distinct does not decompose
    * over overlapping windows, so each event is assigned to its 3
    * covering windows explicitly — a fixed ×3 map-only fan-out — and
    * each window runs one countDistinct). The shuffle key is the window
    * start (uniform); Spark's two-phase distinct aggregation keeps
    * partials map-side. For wider windows at corpus scale the mergeable
    * [[graft.functions]] HLL sketch variant (qagg_hll_sketch) replaces
    * exact distinct — this operator is the exact-answer member of that
    * pair.
    */
  private val qSlidingDistinct = GraftQuery(
    "qe_sliding_distinct",
    (s, dir) => Tables.events(s, dir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
      .select(col("user_id"),
        explode(expr("sequence(hr - interval 2 hours, hr, interval 1 hour)"))
          .as("win_start"))
      .groupBy(col("win_start"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("win_start")),
    Some("""WITH t AS (SELECT user_id, date_trunc('hour', ts) AS hr FROM events),
      w AS (SELECT user_id, unnest(generate_series(hr - INTERVAL 2 HOUR, hr,
        INTERVAL 1 HOUR)) AS win_start FROM t)
      SELECT win_start, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM w GROUP BY win_start ORDER BY win_start"""))

  /** Exact Shapley-value channel attribution (the cooperative-game
    * upgrade over last-touch / [[qAttribution]]'s next-conversion rule,
    * Shapley 1953 as applied to marketing credit): each user's
    * pre-first-conversion touched-channel SET becomes a coalition, v(S)
    * is the observed OUTCOME rate of users with exactly that set, and
    * channel i's credit is
    *
    *   φ_i = Σ_{S ⊆ C∖{i}} |S|!·(k−1−|S|)!/k! · (v(S∪{i}) − v(S))
    *
    * computed EXACTLY: v in micro-floors, the k!·weights as integer
    * literals (weights ×k! stay integral), φ reported both ×k! and
    * sign-split-floored to micro. The subset lattice is enumerated
    * DRIVER-SIDE into a 2^(k−1)·k-row literal table (k ≤ 12 required —
    * attribution channels are few by nature); the corpus-sized work is
    * ONE (user, mask) aggregation via SUM(DISTINCT bit) plus a 2^k-row
    * group-by. Unpopulated coalitions contribute v = 0 (documented
    * estimator choice, mirrored in the oracle).
    *
    * The OUTCOME is "above-average customer": the user's total
    * `convType` value in cents strictly exceeds the per-user corpus mean
    * (the exact integer comparison n_users·cents_u > Σcents — no float
    * rate). On the synthetic corpus plain did-convert is degenerate
    * (everyone purchases), and a value outcome is what revenue teams
    * attribute anyway.
    *
    * Output: (channel, phi_xkf_micro, phi_micro) ordered by channel —
    * ×kf = ×k! (×24 for the k = 4 binding).
    */
  def shapleyAttribution(events: DataFrame, channels: Seq[String],
      convType: String, userCol: String = "user_id",
      typeCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    require(channels.nonEmpty && channels.size <= 12,
      s"need 1..12 channels, got ${channels.size}")
    require(channels.distinct.size == channels.size, "duplicate channel")
    val k = channels.size
    val fact = (1 to k).foldLeft(1L)(_ * _)
    val spark = events.sparkSession
    import spark.implicits._
    val bitOf = channels.zipWithIndex.map { case (c, i) => c -> (1L << i) }.toMap
    val caseExpr = channels.map(c =>
      s"WHEN '${c}' THEN ${bitOf(c)}L").mkString("CASE t ", " ", " ELSE 0L END")
    val up = events.groupBy(col(userCol).as("u"))
      .agg(min(when(col(typeCol) === convType, col(tsCol))).as("pts"),
        coalesce(sum(when(col(typeCol) === convType,
          expr("CAST(round(value * 100) AS BIGINT)"))), lit(0L)).as("cents"))
    val tot = up.agg(count(lit(1)).as("nu"), sum(col("cents")).as("tc"))
    val masks = events.select(col(userCol).as("u"), col(typeCol).as("t"),
        col(tsCol).as("ets"))
      .join(up.select(col("u"), col("pts")), "u")
      .filter(col("t") =!= convType && (col("pts").isNull || col("ets") < col("pts")))
      .select(col("u"), expr(caseExpr).as("b"))
      .groupBy(col("u")).agg(sum_distinct(col("b")).as("m"))
    val sets = up.join(masks, Seq("u"), "left")
      .crossJoin(broadcast(tot))
      .select(coalesce(col("m"), lit(0L)).as("m"),
        (col("nu") * col("cents") > col("tc")).cast("long").as("conv"))
    val vS = sets.groupBy(col("m"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("nc"))
      .select(col("m"), expr("(1000000 * nc) div n").as("v"))
    def factorial(n: Int) = (1 to n).foldLeft(1L)(_ * _)
    val terms = for {
      (c, i) <- channels.zipWithIndex
      s <- 0 until (1 << k) if (s & (1 << i)) == 0
    } yield (c, s.toLong,
      (s.toLong | (1L << i)),
      factorial(java.lang.Long.bitCount(s.toLong)) * factorial(k - 1 - java.lang.Long.bitCount(s.toLong)))
    terms.toDF("channel", "ms", "msi", "w")
      .join(vS.select(col("m").as("ms"), col("v").as("vs")), Seq("ms"), "left")
      .join(vS.select(col("m").as("msi"), col("v").as("vsi")), Seq("msi"), "left")
      .groupBy(col("channel"))
      .agg(sum(col("w") * (coalesce(col("vsi"), lit(0L))
        - coalesce(col("vs"), lit(0L)))).as("phi_xkf_micro"))
      .select(col("channel"), col("phi_xkf_micro"),
        expr(s"""CAST(CASE WHEN phi_xkf_micro >= 0
          THEN phi_xkf_micro div $fact
          ELSE -((-phi_xkf_micro) div $fact) END AS BIGINT)""").as("phi_micro"))
      .orderBy(col("channel"))
  }

  private val ShapChannels = Seq("click", "error", "signup", "view")

  private val shapleySql = {
    val k = ShapChannels.size
    def factorial(n: Int) = (1 to n).foldLeft(1L)(_ * _)
    val fact = factorial(k)
    val bitOf = ShapChannels.zipWithIndex.map { case (c, i) => c -> (1L << i) }.toMap
    val caseSql = ShapChannels.map(c =>
      s"WHEN '${c}' THEN ${bitOf(c)}").mkString("CASE e.event_type ", " ", " ELSE 0 END")
    val termRows = (for {
      (c, i) <- ShapChannels.zipWithIndex
      s <- 0 until (1 << k) if (s & (1 << i)) == 0
    } yield s"('$c', $s, ${s | (1 << i)}, " +
      s"${factorial(java.lang.Long.bitCount(s.toLong)) * factorial(k - 1 - java.lang.Long.bitCount(s.toLong))})")
      .mkString(", ")
    s"""WITH up AS (SELECT user_id AS u,
        MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS pts,
        COALESCE(SUM(CASE WHEN event_type = 'purchase'
          THEN CAST(round(value * 100) AS BIGINT) END), 0) AS cents
      FROM events GROUP BY user_id),
    tot AS (SELECT COUNT(*) AS nu, SUM(cents) AS tc FROM up),
    mk AS (SELECT e.user_id AS u, SUM(DISTINCT $caseSql) AS m
      FROM events e JOIN up ON e.user_id = up.u
      WHERE e.event_type <> 'purchase' AND (up.pts IS NULL OR e.ts < up.pts)
      GROUP BY e.user_id),
    sets AS (SELECT COALESCE(mk.m, 0) AS m,
        CASE WHEN tot.nu * up.cents > tot.tc THEN 1 ELSE 0 END AS conv
      FROM up LEFT JOIN mk ON up.u = mk.u, tot),
    vs AS (SELECT m, (1000000 * SUM(conv)) // COUNT(*) AS v
      FROM sets GROUP BY m),
    terms(channel, ms, msi, w) AS (VALUES $termRows),
    phi AS (SELECT t.channel,
        SUM(t.w * (COALESCE(vi.v, 0) - COALESCE(v0.v, 0))) AS pxf
      FROM terms t
      LEFT JOIN vs v0 ON v0.m = t.ms
      LEFT JOIN vs vi ON vi.m = t.msi
      GROUP BY t.channel)
    SELECT channel, CAST(pxf AS BIGINT) AS phi_xkf_micro,
      CAST(CASE WHEN pxf >= 0 THEN pxf // $fact
        ELSE -((-pxf) // $fact) END AS BIGINT) AS phi_micro
    FROM phi ORDER BY channel"""
  }

  private val qShapley = GraftQuery(
    "qe_shapley_attribution",
    (s, dir) => shapleyAttribution(Tables.events(s, dir), ShapChannels,
      "purchase"),
    Some(shapleySql))

  /** Seasonality-aware anomaly detection: learn the hour-of-week
    * profile (the dominant cycle in product/event data — Monday 9am is
    * not Sunday 3am), then rank events by their residual against that
    * baseline. The complement of [[qMadAnomaly]] (which is
    * per-entity but season-blind): a value normal for peak hours is
    * anomalous at 3am, and only the seasonal baseline sees that.
    * Exact integers: cents quantization, DIV means, integer residuals.
    * One 168-key aggregation (uniform, map-side partials collapse the
    * corpus to 168 rows), broadcast back over one map pass, top-k via
    * TakeOrderedAndProject. Day-of-week convention: Spark's dayofweek
    * is 1-based Sunday, DuckDB's dow is 0-based Sunday — the Spark side
    * subtracts 1.
    */
  private val qSeasonal = GraftQuery(
    "qe_seasonal_residuals",
    (s, dir) => {
      val c = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          ((dayofweek(col("ts")) - 1) * 24 + hour(col("ts"))).as("how"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val profile = c.groupBy(col("how"))
        .agg(expr("sum(cents) div count(1)").as("seasonal_cents"))
      c.join(broadcast(profile), Seq("how"))
        .select(col("event_id"), col("user_id"), col("how"), col("cents"),
          col("seasonal_cents"),
          (col("cents") - col("seasonal_cents")).as("resid"))
        .orderBy(abs(col("resid")).desc, col("event_id"))
        .limit(20)
    },
    Some("""WITH c AS (SELECT event_id, user_id,
        date_part('dow', ts) * 24 + date_part('hour', ts) AS how,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      p AS (SELECT how, SUM(cents) // COUNT(*) AS seasonal_cents
        FROM c GROUP BY how)
      SELECT c.event_id, c.user_id, CAST(c.how AS INT) AS how, c.cents,
        CAST(p.seasonal_cents AS BIGINT) AS seasonal_cents,
        CAST(c.cents - p.seasonal_cents AS BIGINT) AS resid
      FROM c JOIN p ON c.how = p.how
      ORDER BY abs(c.cents - p.seasonal_cents) DESC, c.event_id LIMIT 20"""))

  /** Funnel TIME-to-convert: [[qFunnel]] counts who advances; this
    * measures how long each advance takes — per transition, the count
    * and the disc-percentile gap (p50/p90 seconds, integer epoch
    * arithmetic, percentile_disc both engines). Same conditional-min
    * CTE chain as the funnel (user-keyed aggregations and joins), one
    * extra 2-group ordered-set aggregate at the end — the conversion-
    * latency readout product analytics pairs with every funnel.
    */
  private val qFunnelTime = GraftQuery(
    "qe_funnel_time",
    (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_ft")
      s.sql("""WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events_ft
          WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events_ft e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events_ft e
          JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
        g AS (SELECT 1 AS step, 'view->click' AS transition,
            (unix_micros(c.t2) - unix_micros(v.t1)) div 1000000 AS gap_s
          FROM c JOIN v ON c.user_id = v.user_id
          UNION ALL SELECT 2, 'click->purchase',
            (unix_micros(p.t3) - unix_micros(c.t2)) div 1000000
          FROM p JOIN c ON p.user_id = c.user_id)
        SELECT step, transition, COUNT(*) AS n,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_s) AS BIGINT) AS p50_s,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_s) AS BIGINT) AS p90_s
        FROM g GROUP BY step, transition ORDER BY step""")
    },
    Some("""WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
      p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
      g AS (SELECT 1 AS step, 'view->click' AS transition,
          (epoch_us(c.t2) - epoch_us(v.t1)) // 1000000 AS gap_s
        FROM c JOIN v ON c.user_id = v.user_id
        UNION ALL SELECT 2, 'click->purchase',
          (epoch_us(p.t3) - epoch_us(c.t2)) // 1000000
        FROM p JOIN c ON p.user_id = c.user_id)
      SELECT step, transition, CAST(COUNT(*) AS BIGINT) AS n,
        quantile_disc(gap_s, 0.5) AS p50_s,
        quantile_disc(gap_s, 0.9) AS p90_s
      FROM g GROUP BY step, transition ORDER BY step"""))

  // ------------------------- CEP chain-pattern matching (Flink-CEP shape)
  /** Complex-event-processing chain patterns `s1+ s2+ ... s(n-1)+ sn`
    * with STRICT contiguity over each entity's event stream — the
    * canonical Flink CEP pattern (begin.oneOrMore.next...next), which is
    * the one streaming capability family of the reference's runtime this
    * library had not yet mirrored. Counts leftmost non-overlapping
    * matches per entity.
    *
    * Mechanics: each event encodes to one char (stage i → letter i,
    * everything else → 'x'); the per-entity sequence assembles with one
    * uniform-key aggregation (`array_sort` of (ts, id, char) structs —
    * per-entity state, never a global sort), and the pattern becomes one
    * codegen'd `regexp_count`. Entity sequences are bounded by per-entity
    * activity, the same premise as sessionization.
    *
    * Output: (user, n_matches) for entities with >= 1 match.
    */
  def cepPatternCount(events: DataFrame, stages: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", idCol: String = "event_id"): DataFrame = {
    require(stages.nonEmpty && stages.size <= 26, "1..26 pattern stages")
    require(stages.distinct.size == stages.size, "pattern stages must be distinct")
    val enc = stages.zipWithIndex.foldLeft(lit("x")) { case (acc, (st, i)) =>
      when(col(typeCol) === st, lit(('a' + i).toChar.toString)).otherwise(acc)
    }
    val regex = stages.indices.map(i => ('a' + i).toChar.toString)
      .zipWithIndex.map { case (ch, i) => if (i < stages.size - 1) s"$ch+" else ch }
      .mkString
    events
      .select(col(userCol).as("user"),
        struct(col(tsCol).as("t"), col(idCol).as("i"), enc.as("ch")).as("e"))
      .groupBy(col("user"))
      .agg(concat_ws("", expr("transform(array_sort(collect_list(e)), x -> x.ch)"))
        .as("sq"))
      .select(col("user"), regexp_count(col("sq"), lit(regex)).as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("user"))
  }

  private val CepStages = Seq("view", "click", "purchase")

  private val qCep = GraftQuery(
    "qe_cep_pattern",
    (s, dir) => cepPatternCount(Tables.events(s, dir), CepStages),
    Some("""WITH s AS (SELECT user_id AS user, string_agg(
        CASE event_type WHEN 'view' THEN 'a' WHEN 'click' THEN 'b'
          WHEN 'purchase' THEN 'c' ELSE 'x' END,
        '' ORDER BY ts, event_id) AS sq
      FROM events GROUP BY user_id)
      SELECT "user", CAST(len(regexp_extract_all(sq, 'a+b+c')) AS INT) AS n_matches
      FROM s WHERE len(regexp_extract_all(sq, 'a+b+c')) > 0
      ORDER BY "user""""))

  // Gaps-and-islands: longest run of CONSECUTIVE active days per user —
  // the engagement-streak readout, via the classic island-id identity
  // (day_number − row_number is constant exactly within a consecutive
  // run). One distinct-day agg → per-user rank window → island agg →
  // per-user argmax; all uniform user keys, no self-joins.
  private val qStreak = GraftQuery(
    "qe_longest_streak",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      val days = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val islands = days
        .withColumn("grp",
          expr("datediff(d, DATE '1970-01-01')") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), min(col("d")).as("start"))
      islands.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_days"),
          max(struct(col("len"),
            (lit(0L) - expr("datediff(start, DATE '1970-01-01')")).as("ns"))).as("w"))
        .select(col("user_id"), col("n_days"),
          col("w.len").as("longest_streak"),
          expr("date_add(DATE '1970-01-01', cast(-w.ns as int))").as("streak_start"))
        .orderBy(col("user_id"))
    },
    Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      FROM events WHERE event_type = 'purchase'),
    isl AS (SELECT user_id, d,
        (d - DATE '1970-01-01') -
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM days),
    runs AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
        MIN(d) AS start FROM isl GROUP BY user_id, grp),
    best AS (SELECT user_id, len, start,
        ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY len DESC, start) AS rk,
        SUM(len) OVER (PARTITION BY user_id) AS n_days
      FROM runs)
    SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
      len AS longest_streak, start AS streak_start
    FROM best WHERE rk = 1 ORDER BY user_id"""))

  // Interval-union coverage: total ACTIVE time per user when every event
  // opens a fixed attention window [ts, ts+5min) — overlaps must merge,
  // or a burst of events triple-counts the same minutes. The classic
  // merge-overlapping-intervals problem via the running-max-end island
  // identity: a new island starts exactly when this interval's start
  // exceeds the max end seen so far. Two per-user windows (running max,
  // island cumsum) + two aggs — uniform user keys, no self-joins.
  private val qCoverage = GraftQuery(
    "qe_covered_time",
    (s, dir) => {
      val winUs = 300000000L // 5 min
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("e", col("us") + winUs)
        .withColumn("pmax", max(col("e")).over(wPrev))
        .withColumn("new_isl",
          when(col("pmax").isNull || col("us") > col("pmax"), 1L).otherwise(0L))
        .withColumn("isl", sum(col("new_isl")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      iv.groupBy(col("user_id"), col("isl"))
        .agg(min(col("us")).as("s0"), max(col("e")).as("e0"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("e0") - col("s0")).as("covered_us"))
        .orderBy(col("user_id"))
    },
    Some("""WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        epoch_us(ts) + 300000000 AS e FROM events),
    mx AS (SELECT user_id, us, e,
        MAX(e) OVER (PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM iv),
    fl AS (SELECT user_id, us, e,
        CASE WHEN pmax IS NULL OR us > pmax THEN 1 ELSE 0 END AS new_isl,
        us AS ord_us FROM mx),
    isl AS (SELECT user_id, us, e,
        SUM(new_isl) OVER (PARTITION BY user_id ORDER BY us, e
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM fl),
    runs AS (SELECT user_id, isl, MIN(us) AS s0, MAX(e) AS e0
      FROM isl GROUP BY user_id, isl)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      CAST(SUM(e0 - s0) AS BIGINT) AS covered_us
    FROM runs GROUP BY user_id ORDER BY user_id"""))

  // Latency SLO report: p50/p95/p99 of per-user inter-event gaps per
  // event type, via the cume_dist + MIN CASE exact-percentile form the
  // bootstrap oracle standardized (no interpolation — reported
  // percentiles are actual observed gaps). One lag window (user key) +
  // one per-type percentile window over gap values.
  private val qLatencySlo = GraftQuery(
    "qe_latency_slo",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .select(col("event_type"), col("gap_us"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("gap_us"))
      gaps.withColumn("cd", cume_dist().over(wc))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          min(when(col("cd") >= 0.5, col("gap_us"))).as("p50_us"),
          min(when(col("cd") >= 0.95, col("gap_us"))).as("p95_us"),
          min(when(col("cd") >= 0.99, col("gap_us"))).as("p99_us"))
        .orderBy(col("event_type"))
    },
    Some("""WITH d AS (SELECT event_type,
        epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS gap_us
      FROM events),
    g AS (SELECT event_type, gap_us,
        cume_dist() OVER (PARTITION BY event_type ORDER BY gap_us) AS cd
      FROM d WHERE gap_us IS NOT NULL)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      MIN(CASE WHEN cd >= 0.5 THEN gap_us END) AS p50_us,
      MIN(CASE WHEN cd >= 0.95 THEN gap_us END) AS p95_us,
      MIN(CASE WHEN cd >= 0.99 THEN gap_us END) AS p99_us
    FROM g GROUP BY event_type ORDER BY event_type"""))

  // OHLC (open/high/low/close) daily bars per event type — the candle
  // aggregation time-series stores ship natively, here one hash agg:
  // open/close are min/max over the (us, event_id, cents) struct order
  // (event_id breaks timestamp ties deterministically), high/low plain
  // min/max. Uniform (type, day) keys, map-side partials.
  private val qOhlc = GraftQuery(
    "qe_ohlc",
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          unix_micros(col("ts")).as("us"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          min(struct(col("us"), col("event_id"), col("cents"))).as("_o"),
          max(col("cents")).as("high_cents"),
          min(col("cents")).as("low_cents"),
          max(struct(col("us"), col("event_id"), col("cents"))).as("_c"))
        .select(col("event_type"), col("day"), col("n"),
          col("_o.cents").as("open_cents"), col("high_cents"),
          col("low_cents"), col("_c.cents").as("close_cents"))
        .orderBy(col("event_type"), col("day"))
    },
    Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
        epoch_us(ts) AS us, event_id,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      r AS (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY event_type, day
          ORDER BY us, event_id) AS rn,
        ROW_NUMBER() OVER (PARTITION BY event_type, day
          ORDER BY us DESC, event_id DESC) AS rrn
      FROM b)
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(CASE WHEN rn = 1 THEN cents END) AS open_cents,
        MAX(cents) AS high_cents, MIN(cents) AS low_cents,
        MIN(CASE WHEN rrn = 1 THEN cents END) AS close_cents
      FROM r GROUP BY event_type, day ORDER BY event_type, day"""))

  /** RFM (recency / frequency / monetary) quintile segmentation — the
    * classic user-value featurization. Per user: days since last event
    * (vs the corpus max day), event count, value mass in cents; each
    * dimension scored 1–5 by NTILE(5) with a deterministic user_id
    * tie-break (both engines share the SQL-standard ntile: first n mod 5
    * buckets get the extra row). Orderings are chosen so 5 = best
    * (most recent / most frequent / highest spend). Output is the
    * 125-cell segment rollup — user count and exact average cents.
    *
    * Scale: one scan → per-user agg (uniform key), then three EXACT
    * global ranks over the USER frame via [[Scans.globalRank]] (the
    * two-level range-exchange + broadcast-offset scheme — NO
    * unpartitioned corpus-scaled window anywhere; the only global
    * window is the ≤P-row per-partition-offsets frame). Quintile is
    * then pure arithmetic on (rank, n): SQL-standard NTILE puts the
    * first n mod 5 buckets one row over n div 5 — both branches
    * integer-exact, so the scores are bit-identical to the oracle's
    * NTILE(5) (PlanAuditSpec pins the plan; the gate pins the values).
    */
  private val qRfm = GraftQuery(
    "qe_rfm",
    (s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("f"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("m"))
      val maxd = perUser.agg(max(col("last_day")).as("maxd"),
        count(lit(1)).as("nu"))
      var scored = perUser.crossJoin(broadcast(maxd))
        .withColumn("rec_days", datediff(col("maxd"), col("last_day")).cast("long"))
      scored = Scans.globalRank(scored,
        Seq(col("last_day").asc, col("user_id").asc), "r_rn")
      scored = Scans.globalRank(scored,
        Seq(col("f").asc, col("user_id").asc), "f_rn")
      scored = Scans.globalRank(scored,
        Seq(col("m").asc, col("user_id").asc), "m_rn")
      // NTILE(5) from exact rank: first (nu % 5) buckets hold
      // (nu div 5 + 1) rows, the rest (nu div 5); greatest(…, 1) keeps
      // the never-taken else-branch division total when nu < 5
      def quint(rn: String): Column = when(
        col(rn) <= expr(s"(nu % 5) * (nu div 5 + 1)"),
        expr(s"($rn + (nu div 5)) div (nu div 5 + 1)")).otherwise(
        expr(s"(nu % 5) + ($rn - (nu % 5) * (nu div 5 + 1) " +
          s"+ greatest(nu div 5, 1) - 1) div greatest(nu div 5, 1)"))
      scored = scored.withColumn("r_q", quint("r_rn"))
        .withColumn("f_q", quint("f_rn"))
        .withColumn("m_q", quint("m_rn"))
      scored.groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("m")).as("tot_cents"),
          min(col("rec_days")).as("min_rec_days"))
        .withColumn("avg_cents", expr("tot_cents div n_users"))
        .select(col("r_q").cast("long").as("r_q"),
          col("f_q").cast("long").as("f_q"),
          col("m_q").cast("long").as("m_q"),
          col("n_users"), col("tot_cents"), col("min_rec_days"), col("avg_cents"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    },
    Some("""WITH pu AS (SELECT user_id, CAST(MAX(ts) AS DATE) AS last_day,
        COUNT(*) AS f, SUM(CAST(round(value * 100) AS BIGINT)) AS m
      FROM events GROUP BY user_id),
    mx AS (SELECT MAX(last_day) AS maxd FROM pu),
    sc AS (SELECT pu.*, date_diff('day', last_day, maxd) AS rec_days,
        NTILE(5) OVER (ORDER BY last_day ASC, user_id ASC) AS r_q,
        NTILE(5) OVER (ORDER BY f ASC, user_id ASC) AS f_q,
        NTILE(5) OVER (ORDER BY m ASC, user_id ASC) AS m_q
      FROM pu CROSS JOIN mx)
    SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
      CAST(m_q AS BIGINT) AS m_q, COUNT(*) AS n_users,
      CAST(SUM(m) AS BIGINT) AS tot_cents,
      CAST(MIN(rec_days) AS BIGINT) AS min_rec_days,
      CAST(CAST(SUM(m) AS HUGEINT) // COUNT(*) AS BIGINT) AS avg_cents
    FROM sc GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q"""))

  /** Stationary distribution of the event-type Markov chain — where the
    * user process spends its long-run time, the summary readout over
    * [[qTransitions]]' matrix. Power iteration on the EXACT rational
    * chain: π'_j = Σ_i ⌊π_i·c_ij / r_i⌋ on the ×10¹² grid (per-term
    * floors engine-identical; no renormalization needed — row counts
    * make P stochastic so mass is conserved up to floor dust). Three
    * fixed rounds, matrix-free: each round is one join of the π frame
    * (event-type domain) against the count matrix + one agg — all
    * domain-sized after the one corpus pass that builds counts.
    */
  private val qStationary = GraftQuery(
    "qe_markov_stationary",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val m = Tables.events(s, dir)
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("ft"), col("to_type").as("tt"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val rows = m.groupBy(col("ft")).agg(sum(col("c")).as("r"))
      val mm = m.join(rows, "ft").localCheckpoint()
      val states = mm.select(col("ft").as("st")).distinct()
      val n0 = states.count()
      var pi = states.withColumn("p", lit(1000000000000L / n0))
      for (it <- 1 to 3) {
        val next = mm.join(pi, mm("ft") === pi("st"))
          .select(col("tt"), expr("(p * c) div r").as("m1"))
          .join(states, col("tt") === col("st"), "right")
          .groupBy(col("st"))
          .agg(coalesce(sum(col("m1")), lit(0L)).as("p"))
        // last power round feeds only the final readout — no checkpoint
        pi = if (it < 3) next.localCheckpoint() else next
      }
      pi.select(col("st").as("event_type"), col("p").as("pi_pico"))
        .orderBy(col("event_type"))
    },
    Some("""WITH s AS (SELECT user_id, event_type,
      LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM events),
    m0 AS (SELECT event_type AS ft, to_type AS tt, COUNT(*) AS c
      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
    r AS (SELECT ft, SUM(c) AS r FROM m0 GROUP BY ft),
    m AS (SELECT m0.ft, m0.tt, m0.c, r.r FROM m0 JOIN r USING (ft)),
    st AS (SELECT DISTINCT ft AS st FROM m0),
    nn AS (SELECT COUNT(*) AS n FROM st),
    p0 AS (SELECT st, 1000000000000 // n AS p FROM st, nn),
    p1 AS (SELECT st.st, COALESCE(SUM((p0.p * m.c) // m.r), 0) AS p
      FROM st LEFT JOIN m ON m.tt = st.st
      LEFT JOIN p0 ON m.ft = p0.st GROUP BY st.st),
    p2 AS (SELECT st.st, COALESCE(SUM((p1.p * m.c) // m.r), 0) AS p
      FROM st LEFT JOIN m ON m.tt = st.st
      LEFT JOIN p1 ON m.ft = p1.st GROUP BY st.st),
    p3 AS (SELECT st.st, COALESCE(SUM((p2.p * m.c) // m.r), 0) AS p
      FROM st LEFT JOIN m ON m.tt = st.st
      LEFT JOIN p2 ON m.ft = p2.st GROUP BY st.st)
    SELECT st AS event_type, CAST(p AS BIGINT) AS pi_pico
    FROM p3 ORDER BY event_type"""))

  /** Growth-accounting lifecycle states per ISO week: every active
    * (user, week) is `new` (first-ever week), `retained` (also active
    * the prior week) or `resurrected` (returning after a gap); a
    * `churned` row is attributed to the week AFTER each activity spell
    * ends (bounded to the observed week spine). The four series sum to
    * the classic growth-accounting identity actives_w = new + retained
    * + resurrected, churned_w = actives_{w−1} − retained_w.
    *
    * Plan: distinct (user, week) frame → per-user lag/lead windows
    * (uniform user key) → week-domain agg; churn rows are generated by
    * the SAME frame's lead, no second scan. Both engines truncate weeks
    * to ISO Monday (date_trunc('week')).
    */
  private val qLifecycle = GraftQuery(
    "qe_lifecycle",
    (s, dir) => {
      val uw = Tables.events(s, dir)
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct().localCheckpoint()
      val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
      val st = uw
        .withColumn("prev", lag(col("wk"), 1).over(w))
        .withColumn("nxt", lead(col("wk"), 1).over(w))
        .withColumn("state",
          when(col("prev").isNull, "new")
            .when(expr("prev = date_sub(wk, 7)"), "retained")
            .otherwise("resurrected"))
      val active = st.groupBy(col("wk"))
        .agg(sum(when(col("state") === "new", 1L).otherwise(0L)).as("new_users"),
          sum(when(col("state") === "retained", 1L).otherwise(0L)).as("retained"),
          sum(when(col("state") === "resurrected", 1L).otherwise(0L)).as("resurrected"))
      val spine = uw.select(col("wk")).distinct()
      val churn = st
        .filter(col("nxt").isNull || expr("nxt > date_add(wk, 7)"))
        .select(expr("date_add(wk, 7)").as("wk"))
        .join(spine, "wk")
        .groupBy(col("wk")).agg(count(lit(1)).as("churned"))
      active.join(churn, Seq("wk"), "left")
        .select(col("wk"), col("new_users"), col("retained"), col("resurrected"),
          coalesce(col("churned"), lit(0L)).as("churned"))
        .orderBy(col("wk"))
    },
    Some("""WITH uw AS (SELECT DISTINCT user_id,
        CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
    st AS (SELECT user_id, wk,
        LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
        LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS nxt
      FROM uw),
    lab AS (SELECT wk,
        CASE WHEN prev IS NULL THEN 'new'
          WHEN prev = wk - 7 THEN 'retained'
          ELSE 'resurrected' END AS state, nxt
      FROM st),
    act AS (SELECT wk,
        CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS retained,
        CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
      FROM lab GROUP BY wk),
    spine AS (SELECT DISTINCT wk FROM uw),
    ch AS (SELECT c.wk, COUNT(*) AS churned
      FROM (SELECT wk + 7 AS wk FROM lab WHERE nxt IS NULL OR nxt > wk + 7) c
      JOIN spine s ON c.wk = s.wk GROUP BY c.wk)
    SELECT act.wk, act.new_users, act.retained, act.resurrected,
      CAST(COALESCE(ch.churned, 0) AS BIGINT) AS churned
    FROM act LEFT JOIN ch ON act.wk = ch.wk
    ORDER BY act.wk"""))

  /** Weekday × hour activity heatmap — the load-pattern readout behind
    * capacity planning and anomaly baselines. Weekday is Monday = 0
    * (Spark `weekday` ≡ DuckDB `isodow − 1` — the one dow convention
    * both engines express exactly); share is basis points of total.
    * One scan → 168-cell agg; domain-bounded forever.
    */
  private val qHeatmap = GraftQuery(
    "qe_activity_heatmap",
    (s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(weekday(col("ts")).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
      cells.crossJoin(broadcast(cells.agg(sum(col("n")).as("tot"))))
        .select(col("dow"), col("hr"), col("n"),
          expr("(10000 * n) div tot").as("share_bp"))
        .orderBy(col("dow"), col("hr"))
    },
    Some("""WITH c AS (SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
        CAST(hour(ts) AS BIGINT) AS hr, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    t AS (SELECT SUM(n) AS tot FROM c)
    SELECT dow, hr, n, CAST((10000 * n) // tot AS BIGINT) AS share_bp
    FROM c, t ORDER BY dow, hr"""))

  /** Cohort lifetime-value curves — the revenue companion to
    * [[qRetention]] (same weekly day-cohort keys, so the two compose
    * into the classic retention × LTV dashboard): per (cohort_day,
    * week_offset), the week's revenue, the running cumulative, and
    * cumulative LTV per cohort member in exact cents (floor division by
    * the FIXED cohort size — denominators never shift as weeks accrue).
    *
    * Plan: per-user min-date agg (uniform key) → cohort sizes as a
    * re-agg of the USER frame → uniform join back → (cohort, week) agg
    * → one cumsum window partitioned by cohort (cohort-domain-sized).
    */
  private val qLtv = GraftQuery(
    "qe_ltv_curve",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val first = e.groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("cohort_day"))
      val sizes = first.groupBy(col("cohort_day")).agg(count(lit(1)).as("c_size"))
      val wk = e.join(first, "user_id")
        .withColumn("week_offset", expr("datediff(to_date(ts), cohort_day) div 7"))
        .groupBy(col("cohort_day"), col("week_offset"))
        .agg(sum(col("cents")).as("wk_cents"))
      val w = Window.partitionBy(col("cohort_day")).orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      wk.withColumn("cum_cents", sum(col("wk_cents")).over(w))
        .join(sizes, "cohort_day")
        .select(col("cohort_day"), col("week_offset"), col("c_size"),
          col("wk_cents"), col("cum_cents"),
          expr("cum_cents div c_size").as("ltv_cents"))
        .orderBy(col("cohort_day"), col("week_offset"))
    },
    Some("""WITH e AS (SELECT user_id, ts,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
    f AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
      FROM e GROUP BY user_id),
    sz AS (SELECT cohort_day, COUNT(*) AS c_size FROM f GROUP BY cohort_day),
    wk AS (SELECT f.cohort_day,
        (CAST(e.ts AS DATE) - f.cohort_day) // 7 AS week_offset,
        SUM(e.cents) AS wk_cents
      FROM e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2),
    c AS (SELECT cohort_day, week_offset, wk_cents,
        SUM(wk_cents) OVER (PARTITION BY cohort_day ORDER BY week_offset
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
      FROM wk)
    SELECT c.cohort_day, c.week_offset, CAST(sz.c_size AS BIGINT) AS c_size,
      CAST(c.wk_cents AS BIGINT) AS wk_cents,
      CAST(c.cum_cents AS BIGINT) AS cum_cents,
      CAST(CAST(c.cum_cents AS HUGEINT) // sz.c_size AS BIGINT) AS ltv_cents
    FROM c JOIN sz ON c.cohort_day = sz.cohort_day
    ORDER BY c.cohort_day, c.week_offset"""))

  /** DAU / WAU / MAU active-user series + the DAU/MAU stickiness ratio —
    * the canonical engagement dashboard. Trailing-window distinct counts
    * are computed by SUPPORT EXPLOSION, not a range self-join: each
    * distinct (user, day) row supports the 30 trailing windows ending on
    * day..day+29, so ONE bounded ×30 Generate covers every window, and
    * one (window-day, user) MIN(offset) aggregation replaces all three
    * distinct counts — a user is in the day's DAU iff min_off = 0, WAU
    * iff min_off ≤ 6, MAU always (min_off ≤ 29 by construction). Days
    * are restricted to the observed day spine, so warm-up rows carry
    * the partial trailing window by definition.
    *
    * Scale: the exploded frame is (active user-days)×30 — a bounded
    * multiplier on an already user-domain-sized frame; ONE uniform
    * (day, user)-key agg + one day agg, no COUNT(DISTINCT) anywhere.
    */
  private val qDauMau = GraftQuery(
    "qe_dau_mau",
    (s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct().localCheckpoint()
      val spine = ud.select(col("day")).distinct()
      val sup = ud
        .select(col("user_id"), col("day"),
          explode(expr("sequence(0, 29)")).as("off"))
        .select(col("user_id"), expr("date_add(day, off)").as("day"),
          col("off"))
        .join(spine, "day")
        .groupBy(col("day"), col("user_id")).agg(min(col("off")).as("mo"))
      sup.groupBy(col("day"))
        .agg(sum(when(col("mo") === 0, 1L).otherwise(0L)).as("dau"),
          sum(when(col("mo") <= 6, 1L).otherwise(0L)).as("wau"),
          count(lit(1)).as("mau"))
        .select(col("day"), col("dau"), col("wau"), col("mau"),
          expr("(10000 * dau) div mau").as("stickiness_bp"))
        .orderBy(col("day"))
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events),
    spine AS (SELECT DISTINCT day FROM ud),
    sup AS (SELECT e.day, e.user_id, MIN(e.off) AS mo
      FROM (SELECT user_id, day + CAST(off AS INTEGER) AS day, off
            FROM ud, unnest(generate_series(0, 29)) u(off)) e
      JOIN spine d ON e.day = d.day GROUP BY e.day, e.user_id),
    agg AS (SELECT day,
        CAST(SUM(CASE WHEN mo = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
        CAST(SUM(CASE WHEN mo <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS wau,
        COUNT(*) AS mau
      FROM sup GROUP BY day)
    SELECT day, dau, wau, mau,
      CAST((10000 * dau) // mau AS BIGINT) AS stickiness_bp
    FROM agg ORDER BY day"""))

  /** Frequent sequential 2-patterns (GSP/PrefixSpan's length-2 core):
    * for every ordered pair of distinct event types (a → b), the number
    * of users who performed SOME a strictly before SOME b ("eventually
    * follows" — not merely adjacent, which [[qTransitions]] counts), and
    * the confidence support(a→b)/users(a) in basis points.
    *
    * The trick that keeps it linear: "∃ a-event before a b-event" ⟺
    * min_ts(user, a) < max_ts(user, b), so the corpus collapses to the
    * per-(user, type) min/max frame FIRST (one user-key aggregation,
    * |users|·|types| rows) and the pattern join pairs types WITHIN each
    * user — a |types|²-bounded fan-out on the user equi-key, never a
    * corpus self-join on raw events. Support counting is then a tiny
    * |types|² aggregation. At 100 TB the only corpus-sized operation is
    * the first groupBy.
    *
    * Output: (from_type, to_type, support, n_from, conf_bp) for every
    * observed pattern, ordered by (from_type, to_type).
    */
  private val qSeqPatterns = GraftQuery(
    "qe_seq_patterns",
    (s, dir) => {
      val ut = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      val a = ut.select(col("user_id"), col("event_type").as("from_type"),
        col("mn"))
      val b = ut.select(col("user_id"), col("event_type").as("to_type"),
        col("mx"))
      val pairs = a.join(b, Seq("user_id"))
        .filter(col("from_type") =!= col("to_type") && col("mn") < col("mx"))
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("support"))
      val fromTot = ut.groupBy(col("event_type").as("from_type"))
        .agg(count(lit(1)).as("n_from"))
      pairs.join(broadcast(fromTot), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("support"), col("n_from"),
          expr("(10000 * support) div n_from").as("conf_bp"))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""WITH ut AS (SELECT user_id, event_type, MIN(ts) AS mn, MAX(ts) AS mx
      FROM events GROUP BY 1, 2),
    p AS (SELECT a.event_type AS from_type, b.event_type AS to_type
      FROM ut a JOIN ut b ON a.user_id = b.user_id
        AND a.event_type <> b.event_type
      WHERE a.mn < b.mx),
    sup AS (SELECT from_type, to_type, COUNT(*) AS support
      FROM p GROUP BY 1, 2),
    t AS (SELECT event_type AS from_type, COUNT(*) AS n_from
      FROM ut GROUP BY 1)
    SELECT sup.from_type, sup.to_type, CAST(sup.support AS BIGINT) AS support,
      CAST(t.n_from AS BIGINT) AS n_from,
      CAST((10000 * sup.support) // t.n_from AS BIGINT) AS conf_bp
    FROM sup JOIN t USING (from_type)
    ORDER BY from_type, to_type"""))

  /** Trailing-7-day distinct users from MERGED per-day HLL sketches — the
    * sliding-window face of [[Relational2]]'s qagg_hll_sketch rollup and
    * the reason sketches are stored per partition at 100 TB: any trailing
    * window's distinct count is a union of 7 pre-built day sketches
    * (lossless for same-lgK HLLs), never a rescan of the raw events. The
    * window assembly is shuffle-friendly: each day's sketch row explodes
    * into the ≤ 7 window-ends it covers (map-side sequence explode,
    * uniform keys — no range join, no BNL), semi-joined to the observed
    * day domain so partial leading windows don't fabricate rows.
    *
    * Gate contract (same device as qagg_hll_sketch): the row carries the
    * EXACT trailing count — computed from the (day, user) collapse with
    * the same explode, which is the 7× rescan the sketch path exists to
    * avoid — plus `within_10pct` of the merged estimate. 10 % ≈ 6σ at
    * lgK = 12 over ~365 window rows (5 % ≈ 3.2σ would let an expected
    * ~½ row per year drift red by chance); DuckDB mirrors the exact count
    * and asserts TRUE.
    */
  private val qHllSliding = GraftQuery(
    "qagg_hll_sliding",
    (s, dir) => {
      val du = Tables.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id"))
        .distinct().localCheckpoint()
      val days = du.select(col("d")).distinct()
      val exact = du
        .select(explode(expr("sequence(d, date_add(d, 6))")).as("we"),
          col("user_id"))
        .join(days.select(col("d").as("we")), Seq("we"), "left_semi")
        .groupBy(col("we"))
        .agg(countDistinct(col("user_id")).as("exact_users_7d"))
      val merged = du.groupBy(col("d"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        .select(explode(expr("sequence(d, date_add(d, 6))")).as("we"), col("sk"))
        .join(days.select(col("d").as("we")), Seq("we"), "left_semi")
        .groupBy(col("we"))
        .agg(expr("hll_union_agg(sk, false)").as("sk"))
        .select(col("we"), expr("hll_sketch_estimate(sk)").as("approx"))
      exact.join(merged, Seq("we"))
        .select(col("we").as("window_end"), col("exact_users_7d"),
          (abs(col("approx") - col("exact_users_7d")) * lit(10L)
            <= col("exact_users_7d")).as("within_10pct"))
        .orderBy(col("window_end"))
    },
    Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM du),
    ex AS (SELECT we, COUNT(DISTINCT user_id) AS exact_users_7d
      FROM (SELECT CAST(unnest(generate_series(d, d + 6, INTERVAL 1 DAY)) AS DATE) AS we,
          user_id FROM du)
      WHERE we IN (SELECT d FROM days) GROUP BY we)
    SELECT we AS window_end, CAST(exact_users_7d AS BIGINT) AS exact_users_7d,
      TRUE AS within_10pct
    FROM ex ORDER BY window_end"""))

  // ------------------------------------- Kaplan–Meier survival curve
  /** Kaplan–Meier survival estimator (JASA 1958) with right censoring —
    * the statistically correct churn/retention curve where
    * [[qRetention]]'s cohort grid is the descriptive one: a user whose
    * last activity falls within `censorDays` of the corpus end is
    * CENSORED (still alive, lifetime only known to exceed its observed
    * span), not counted as churned — the distinction naive retention
    * rates get wrong. Ŝ(t) = Π_{s≤t} (1 − d_s/n_s) over observed
    * lifetime days, censored users leaving the risk set without
    * contributing an event.
    *
    * Exactness/scale: per-user (first, last) is one corpus aggregate;
    * everything after lives on the LIFETIME-DAY frame, whose key domain
    * is bounded by the observation window (days, not users — the
    * sanctioned bounded-domain tier). The product fold runs as ONE
    * `aggregate` expression over the sorted day array with
    * (removed, s_ppm, rows) state — ppm floor per step, identical in
    * both engines; the oracle unrolls the same recurrence as a recursive
    * CTE. No corpus-sized window anywhere.
    *
    * Output: (day, n_risk, n_events, n_censored, s_ppm) for each
    * observed lifetime day, ordered by day; s_ppm is nonincreasing.
    */
  def kaplanMeier(events: DataFrame, tsCol: String = "ts",
      userCol: String = "user_id", censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0, got $censorDays")
    val u = events.groupBy(col(userCol).as("u"))
      .agg(to_date(min(col(tsCol))).as("f"), to_date(max(col(tsCol))).as("l"))
    val m = events.agg(to_date(max(col(tsCol))).as("mt"))
    val days = u.crossJoin(broadcast(m))
      .select(datediff(col("l"), col("f")).as("t"),
        (datediff(col("mt"), col("l")) < censorDays).cast("int").as("cens"))
      .groupBy(col("t"))
      .agg(sum(lit(1) - col("cens")).as("d"), sum(col("cens")).as("c"))
    days.agg(sort_array(collect_list(struct(col("t"), col("d"), col("c"))))
        .as("ws"))
      .withColumn("tot", expr(
        "aggregate(ws, CAST(0 AS BIGINT), (a, x) -> a + x.d + x.c)"))
      .withColumn("rows", expr(
        """aggregate(ws,
          struct(CAST(0 AS BIGINT) AS rem, CAST(1000000 AS BIGINT) AS sp,
            CAST(array() AS array<struct<t:int,n:bigint,d:bigint,c:bigint,s:bigint>>) AS out),
          (acc, x) -> struct(
            acc.rem + x.d + x.c AS rem,
            (acc.sp * (tot - acc.rem - x.d)) div (tot - acc.rem) AS sp,
            concat(acc.out, array(struct(x.t AS t, tot - acc.rem AS n,
              x.d AS d, x.c AS c,
              (acc.sp * (tot - acc.rem - x.d)) div (tot - acc.rem) AS s))) AS out),
          acc -> acc.out)"""))
      .select(explode(col("rows")).as("r"))
      .select(col("r.t").as("day"), col("r.n").as("n_risk"),
        col("r.d").as("n_events"), col("r.c").as("n_censored"),
        col("r.s").as("s_ppm"))
      .orderBy(col("day"))
  }

  private val KmCensorDays = 2

  /** Purchasing lifetime (first→last purchase), censor window 2 days —
    * the binding where churn events actually occur (every user stays
    * ACTIVE to the corpus end, so all-events lifetimes are 100 %
    * censored — correct but vacuous; purchasing stops earlier).
    */
  private val qKaplanMeier = GraftQuery(
    "qe_kaplan_meier",
    (s, dir) => kaplanMeier(
      Tables.events(s, dir).filter(col("event_type") === "purchase"),
      censorDays = KmCensorDays),
    Some(s"""WITH RECURSIVE ev AS (SELECT user_id, ts FROM events
        WHERE event_type = 'purchase'),
    u AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS f,
        CAST(MAX(ts) AS DATE) AS l FROM ev GROUP BY user_id),
    m AS (SELECT CAST(MAX(ts) AS DATE) AS mt FROM ev),
    uu AS (SELECT date_diff('day', f, l) AS t,
        CASE WHEN date_diff('day', l, mt) < $KmCensorDays THEN 1 ELSE 0 END AS cens
      FROM u, m),
    wk AS (SELECT t, SUM(1 - cens) AS d, SUM(cens) AS c FROM uu GROUP BY t),
    idx AS (SELECT t, d, c, ROW_NUMBER() OVER (ORDER BY t) AS i FROM wk),
    tot AS (SELECT SUM(d + c) AS tot FROM wk),
    km AS (
      SELECT i.i, i.t, tot.tot AS n, i.d, i.c,
          (1000000 * (tot.tot - i.d)) // tot.tot AS s,
          tot.tot - i.d - i.c AS nrem
        FROM idx i, tot WHERE i.i = 1
      UNION ALL
      SELECT i.i, i.t, km.nrem AS n, i.d, i.c,
          (km.s * (km.nrem - i.d)) // km.nrem AS s,
          km.nrem - i.d - i.c AS nrem
        FROM idx i JOIN km ON i.i = km.i + 1)
    SELECT CAST(t AS INT) AS day, CAST(n AS BIGINT) AS n_risk,
      CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
      CAST(s AS BIGINT) AS s_ppm
    FROM km ORDER BY day"""))

  // --------------------------------- Nelson–Aalen cumulative hazard
  /** Nelson–Aalen cumulative-hazard estimator over the same
    * right-censored lifetime frame as [[kaplanMeier]] — the additive
    * dual of KM's multiplicative survival curve (Ĥ(t) = Σ_{s≤t} d_s/n_s,
    * the canonical input to hazard-ratio eyeballing and to Breslow-type
    * baselines), plus the Poisson-form variance Σ d_s/n_s².
    *
    * Same exactness/scale contract as KM: one corpus aggregate to
    * per-user (first, last), then everything lives on the bounded
    * LIFETIME-DAY frame folded in ONE `aggregate` expression — per-step
    * ppm/ppb floors, identical integer arithmetic in both engines, no
    * corpus-sized window. BIGINT suffices throughout: the worst term is
    * 10⁹·d ≤ 10⁹·n ≤ 10¹⁸ at 10⁹ subjects.
    *
    * Output: (day, n_risk, n_events, n_censored, h_ppm, var_ppb),
    * ordered by day; h_ppm is nondecreasing.
    */
  def nelsonAalen(events: DataFrame, tsCol: String = "ts",
      userCol: String = "user_id", censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0, got $censorDays")
    val u = events.groupBy(col(userCol).as("u"))
      .agg(to_date(min(col(tsCol))).as("f"), to_date(max(col(tsCol))).as("l"))
    val m = events.agg(to_date(max(col(tsCol))).as("mt"))
    val days = u.crossJoin(broadcast(m))
      .select(datediff(col("l"), col("f")).as("t"),
        (datediff(col("mt"), col("l")) < censorDays).cast("int").as("cens"))
      .groupBy(col("t"))
      .agg(sum(lit(1) - col("cens")).as("d"), sum(col("cens")).as("c"))
    days.agg(sort_array(collect_list(struct(col("t"), col("d"), col("c"))))
        .as("ws"))
      .withColumn("tot", expr(
        "aggregate(ws, CAST(0 AS BIGINT), (a, x) -> a + x.d + x.c)"))
      .withColumn("rows", expr(
        """aggregate(ws,
          struct(CAST(0 AS BIGINT) AS rem, CAST(0 AS BIGINT) AS h,
            CAST(0 AS BIGINT) AS v,
            CAST(array() AS array<struct<t:int,n:bigint,d:bigint,c:bigint,h:bigint,v:bigint>>) AS out),
          (acc, x) -> struct(
            acc.rem + x.d + x.c AS rem,
            acc.h + (1000000 * x.d) div (tot - acc.rem) AS h,
            acc.v + (1000000000 * x.d)
              div ((tot - acc.rem) * (tot - acc.rem)) AS v,
            concat(acc.out, array(struct(x.t AS t, tot - acc.rem AS n,
              x.d AS d, x.c AS c,
              acc.h + (1000000 * x.d) div (tot - acc.rem) AS h,
              acc.v + (1000000000 * x.d)
                div ((tot - acc.rem) * (tot - acc.rem)) AS v))) AS out),
          acc -> acc.out)"""))
      .select(explode(col("rows")).as("r"))
      .select(col("r.t").as("day"), col("r.n").as("n_risk"),
        col("r.d").as("n_events"), col("r.c").as("n_censored"),
        col("r.h").as("h_ppm"), col("r.v").as("var_ppb"))
      .orderBy(col("day"))
  }

  /** Same binding as [[qKaplanMeier]]: purchasing lifetimes, censor 2d. */
  private val qNelsonAalen = GraftQuery(
    "qe_nelson_aalen",
    (s, dir) => nelsonAalen(
      Tables.events(s, dir).filter(col("event_type") === "purchase"),
      censorDays = KmCensorDays),
    Some(s"""WITH RECURSIVE ev AS (SELECT user_id, ts FROM events
        WHERE event_type = 'purchase'),
    u AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS f,
        CAST(MAX(ts) AS DATE) AS l FROM ev GROUP BY user_id),
    m AS (SELECT CAST(MAX(ts) AS DATE) AS mt FROM ev),
    uu AS (SELECT date_diff('day', f, l) AS t,
        CASE WHEN date_diff('day', l, mt) < $KmCensorDays THEN 1 ELSE 0 END AS cens
      FROM u, m),
    wk AS (SELECT t, SUM(1 - cens) AS d, SUM(cens) AS c FROM uu GROUP BY t),
    idx AS (SELECT t, d, c, ROW_NUMBER() OVER (ORDER BY t) AS i FROM wk),
    tot AS (SELECT SUM(d + c) AS tot FROM wk),
    na AS (
      SELECT i.i, i.t, tot.tot AS n, i.d, i.c,
          (1000000 * i.d) // tot.tot AS h,
          (1000000000 * i.d) // (tot.tot * tot.tot) AS v,
          tot.tot - i.d - i.c AS nrem
        FROM idx i, tot WHERE i.i = 1
      UNION ALL
      SELECT i.i, i.t, na.nrem AS n, i.d, i.c,
          na.h + (1000000 * i.d) // na.nrem AS h,
          na.v + (1000000000 * i.d) // (na.nrem * na.nrem) AS v,
          na.nrem - i.d - i.c AS nrem
        FROM idx i JOIN na ON i.i = na.i + 1)
    SELECT CAST(t AS INT) AS day, CAST(n AS BIGINT) AS n_risk,
      CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
      CAST(h AS BIGINT) AS h_ppm, CAST(v AS BIGINT) AS var_ppb
    FROM na ORDER BY day"""))

  // ------------------------------------------- log-rank test (2 groups)
  /** Two-sample log-rank test (Mantel–Cox) over right-censored
    * lifetimes — "do the two cohorts' survival curves differ?", the
    * hypothesis test that pairs with [[kaplanMeier]]'s estimate. At each
    * distinct lifetime day t with d_t = d₁+d₂ events and n_t = n₁+n₂ at
    * risk: E₁ += d·n₁/n and V += d·n₁·n₂·(n−d)/(n²(n−1)); the statistic
    * is (O₁−E₁)²/V ~ χ²₁ under H₀.
    *
    * Exactness/scale: the group flag is one corpus aggregate (max-case
    * per user), lifetimes a second; the test itself folds the bounded
    * lifetime-day frame in ONE `aggregate` expression with per-step ppm
    * floors. The V numerator is 10⁶·d·n₁·n₂·n ≤ 10⁶·n⁴ — past BIGINT at
    * ~10⁴ subjects — so the fold state rides in DECIMAL(38,0) (good to
    * n ≈ 10⁸ per group; the oracle's HUGEINT mirrors it).
    *
    * Output (1 row): (n1, n2, o1, o2, e1_ppm, v_ppm, chi2_milli,
    * reject_05) with χ²₁ critical 3.841 pinned in milli.
    */
  def logRank(events: DataFrame, group1: Column, tsCol: String = "ts",
      userCol: String = "user_id", censorDays: Int = 7,
      criticalMilli: Long = 3841L): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0, got $censorDays")
    val u = events.groupBy(col(userCol).as("u"))
      .agg(to_date(min(col(tsCol))).as("f"), to_date(max(col(tsCol))).as("l"),
        max(group1.cast("int")).as("g1"))
    val m = events.agg(to_date(max(col(tsCol))).as("mt"))
    val days = u.crossJoin(broadcast(m))
      .select(datediff(col("l"), col("f")).as("t"),
        (datediff(col("mt"), col("l")) < censorDays).cast("int").as("cens"),
        col("g1"))
      .groupBy(col("t"))
      .agg(sum(col("g1") * (lit(1) - col("cens"))).as("d1"),
        sum(col("g1") * col("cens")).as("c1"),
        sum((lit(1) - col("g1")) * (lit(1) - col("cens"))).as("d2"),
        sum((lit(1) - col("g1")) * col("cens")).as("c2"))
    days.agg(sort_array(collect_list(
        struct(col("t"), col("d1"), col("c1"), col("d2"), col("c2")))).as("ws"))
      .withColumn("tot1", expr(
        "aggregate(ws, CAST(0 AS BIGINT), (a, x) -> a + x.d1 + x.c1)"))
      .withColumn("tot2", expr(
        "aggregate(ws, CAST(0 AS BIGINT), (a, x) -> a + x.d2 + x.c2)"))
      .withColumn("st", expr(
        """aggregate(ws,
          struct(CAST(0 AS DECIMAL(38,0)) AS rem1, CAST(0 AS DECIMAL(38,0)) AS rem2,
            CAST(0 AS DECIMAL(38,0)) AS o1, CAST(0 AS DECIMAL(38,0)) AS o2,
            CAST(0 AS DECIMAL(38,0)) AS e1, CAST(0 AS DECIMAL(38,0)) AS v),
          (acc, x) -> struct(
            CAST(acc.rem1 + x.d1 + x.c1 AS DECIMAL(38,0)) AS rem1,
            CAST(acc.rem2 + x.d2 + x.c2 AS DECIMAL(38,0)) AS rem2,
            CAST(acc.o1 + x.d1 AS DECIMAL(38,0)) AS o1,
            CAST(acc.o2 + x.d2 AS DECIMAL(38,0)) AS o2,
            CAST(acc.e1 + (CAST(1000000 AS DECIMAL(38,0)) * (x.d1 + x.d2)
                * (tot1 - acc.rem1))
              div (tot1 - acc.rem1 + tot2 - acc.rem2) AS DECIMAL(38,0)) AS e1,
            CAST(acc.v + IF(tot1 - acc.rem1 + tot2 - acc.rem2 > 1,
              (CAST(1000000 AS DECIMAL(38,0)) * (x.d1 + x.d2)
                  * (tot1 - acc.rem1) * (tot2 - acc.rem2)
                  * (tot1 - acc.rem1 + tot2 - acc.rem2 - x.d1 - x.d2))
                div ((tot1 - acc.rem1 + tot2 - acc.rem2)
                  * (tot1 - acc.rem1 + tot2 - acc.rem2)
                  * (tot1 - acc.rem1 + tot2 - acc.rem2 - 1)),
              CAST(0 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS v),
          acc -> acc)"""))
      .select(col("tot1").as("n1"), col("tot2").as("n2"),
        col("st.o1").cast("long").as("o1"), col("st.o2").cast("long").as("o2"),
        col("st.e1").cast("long").as("e1_ppm"),
        col("st.v").cast("long").as("v_ppm"),
        expr("""CAST((1000 * (CAST(1000000 AS DECIMAL(38,0)) * st.o1 - st.e1)
            * (CAST(1000000 AS DECIMAL(38,0)) * st.o1 - st.e1))
          div nullif(CAST(1000000 AS DECIMAL(38,0)) * st.v,
            CAST(0 AS DECIMAL(38,0))) AS BIGINT)""").as("chi2_milli"))
      .withColumn("reject_05", col("chi2_milli") > criticalMilli)
  }

  /** Arms: experiment assignment by user-id parity (the randomized-
    * assignment shape log-rank exists for — every event type here is
    * uniform per user by construction, so a behavioral flag would put
    * the whole population in one arm); lifetimes measured on purchase
    * activity, censor 2d. Expected: no rejection — the arms are
    * exchangeable.
    */
  private val qLogRank = GraftQuery(
    "qe_logrank",
    (s, dir) => logRank(
      Tables.events(s, dir).filter(col("event_type") === "purchase"),
      col("user_id") % 2 === 1, censorDays = KmCensorDays),
    Some(s"""WITH RECURSIVE ev AS (SELECT user_id, ts,
        CAST(user_id % 2 AS INT) AS g1
      FROM events WHERE event_type = 'purchase'),
    u AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS f,
        CAST(MAX(ts) AS DATE) AS l, MAX(g1) AS g1 FROM ev GROUP BY user_id),
    m AS (SELECT CAST(MAX(ts) AS DATE) AS mt FROM ev),
    uu AS (SELECT date_diff('day', f, l) AS t, g1,
        CASE WHEN date_diff('day', l, mt) < $KmCensorDays THEN 1 ELSE 0 END AS cens
      FROM u, m),
    wk AS (SELECT t, SUM(g1 * (1 - cens)) AS d1, SUM(g1 * cens) AS c1,
        SUM((1 - g1) * (1 - cens)) AS d2, SUM((1 - g1) * cens) AS c2
      FROM uu GROUP BY t),
    idx AS (SELECT t, d1, c1, d2, c2, ROW_NUMBER() OVER (ORDER BY t) AS i FROM wk),
    tt AS (SELECT CAST(SUM(d1 + c1) AS HUGEINT) AS tot1,
        CAST(SUM(d2 + c2) AS HUGEINT) AS tot2 FROM wk),
    lr AS (
      SELECT i.i, CAST(i.d1 + i.c1 AS HUGEINT) AS rem1,
          CAST(i.d2 + i.c2 AS HUGEINT) AS rem2,
          CAST(i.d1 AS HUGEINT) AS o1, CAST(i.d2 AS HUGEINT) AS o2,
          (1000000 * (i.d1 + i.d2) * tt.tot1) // (tt.tot1 + tt.tot2) AS e1,
          CASE WHEN tt.tot1 + tt.tot2 > 1 THEN
            (1000000 * (i.d1 + i.d2) * tt.tot1 * tt.tot2
                * (tt.tot1 + tt.tot2 - i.d1 - i.d2))
              // ((tt.tot1 + tt.tot2) * (tt.tot1 + tt.tot2)
                * (tt.tot1 + tt.tot2 - 1))
            ELSE 0 END AS v
        FROM idx i, tt WHERE i.i = 1
      UNION ALL
      SELECT i.i, lr.rem1 + i.d1 + i.c1 AS rem1, lr.rem2 + i.d2 + i.c2 AS rem2,
          lr.o1 + i.d1 AS o1, lr.o2 + i.d2 AS o2,
          lr.e1 + (1000000 * (i.d1 + i.d2) * (tt.tot1 - lr.rem1))
            // (tt.tot1 - lr.rem1 + tt.tot2 - lr.rem2) AS e1,
          lr.v + CASE WHEN tt.tot1 - lr.rem1 + tt.tot2 - lr.rem2 > 1 THEN
            (1000000 * (i.d1 + i.d2) * (tt.tot1 - lr.rem1)
                * (tt.tot2 - lr.rem2)
                * (tt.tot1 - lr.rem1 + tt.tot2 - lr.rem2 - i.d1 - i.d2))
              // ((tt.tot1 - lr.rem1 + tt.tot2 - lr.rem2)
                * (tt.tot1 - lr.rem1 + tt.tot2 - lr.rem2)
                * (tt.tot1 - lr.rem1 + tt.tot2 - lr.rem2 - 1))
            ELSE 0 END AS v
        FROM idx i, lr, tt WHERE i.i = lr.i + 1),
    fin AS (SELECT * FROM lr ORDER BY i DESC LIMIT 1)
    SELECT CAST(tt.tot1 AS BIGINT) AS n1, CAST(tt.tot2 AS BIGINT) AS n2,
      CAST(f.o1 AS BIGINT) AS o1, CAST(f.o2 AS BIGINT) AS o2,
      CAST(f.e1 AS BIGINT) AS e1_ppm, CAST(f.v AS BIGINT) AS v_ppm,
      CAST((1000 * (1000000 * f.o1 - f.e1) * (1000000 * f.o1 - f.e1))
        // NULLIF(1000000 * f.v, 0) AS BIGINT) AS chi2_milli,
      ((1000 * (1000000 * f.o1 - f.e1) * (1000000 * f.o1 - f.e1))
        // NULLIF(1000000 * f.v, 0)) > 3841 AS reject_05
    FROM fin f, tt"""))

  // ------------------------------------------------------ Hampel filter
  /** Hampel identifier over each user's event-value stream: a point is a
    * telemetry GLITCH when it sits more than 3 window-MADs from its
    * rolling window median (window = 3 before + self + 3 after, the
    * classic 7-point Hampel form; Pearson et al. 2016 survey). Unlike
    * the global fences (qstat_mad_outliers, per-group; qe_mad_anomaly,
    * per-day), this is LOCAL: a value normal for the user's morning but
    * absurd inside its 7-event neighborhood still flags — the spike
    * filter run before any downstream aggregate trusts the values.
    *
    * Exactness and shape: values in integer cents; the window ARRAY is
    * collected once per row (ROWS frame over the (us, event_id) total
    * order — deterministic under timestamp ties), median and MAD are
    * array expressions on the ≤7-element list (lower median at the
    * partition edges' even sizes, both engines by construction).
    * Window is partitioned by user — corpus-scaled parallelism, no
    * global sort; per-row state is a bounded 7-long array. mad = 0
    * (constant neighborhood) flags ANY deviation — the standard
    * degenerate-Hampel rule.
    *
    * Output: flagged rows (user_id, us, cents, med, mad), ordered.
    */
  private val qHampel = GraftQuery(
    "qe_hampel",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id")).rowsBetween(-3, 3)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .withColumn("arr", sort_array(collect_list(col("cents")).over(w)))
        .withColumn("med", expr("element_at(arr, cast((size(arr) + 1) div 2 as int))"))
        .withColumn("mad", expr(
          """element_at(array_sort(transform(arr, x -> abs(x - med))),
             cast((size(arr) + 1) div 2 as int))"""))
        .filter(abs(col("cents") - col("med")) > col("mad") * 3)
        .select(col("user_id"), col("us"), col("cents"), col("med"),
          col("mad"))
        .orderBy(col("user_id"), col("us"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      wv AS (SELECT user_id, us, cents,
          list_sort(list(cents) OVER (PARTITION BY user_id
            ORDER BY us, event_id
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
        FROM e),
      m AS (SELECT user_id, us, cents, arr,
          arr[(len(arr) + 1) // 2] AS med FROM wv),
      d AS (SELECT user_id, us, cents, med,
          list_sort(list_transform(arr, x -> abs(x - med)))
            [(len(arr) + 1) // 2] AS mad
        FROM m)
      SELECT user_id, us, cents, med, mad FROM d
      WHERE abs(cents - med) > mad * 3
      ORDER BY user_id, us"""))

  val queries: Seq[GraftQuery] =
    Seq(qTumbling, qSliding, qSessions, qJson, qTopUsers, qDeltas, qZscore,
      qFunnel, qRetention, qResample, qHistogram, qPattern, qTransitions,
      qDecayWma, qAttribution, qCusum, qEwma, qHolt, qRateLimit,
      qPeakConcurrency,
      qMadAnomaly, qTopPaths, qSlidingDistinct,
      qSeasonal, qFunnelTime, qCep, qStreak, qCoverage, qOhlc, qLatencySlo, qRfm,
      qLtv, qDauMau, qHeatmap, qStationary, qLifecycle, qSeqPatterns, qHllSliding,
      qShapley, qKaplanMeier, qNelsonAalen, qLogRank, qBurstiness, qHampel)
}
