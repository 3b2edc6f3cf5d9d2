package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import Exact._
import OracleFragments.{d2 => od2}

/** Window-function queries (rank / running totals / lag) with DuckDB oracles.
  * All window sorts carry full tie-break key chains so row content is
  * deterministic across engines.
  */
object Windows {

  // Top-3 orders per customer by price (row_number, dense ranking keys).
  private val qRank = GraftQuery(
    "qw_top_orders_per_customer",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  // Running quantity per supplier over ship time (exact decimal running sum).
  private val qRunning = GraftQuery(
    "qw_running_supplier_qty",
    (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey") < 5)
        .withColumn("run_qty", sum(d2(col("l_quantity"))).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"), col("run_qty"))
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    },
    Some(s"""SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
      CAST(SUM(${od2("l_quantity")}) OVER (
        PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
    FROM lineitem WHERE l_suppkey < 5
    ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber"""))

  // Revenue rank of suppliers (TPC-H Q15 flavor): agg then global window max.
  private val qTopSupplier = GraftQuery(
    "qw_top_supplier_revenue",
    (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(discPrice).as("rev_dec"))
      // The tie-break chain (rev_dec DESC, l_suppkey) makes ranks unique, so
      // rank() <= 5 selects exactly the first 5 rows of that ordering. Take
      // them with orderBy().limit(5) — TakeOrderedAndProject, a parallel
      // per-partition top-k reduction — instead of funnelling every supplier
      // aggregate through one partition-less Window sort (the r2 scale
      // bottleneck). The rank window then runs over a provably 5-row input.
      val top5 = rev.orderBy(col("rev_dec").desc, col("l_suppkey")).limit(5)
      val w = Window.orderBy(col("rev_dec").desc, col("l_suppkey"))
      top5.withColumn("rank", rank().over(w))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .select(col("rank"), col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_revenue"))
        .orderBy(col("rank"))
    },
    Some(s"""WITH rev AS (
      SELECT l_suppkey, SUM(${OracleFragments.discPrice}) AS rev_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey),
    rk AS (
      SELECT l_suppkey, rev_dec, RANK() OVER (ORDER BY rev_dec DESC, l_suppkey) AS rank
      FROM rev)
    SELECT rank, s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
    FROM rk, supplier WHERE l_suppkey = s_suppkey AND rank <= 5 ORDER BY rank"""))

  // Distribution window functions: ntile / percent_rank / cume_dist.
  // The tie-break chain makes ranks unique, so percent_rank = (rank−1)/(n−1)
  // and cume_dist = pos/n are exact-integer divisions — identical IEEE
  // doubles in both engines.
  private val qDistribution = GraftQuery(
    "qw_distribution_functions",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_custkey") < 50)
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cdist", cume_dist().over(w))
        .select(col("o_orderpriority"), col("o_orderkey"), col("quartile"),
          col("pct_rank"), col("cdist"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },
    Some("""SELECT o_orderpriority, o_orderkey,
      CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
      percent_rank() OVER w AS pct_rank,
      cume_dist() OVER w AS cdist
    FROM orders WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, o_orderkey"""))

  // RANGE frame over a numeric day offset: trailing 30-day quantity per
  // supplier. RANGE frames include ALL peer rows of the bound values, so
  // the frame content is deterministic without physical-order tie-breaks;
  // the decimal sum keeps it order-independent too.
  private val qRangeFrame = GraftQuery(
    "qw_range_frame_30d",
    (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("day_num"))
        .rangeBetween(-30, Window.currentRow)
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey") < 5)
        .withColumn("day_num",
          datediff(col("l_shipdate").cast("date"), lit("1992-01-01").cast("date")))
        .withColumn("qty_30d", sum(d2(col("l_quantity"))).over(w).cast("double"))
        .select(col("l_suppkey"), col("day_num"), col("l_orderkey"),
          col("l_linenumber"), col("qty_30d"))
        .orderBy(col("l_suppkey"), col("day_num"), col("l_orderkey"), col("l_linenumber"))
    },
    Some(s"""SELECT l_suppkey, day_num, l_orderkey, l_linenumber,
      CAST(SUM(${od2("l_quantity")}) OVER (
        PARTITION BY l_suppkey ORDER BY day_num
        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_30d
    FROM (SELECT *, CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS INTEGER) AS day_num
      FROM lineitem WHERE l_suppkey < 5) t
    ORDER BY l_suppkey, day_num, l_orderkey, l_linenumber"""))

  // Value window functions: first/last/nth/lead over explicit frames (the
  // full-partition frame makes last/nth deterministic; the tie-broken
  // total order makes every value unique).
  private val qValueFns = GraftQuery(
    "qw_value_functions",
    (s, dir) => {
      val base = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wRun = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .filter(col("o_custkey") < 30)
        .withColumn("first_ok", first(col("o_orderkey")).over(wRun))
        .withColumn("last_ok", last(col("o_orderkey")).over(wAll))
        .withColumn("second_ok", nth_value(col("o_orderkey"), 2).over(wAll))
        .withColumn("next_ok", lead(col("o_orderkey"), 1).over(base))
        .select(col("o_custkey"), col("o_orderkey"), col("first_ok"),
          col("last_ok"), col("second_ok"), col("next_ok"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_ok,
      last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok,
      nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ok,
      lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_ok
    FROM orders WHERE o_custkey < 30 ORDER BY o_custkey, o_orderkey"""))

  // LOCF imputation (last observation carried forward) — the standard
  // time-series gap-fill for feature pipelines: last non-null value over
  // the running frame via IGNORE NULLS. Nulls are injected deterministically
  // (every third event) so both engines impute the same gaps.
  private val qLocf = GraftQuery(
    "qw_locf_impute",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("user_id") < 20)
        .withColumn("v_sparse", when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")))
        .withColumn("v_filled", last(col("v_sparse"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("v_sparse"), col("v_filled"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT user_id, event_id,
      CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v_sparse,
      last_value(CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END IGNORE NULLS)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM events WHERE user_id < 20 ORDER BY user_id, event_id"""))

  // Running DISTINCT count — the window class plain running sums can't
  // express (distinct doesn't decompose over a frame): flag each row
  // that is its user's FIRST sighting of the event type (row_number = 1
  // over (user, type)), then running-sum the flags over time. Two
  // windows, both partitioned on uniform keys, no self-joins — the
  // unique-feature-adoption curve every product dashboard draws.
  private val qRunningDistinct = GraftQuery(
    "qw_running_distinct",
    (s, dir) => {
      val first = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val cum = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("user_id") < 20)
        .withColumn("_new",
          when(row_number().over(first) === 1, 1L).otherwise(0L))
        .withColumn("n_types_seen", sum(col("_new")).over(cum))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("n_types_seen"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""WITH f AS (SELECT user_id, event_id, event_type, ts,
        CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
          ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS nw
      FROM events WHERE user_id < 20)
      SELECT user_id, event_id, event_type,
        CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types_seen
      FROM f ORDER BY user_id, event_id"""))

  /** Month-over-month / year-over-year revenue growth — the BI staple.
    * Monthly revenue in cents; growth in SIGN-SPLIT basis points against
    * LAG(1) and LAG(12) over the month-ordered series (ROWS-lag
    * semantics, documented: a missing calendar month shifts both
    * engines' lags identically, so determinism is unconditional; the
    * order-date domain here is gap-free anyway). Null growth on the
    * warm-up rows.
    *
    * Plan: one scan → month-domain agg (≤ a few hundred rows at any
    * corpus size) → two lags in ONE window pass.
    */
  private val qMomYoy = GraftQuery(
    "qw_mom_yoy",
    (s, dir) => {
      val monthly = Tables.orders(s, dir)
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("mon"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
      val w = Window.orderBy(col("mon"))
      monthly
        .withColumn("_p", lag(col("rev_cents"), 1).over(w))
        .withColumn("_py", lag(col("rev_cents"), 12).over(w))
        .withColumn("mom_bp", when(col("_p").isNull, lit(null))
          .otherwise(expr("""CASE
            WHEN rev_cents >= _p THEN (10000 * (rev_cents - _p)) div _p
            ELSE -((10000 * (_p - rev_cents)) div _p) END""")).cast("long"))
        .withColumn("yoy_bp", when(col("_py").isNull, lit(null))
          .otherwise(expr("""CASE
            WHEN rev_cents >= _py THEN (10000 * (rev_cents - _py)) div _py
            ELSE -((10000 * (_py - rev_cents)) div _py) END""")).cast("long"))
        .select(col("mon"), col("rev_cents"), col("mom_bp"), col("yoy_bp"))
        .orderBy(col("mon"))
    },
    Some("""WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
      FROM orders GROUP BY 1),
    l AS (SELECT mon, rev_cents,
        LAG(rev_cents, 1) OVER (ORDER BY mon) AS p,
        LAG(rev_cents, 12) OVER (ORDER BY mon) AS py
      FROM m)
    SELECT mon, CAST(rev_cents AS BIGINT) AS rev_cents,
      CAST(CASE WHEN p IS NULL THEN NULL
        WHEN rev_cents >= p THEN (10000 * (rev_cents - p)) // p
        ELSE -((10000 * (p - rev_cents)) // p) END AS BIGINT) AS mom_bp,
      CAST(CASE WHEN py IS NULL THEN NULL
        WHEN rev_cents >= py THEN (10000 * (rev_cents - py)) // py
        ELSE -((10000 * (py - rev_cents)) // py) END AS BIGINT) AS yoy_bp
    FROM l ORDER BY mon"""))

  val queries: Seq[GraftQuery] =
    Seq(qRank, qRunning, qTopSupplier, qDistribution, qRangeFrame, qValueFns,
      qLocf, qRunningDistinct, qMomYoy)
}
