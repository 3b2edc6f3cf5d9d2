package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import Exact._
import OracleFragments.{d2 => od2, sumD => oSumD, discPrice => oRev}

/** Third coverage batch: built-in session windows, array functions, pivot,
  * and the Scala-UDF tier.
  */
object Relational3 {

  // Built-in session_window (gap-merge sessionization) — must agree with
  // the lag/cumsum formulation the oracle uses.
  private val qSessionWindow = GraftQuery(
    "qe_session_window_builtin",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), sumD(d2(col("value"))).as("session_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Some(s"""WITH g AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
        THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g)
    SELECT user_id, MIN(ts) AS session_start,
      COUNT(*) AS n_events, ${oSumD(od2("value"))} AS session_value
    FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  // Array-function sweep over embeddings. slice/reverse arrays are computed
  // but surfaced as scalar element extractions — the driver's pandas hasher
  // can't sort array columns, and float→string serialization differs across
  // engines, so element_at (value-compared as float) is the safe projection.
  private val qArrayFns = GraftQuery(
    "qf_array_functions",
    (s, dir) => {
      Tables.embeddings(s, dir)
        .filter(col("vec_id") < 100)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          expr("array_max(embedding)").cast("float").as("vmax"),
          expr("array_min(embedding)").cast("float").as("vmin"),
          expr("element_at(slice(embedding, 1, 3), 2)").cast("float").as("head3_mid"),
          expr("element_at(slice(embedding, 1, 3), 3)").cast("float").as("head3_last"),
          expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
          expr("exists(embedding, x -> x > 0.5)").as("any_big"),
          expr("element_at(reverse(slice(embedding, 1, 4)), 1)").cast("float").as("rev4_first"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
      list_max(embedding) AS vmax, list_min(embedding) AS vmin,
      embedding[1:3][2] AS head3_mid,
      embedding[1:3][3] AS head3_last,
      CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
      len(list_filter(embedding, x -> x > 0.5)) > 0 AS any_big,
      list_reverse(embedding[1:4])[1] AS rev4_first
    FROM embeddings WHERE vec_id < 100 ORDER BY vec_id"""))

  // Map functions: build a per-user event_type→count map with
  // map_from_entries over sorted entries (deterministic key order), then
  // map_keys / element_at / size. The oracle restates the same facts via
  // conditional aggregation — DuckDB's MAP extraction semantics vary by
  // version, so the oracle avoids maps while still pinning every value the
  // Spark map ops produce.
  private val qMapFns = GraftQuery(
    "qf_map_functions",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(expr("map_from_entries(sort_array(collect_list(struct(event_type, cnt))))").as("m"))
        .select(
          col("user_id"),
          expr("array_join(map_keys(m), ',')").as("types_csv"),
          coalesce(expr("element_at(m, 'click')"), lit(0L)).as("clicks"),
          coalesce(expr("element_at(m, 'purchase')"), lit(0L)).as("purchases"),
          size(expr("map_values(m)")).as("n_types"))
        .orderBy(col("user_id"))
    },
    Some("""WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events GROUP BY user_id, event_type)
    SELECT user_id,
      array_to_string(list_sort(list(event_type)), ',') AS types_csv,
      CAST(COALESCE(MAX(CASE WHEN event_type = 'click' THEN cnt END), 0) AS BIGINT) AS clicks,
      CAST(COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN cnt END), 0) AS BIGINT) AS purchases,
      CAST(COUNT(*) AS INTEGER) AS n_types
    FROM c GROUP BY user_id ORDER BY user_id"""))

  // Generator / UDTF tier: posexplode (1 row in, N rows out with position).
  // DuckDB zips parallel unnests of equal length for the ordinal.
  private val qPosexplode = GraftQuery(
    "qf_posexplode",
    (s, dir) => {
      Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50)
        .select(col("vec_id"), posexplode(expr("slice(embedding, 1, 3)")))
        .select(col("vec_id"), (col("pos") + 1).as("pos"), col("col").cast("float").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    },
    Some("""SELECT vec_id, CAST(unnest(generate_series(1, 3)) AS INTEGER) AS pos,
      unnest(embedding[1:3]) AS val
    FROM embeddings WHERE vec_id < 50 ORDER BY vec_id, pos"""))

  // Pivot: event counts per user × type (Spark relational pivot vs
  // conditional aggregation in the oracle).
  private val qPivot = GraftQuery(
    "qagg_pivot_event_types",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot(col("event_type"), Seq("click", "view", "error", "purchase", "signup"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id,
      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup
    FROM events GROUP BY user_id ORDER BY user_id"""))

  // As-of join (time-series attribution): for each purchase, the most
  // recent click at-or-before it by the same user. Spark has no ASOF JOIN
  // operator; the scalable composition is union + running conditional max
  // over an ordered per-user window — one shuffle on user_id, no per-row
  // range probe, no skew beyond the user key itself. (A backward as-of
  // join on (key, time) is exactly this window.)
  private val qAsof = GraftQuery(
    "qj_asof_attribution",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("click_ts",
          max(when(col("event_type") === "click", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("click_ts"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
    Some("""SELECT user_id, event_id, ts,
      MAX(CASE WHEN event_type = 'click' THEN ts END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
    FROM events
    QUALIFY event_type = 'purchase'
    ORDER BY user_id, ts, event_id"""))

  // The same attribution as-of join through the NATIVE whole-operator path
  // (graft.plans.AsofJoinExec: custom LogicalPlan + Strategy + SparkPlan —
  // SURVEY §2.2 tier (c)). Each side shuffles once on user_id, sorts on
  // (user_id, ts), and merges in one forward pass — no union, no window
  // state. Oracled against DuckDB's first-class ASOF LEFT JOIN, which is a
  // stronger statement than the window rewrite: two independent engines'
  // as-of operators agree row-for-row.
  private val qAsofNative = GraftQuery(
    "qj_asof_native",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      graft.plans.AsofOps.asofJoin(
          purchases, clicks, Seq("user_id"), Seq("c_user"), "ts", "c_ts")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("c_ts").as("click_ts"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
    Some("""SELECT p.user_id, p.event_id, p.ts, c.c_ts AS click_ts
      FROM (SELECT user_id, event_id, ts FROM events
            WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts FROM events
            WHERE event_type = 'click') c
        ON p.user_id = c.c_user AND p.ts >= c.c_ts
      ORDER BY p.user_id, p.ts, p.event_id"""))

  // Range (band) join: lineitem rows bucketed into quantity bands via a
  // non-equi join against a tiny broadcast band table — the one place a
  // BroadcastNestedLoopJoin IS the right plan (3-row build side; each
  // probe row scans 3 candidates, map-only, no shuffle of the fact table).
  private val qRangeJoin = GraftQuery(
    "qj_range_band",
    (s, dir) => {
      import s.implicits._
      val bands = Seq((0, 10, "small"), (10, 25, "mid"), (25, 1000, "large"))
        .toDF("lo", "hi", "band")
      Tables.lineitem(s, dir)
        .join(broadcast(bands),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), sumD(d2(col("l_quantity"))).as("qty"))
        .orderBy(col("band"))
    },
    Some(s"""WITH bands(lo, hi, band) AS (
      VALUES (0, 10, 'small'), (10, 25, 'mid'), (25, 1000, 'large'))
    SELECT band, COUNT(*) AS n, ${oSumD(od2("l_quantity"))} AS qty
    FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band ORDER BY band"""))

  // Math function sweep over the IEEE-exact subset: sqrt is
  // correctly-rounded by the standard, abs/sign/mod/floor/ceil/least/
  // greatest are exact. (exp/ln/pow/trig are deliberately absent — libm
  // implementations differ by ULPs across engines, which would make the
  // hash gate flaky rather than prove anything.)
  private val qMath = GraftQuery(
    "qf_math_functions",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 300)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_c"),
          signum(col("l_discount") - 0.05).as("sign_c"),
          (col("l_extendedprice") % 97).as("mod_c"),
          sqrt(col("l_extendedprice")).as("sqrt_c"),
          floor(col("l_extendedprice") / 100).as("floor_c"),
          ceil(col("l_extendedprice") / 100).as("ceil_c"),
          round(col("l_extendedprice"), -2).as("round_c"),
          greatest(col("l_discount"), col("l_tax")).as("g_c"),
          least(col("l_discount"), col("l_tax")).as("l_c"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
      abs(l_discount - 0.05) AS abs_c,
      CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_c,
      fmod(l_extendedprice, 97) AS mod_c,
      sqrt(l_extendedprice) AS sqrt_c,
      CAST(floor(l_extendedprice / 100) AS BIGINT) AS floor_c,
      CAST(ceil(l_extendedprice / 100) AS BIGINT) AS ceil_c,
      round(l_extendedprice, -2) AS round_c,
      greatest(l_discount, l_tax) AS g_c,
      least(l_discount, l_tax) AS l_c
    FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber"""))

  // Bitwise function sweep (AND/OR/XOR/shifts/popcount) — exact integer
  // semantics, identical in both engines.
  private val qBitwise = GraftQuery(
    "qf_bitwise",
    (s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderkey") < 200)
        .select(
          col("o_orderkey"),
          col("o_orderkey").bitwiseAND(lit(255L)).as("and255"),
          col("o_orderkey").bitwiseOR(lit(4096L)).as("or4096"),
          col("o_orderkey").bitwiseXOR(lit(21845L)).as("xor_alt"),
          expr("shiftleft(o_orderkey, 3)").as("shl3"),
          expr("shiftright(o_orderkey, 2)").as("shr2"),
          expr("bit_count(o_orderkey)").as("popcnt"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
      o_orderkey & 255 AS and255,
      o_orderkey | 4096 AS or4096,
      xor(o_orderkey, 21845) AS xor_alt,
      o_orderkey << 3 AS shl3,
      o_orderkey >> 2 AS shr2,
      CAST(bit_count(o_orderkey) AS INTEGER) AS popcnt
    FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey"""))

  // Scala UDF tier: char-code checksum (deterministic, SQL-replicable).
  // UDFs are the last-resort tier (no codegen, serialization per row) —
  // this demonstrates the surface; the native-Expression tier above it is
  // what the hot paths use.
  private val qUdf = GraftQuery(
    "qf_scala_udf",
    (s, dir) => {
      val checksum = udf((t: String) => t.foldLeft(0L)(_ + _.toLong) % 97)
      Tables.part(s, dir)
        .select(col("p_partkey"), checksum(col("p_name")).as("name_checksum"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey,
      CAST(list_sum(list_transform(generate_series(1, length(p_name)),
        i -> ascii(substr(p_name, i, 1)))) % 97 AS BIGINT) AS name_checksum
    FROM part ORDER BY p_partkey"""))

  // TPC-H Q2 flavor — correlated scalar-MIN subquery against a derived
  // part×supplier catalog. The test schema has no partsupp table, so the
  // catalog is derived from lineitem (min extended price a supplier ever
  // charged for the part); the optimizer shape is Q2's exactly: an
  // aggregate view joined back to itself through a per-part MIN, the
  // winning (part, supplier) pairs decorated with the supplier/nation/
  // region dimension chain (all broadcast — they are dimension-sized),
  // deterministic top-100 via TakeOrdered, never a global sort.
  private val qQ02 = GraftQuery(
    "q02_min_cost_supplier",
    (s, dir) => {
      val ps = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(d2(col("l_extendedprice"))).as("cost"))
      val minCost = ps.groupBy(col("l_partkey").as("pk"))
        .agg(min(col("cost")).as("min_cost"))
      ps.join(minCost, col("l_partkey") === col("pk") && col("cost") === col("min_cost"))
        .join(broadcast(Tables.part(s, dir)
            .filter(col("p_type") === "PROMO" && col("p_size") <= 5)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        // cost surfaces as DOUBLE, not DECIMAL: the gate's pandas hasher
        // converts Spark-parquet decimals and DuckDB decimals through
        // different dtypes (object-Decimal vs float64) and hash-mismatches
        // even on identical values — every exact-decimal aggregate in this
        // repo casts to double at the output boundary (see Exact.sumD).
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("cost").cast("double").as("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
    Some("""WITH ps AS (
      SELECT l_partkey, l_suppkey, MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
      CAST(cost AS DOUBLE) AS cost
    FROM ps, part, supplier, nation
    WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
      AND p_type = 'PROMO' AND p_size <= 5
      AND cost = (SELECT MIN(cost) FROM ps i WHERE i.l_partkey = ps.l_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""))

  // TPC-H Q15 — top supplier(s) by quarterly revenue: an aggregate view
  // consumed twice, once raw and once through a scalar MAX, joined on
  // equality. The scalar max is a 1-row frame broadcast into an equality
  // filter (never a sort of the whole view); ties would all be returned,
  // exactly like Q15's spec.
  private val qQ15 = GraftQuery(
    "q15_top_supplier",
    (s, dir) => {
      val revenue = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
        .groupBy(col("l_suppkey"))
        .agg(sumD(discPrice).as("total_revenue"))
      val maxRev = revenue.agg(max(col("total_revenue")).as("max_revenue"))
      Tables.supplier(s, dir)
        .join(revenue, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some(s"""WITH revenue AS (
      SELECT l_suppkey, ${oSumD(oRev)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = l_suppkey
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey"""))

  // Correlated LATERAL join (SQL table-function surface): each nation row
  // drives a per-row generated series whose length depends on the row —
  // the classic lateral/correlated-table-function shape (explode of a
  // row-dependent sequence). Map-side generate, no shuffle; at scale this
  // is embarrassingly parallel. Exercises Spark's `, LATERAL (subquery)`
  // SQL syntax (DecorrelateInnerQuery), not just the LATERAL VIEW legacy
  // form; the oracle uses DuckDB's `LATERAL unnest(generate_series(...))`.
  private val qLateral = GraftQuery(
    "qj_lateral_series",
    (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("lat_nation")
      s.sql("""SELECT n_name, CAST(i AS BIGINT) AS i,
          CAST(n_nationkey * i AS BIGINT) AS v
        FROM lat_nation, LATERAL (SELECT explode(sequence(1, pmod(n_nationkey, 3) + 1)) AS i)
        ORDER BY n_name, i""")
    },
    Some("""SELECT n_name, CAST(i AS BIGINT) AS i, CAST(n_nationkey * i AS BIGINT) AS v
      FROM nation, LATERAL (SELECT unnest(generate_series(1, (n_nationkey % 3) + 1)) AS i) t
      ORDER BY n_name, i"""))

  // Unpivot (melt): the inverse of qagg_pivot_event_types — wide metric
  // columns to (metric, value) rows via the Dataset unpivot API (Spark
  // plans it as a single Expand, one pass over the input, map-only before
  // the aggregate). Values go through DECIMAL(12,2) first so the per-
  // metric sums are exact and engine-deterministic (Exact conventions).
  private val qUnpivot = GraftQuery(
    "qf_unpivot",
    (s, dir) => {
      val d = Tables.lineitem(s, dir).select(
        col("l_returnflag"),
        Exact.d2(col("l_quantity")).as("quantity"),
        Exact.d2(col("l_extendedprice")).as("extendedprice"),
        Exact.d2(col("l_discount")).as("discount"),
        Exact.d2(col("l_tax")).as("tax"))
      d.unpivot(
          Array(col("l_returnflag")),
          Array(col("discount"), col("extendedprice"), col("quantity"), col("tax")),
          "metric", "v")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(count(lit(1)).as("n_rows"), Exact.sumD(col("v")).as("total"))
        .orderBy(col("l_returnflag"), col("metric"))
    },
    Some(s"""WITH m AS (
      SELECT l_returnflag, 'discount' AS metric, ${OracleFragments.d2("l_discount")} AS v FROM lineitem
      UNION ALL SELECT l_returnflag, 'extendedprice', ${OracleFragments.d2("l_extendedprice")} FROM lineitem
      UNION ALL SELECT l_returnflag, 'quantity', ${OracleFragments.d2("l_quantity")} FROM lineitem
      UNION ALL SELECT l_returnflag, 'tax', ${OracleFragments.d2("l_tax")} FROM lineitem)
    SELECT l_returnflag, metric, CAST(COUNT(*) AS BIGINT) AS n_rows,
      ${OracleFragments.sumD("v")} AS total
    FROM m GROUP BY l_returnflag, metric ORDER BY l_returnflag, metric"""))

  // ------------------------------------------- market-basket co-occurrence
  /** (item, co_item, n_groups) co-occurrence counts, both directions, from
    * a distinct (g, item) basket frame — the shared heart of
    * [[coOccurrenceTopKFrom]], [[assocRules]] and the densest-subgraph
    * binding.
    */
  private[analytics] def coOccurrencePairs(b: DataFrame): DataFrame =
    b.as("a")
      .join(b.as("b"), col("a.g") === col("b.g") && col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("item"), col("b.item").as("co_item"))
      .agg(count(lit(1)).as("n_groups"))

  /** Top-k co-occurring items per item ("bought together") over
    * [[coOccurrencePairs]]: distinct (basket, item) pairs self-joined on
    * the basket key, pair counts, then a per-item top-k. The workhorse of co-visitation / co-purchase
    * recommendation candidate generation.
    *
    * Scale shape: the self-join is keyed on the basket id and fans out
    * s·(s−1) pairs per basket — bounded by the square of the LARGEST
    * basket, not the corpus (the same bounded-fan-out argument as the
    * SimHash chunk join; cap or sample oversized baskets upstream if the
    * domain allows them). Pair counting is a uniform-key aggregation with
    * map-side partials; the per-item top-k is a window that rewrites to
    * WindowGroupLimit (per-partition partial top-k before the item
    * exchange), never a global sort.
    *
    * Output: (item, co_item, n_groups, rk) with rk ∈ [1, k], ties broken
    * by co_item for cross-engine determinism.
    */
  private[analytics] def coOccurrenceTopKFrom(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("item"))
      .orderBy(col("n_groups").desc, col("co_item"))
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy(col("item"), col("rk"))
  }

  /** Memoized distinct (order, part) basket frame — the common prefix of
    * qj_copurchase_topk, qj_assoc_rules and qg_densest (three bindings
    * re-ran the same 600k-row dedup before r11 session 2).
    */
  private[analytics] def basketItemsMemo(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Memo.cached(s, s"basketItems:$dir")(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("g"), col("l_partkey").as("item"))
        .distinct())

  /** Memoized UNCAPPED co-purchase pair counts over [[basketItemsMemo]] —
    * read by qj_copurchase_topk (rank window) and qg_densest (the pair
    * set IS its symmetric edge list). qj_assoc_rules builds its own
    * capped pairs (the maxBasket skew guard is part of its contract)
    * but shares the basket frame. Warmed on memo_build:copurchase_pairs.
    */
  private[analytics] def copurchasePairsMemo(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Memo.cached(s, s"copurchasePairs:$dir")(
      coOccurrencePairs(basketItemsMemo(s, dir)))

  /** Bench warm-up hook for the shared basket + pair memos. */
  def warmCopurchasePairs(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = copurchasePairsMemo(s, dir).count(): Unit

  private val qCoPurchase = GraftQuery(
    "qj_copurchase_topk",
    (s, dir) => coOccurrenceTopKFrom(copurchasePairsMemo(s, dir), 3),
    Some("""WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
      p AS (SELECT x.item AS item, y.item AS co_item, COUNT(*) AS n_groups
        FROM b x JOIN b y ON x.g = y.g AND x.item <> y.item GROUP BY 1, 2),
      r AS (SELECT item, co_item, n_groups,
        ROW_NUMBER() OVER (PARTITION BY item ORDER BY n_groups DESC, co_item) AS rk
        FROM p)
      SELECT item, co_item, n_groups, CAST(rk AS BIGINT) AS rk
      FROM r WHERE rk <= 3 ORDER BY item, rk"""))

  // ---------------------------------------------- interval overlap join
  /** Generic interval-overlap join via BUCKET DECOMPOSITION — the
    * scalable plan for `l.start ≤ r.end AND r.start ≤ l.end` when
    * neither side is small enough to broadcast (where a band join like
    * [[qRangeJoin]]'s or a BNLJ would be quadratic): each interval
    * explodes to the fixed-width time buckets it covers, the two sides
    * HASH-join on the bucket key, duplicate pairs from multi-bucket
    * overlaps collapse with one distinct, and the exact overlap
    * predicate verifies survivors. Fan-out per row = interval length /
    * `bucketUs` — pick the bucket near the median interval length so
    * fan-out is O(1) and the join stays a uniform-key hash join at any
    * corpus size (the standard spatial-grid / temporal-binning join).
    *
    * Bounds are epoch-µs BIGINTs; every non-bound column of both inputs
    * is carried through (keep a unique id per interval on each side — the
    * pair-level distinct relies on it). Output: one row per overlapping
    * (left, right) pair.
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be > 0, got $bucketUs")
    def explodeBuckets(df: DataFrame, s: String, e: String) =
      df.withColumn("_bk",
        explode(expr(s"sequence($s div ${bucketUs}L, $e div ${bucketUs}L)")))
    explodeBuckets(left, lStart, lEnd)
      .join(explodeBuckets(right, rStart, rEnd), "_bk")
      .drop("_bk")
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      .distinct()
  }

  // Session intervals (30-min-gap sessionize) joined to error-burst
  // incident windows (hours with ≥ 8 error events, spanning first..last
  // error in the hour): "which sessions were exposed to an incident".
  // Overlap length emitted in exact µs.
  private val qIntervalOverlap = GraftQuery(
    "qj_interval_overlap",
    (s, dir) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sessions = Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("us")).as("s_start_us"), max(col("us")).as("s_end_us"))
      val incidents = Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("inc_hour_us"))
        .agg(count(lit(1)).as("n_errors"),
          min(col("us")).as("i_start_us"), max(col("us")).as("i_end_us"))
        .filter(col("n_errors") >= 8)
        .drop("n_errors")
      intervalOverlapJoin(sessions, incidents,
          "s_start_us", "s_end_us", "i_start_us", "i_end_us", 3600000000L)
        .select(col("user_id"), col("session_id"), col("inc_hour_us"),
          (least(col("s_end_us"), col("i_end_us"))
            - greatest(col("s_start_us"), col("i_start_us"))).as("overlap_us"))
        .orderBy(col("user_id"), col("session_id"), col("inc_hour_us"))
    },
    Some("""WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
        LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events),
    m AS (SELECT user_id, event_id, us,
      CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
      FROM g),
    sess AS (SELECT user_id, us,
      CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM m),
    sIv AS (SELECT user_id, session_id, MIN(us) AS s_start_us, MAX(us) AS s_end_us
      FROM sess GROUP BY user_id, session_id),
    inc AS (SELECT epoch_us(date_trunc('hour', ts)) AS inc_hour_us,
        COUNT(*) AS n_errors, MIN(epoch_us(ts)) AS i_start_us, MAX(epoch_us(ts)) AS i_end_us
      FROM events WHERE event_type = 'error' GROUP BY 1 HAVING COUNT(*) >= 8)
    SELECT s.user_id, s.session_id, i.inc_hour_us,
      LEAST(s.s_end_us, i.i_end_us) - GREATEST(s.s_start_us, i.i_start_us) AS overlap_us
    FROM sIv s JOIN inc i
      ON s.s_start_us <= i.i_end_us AND i.i_start_us <= s.s_end_us
    ORDER BY s.user_id, s.session_id, i.inc_hour_us"""))

  // Follow-up orders inside a 14-day window after any other order of the
  // same customer, through the NATIVE whole-operator path
  // (graft.plans.IntervalJoinExec: custom LogicalPlan + Strategy +
  // SparkPlan — the point-in-interval sibling of qAsofNative). Each side
  // shuffles once on o_custkey, sorts on (custkey, date) / (custkey,
  // window start), and one merge pass with an active-interval buffer
  // emits every containment — the hash-join+filter plan this replaces
  // materializes every co-keyed order pair first. Oracled against
  // DuckDB's range join (IEJoin).
  private val qIntervalNative = GraftQuery(
    "qj_interval_native",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val pts = o.select(col("o_custkey").as("p_cust"),
        col("o_orderkey").as("p_order"), col("o_orderdate").as("p_date"))
      val wins = o.select(col("o_custkey").as("w_cust"),
        col("o_orderkey").as("w_order"), col("o_orderdate").as("w_start"),
        (col("o_orderdate") + expr("INTERVAL 14 DAYS")).as("w_end"))
      graft.plans.IntervalOps.intervalJoin(pts, wins,
          Seq("p_cust"), Seq("w_cust"), "p_date", "w_start", "w_end")
        .filter(col("p_order") =!= col("w_order"))
        .select(col("w_order"), col("p_order"), col("p_cust").as("custkey"),
          col("w_start"), col("p_date"))
        .orderBy(col("w_order"), col("p_order"))
    },
    Some("""SELECT a.o_orderkey AS w_order, b.o_orderkey AS p_order,
      a.o_custkey AS custkey, a.o_orderdate AS w_start, b.o_orderdate AS p_date
    FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
      AND b.o_orderdate >= a.o_orderdate
      AND b.o_orderdate <= a.o_orderdate + INTERVAL 14 DAY
      AND a.o_orderkey <> b.o_orderkey
    ORDER BY w_order, p_order"""))

  // ---------------------------------------------- association rules
  /** Market-basket association rules (Agrawal & Srikant) with the three
    * classic metrics in exact fixed point: support (pair share of all
    * baskets, bp), confidence (directional P(B|A), bp), and lift
    * (10⁶·nAB·N DIV (nA·nB) — >10⁶ means positively associated). The
    * metrics layer over the same per-basket pair fan-out as
    * [[coOccurrencePairs]], plus two item-key count joins and one 1-row
    * broadcast total. `minPairs` prunes the rule tail before the metric
    * joins — the standard min-support pass.
    *
    * Skew guard: the basket self-join is QUADRATIC in the hottest
    * basket, so baskets with more than `maxBasket` distinct items are
    * excluded OUTRIGHT — from pair generation, the item counts, and the
    * basket total alike (the consistent frequent-itemset convention:
    * degenerate mega-transactions are catalog noise, and one 10⁶-item
    * basket would otherwise fan out 10¹² pairs). Mirrored in-oracle;
    * OpsApiSpec pins the exclusion.
    *
    * Output: top `topK` rules by (lift DESC, confidence DESC, a, b);
    * both directions of a pair appear as separate rules (confidence is
    * directional; lift/support are symmetric).
    */
  def assocRules(df: DataFrame, groupCol: String, itemCol: String,
      minPairs: Long = 3, topK: Int = 20, maxBasket: Int = 256,
      basketsPrepared: Boolean = false,
      uncappedPairs: Option[DataFrame] = None): DataFrame = {
    require(minPairs >= 1 && topK >= 1 && maxBasket >= 2,
      s"bad params: minPairs=$minPairs topK=$topK maxBasket=$maxBasket")
    // basketsPrepared = true: df is already the distinct (group, item)
    // frame (the memoized basket table) — skip the dedup shuffle
    val b0raw = df.select(col(groupCol).as("g"), col(itemCol).as("item"))
    val b0 = if (basketsPrepared) b0raw else b0raw.distinct()
    // ADAPTIVE skew guard: the maxBasket cap only changes the result when
    // some basket actually exceeds it. Measure the hottest basket first
    // (one agg, sanctioned 1-row fetch); under the cap the filter is a
    // proven no-op, so skip the filter join + re-checkpoint — identical
    // output at every scale, the guard join only when it guards.
    val maxBn = b0.groupBy(col("g")).agg(count(lit(1)).as("_bn"))
      .agg(coalesce(max(col("_bn")), lit(0L)).as("_mx")).head().getLong(0)
    if (maxBn <= maxBasket) {
      // the cap filter is a proven no-op — a caller-supplied prebuilt
      // uncapped pair frame (the co-purchase memo) is valid as-is
      val b = if (basketsPrepared) b0 else b0.localCheckpoint()
      val pairs = uncappedPairs.getOrElse(coOccurrencePairs(b)
        .select(col("item").as("ante"), col("co_item").as("cons"),
          col("n_groups").as("nab")))
      assocRulesFrom(pairs, b, minPairs, topK)
    } else {
      val b = b0.join(b0.groupBy(col("g")).agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") <= maxBasket).select(col("g")), "g")
        .localCheckpoint()
      assocRulesFrom(coOccurrencePairs(b)
        .select(col("item").as("ante"), col("co_item").as("cons"),
          col("n_groups").as("nab")),
        b, minPairs, topK)
    }
  }

  /** Rule scoring over a prebuilt (ante, cons, nab) pair-count frame and
    * its basket frame — shared by [[assocRules]] and the memo-reading
    * qj_assoc_rules fast path.
    */
  private def assocRulesFrom(pairsIn: DataFrame, b: DataFrame,
      minPairs: Long, topK: Int): DataFrame = {
    val n = b.agg(countDistinct(col("g")).as("n_baskets"))
    val itemCnt = b.groupBy(col("item")).agg(count(lit(1)).as("ni"))
    pairsIn.filter(col("nab") >= minPairs)
      .join(itemCnt.select(col("item").as("ante"), col("ni").as("na")), "ante")
      .join(itemCnt.select(col("item").as("cons"), col("ni").as("nb")), "cons")
      .crossJoin(broadcast(n))
      .select(col("ante"), col("cons"), col("nab"), col("na"), col("nb"),
        expr("10000 * nab div n_baskets").as("support_bp"),
        expr("10000 * nab div na").as("confidence_bp"),
        expr("(1000000 * nab * n_baskets) div (na * nb)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("confidence_bp").desc,
        col("ante"), col("cons"))
      .limit(topK)
  }

  private val ArMinPairs = 3
  private val ArTopK = 20
  private val ArMaxBasket = 256

  private val qAssocRules = GraftQuery(
    "qj_assoc_rules",
    (s, dir) =>
      // the memoized uncapped pair frame (shared with qj_copurchase_topk
      // and qg_densest) is handed to the operator, whose adaptive guard
      // uses it exactly when the cap is a proven no-op
      assocRules(basketItemsMemo(s, dir), "g", "item",
        ArMinPairs, ArTopK, ArMaxBasket, basketsPrepared = true,
        uncappedPairs = Some(copurchasePairsMemo(s, dir)
          .select(col("item").as("ante"), col("co_item").as("cons"),
            col("n_groups").as("nab")))),
    Some(s"""WITH b0 AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
      b AS MATERIALIZED (SELECT b0.g, b0.item FROM b0 JOIN (
        SELECT g FROM b0 GROUP BY g HAVING COUNT(*) <= $ArMaxBasket) ok
        ON b0.g = ok.g),
      n AS (SELECT COUNT(DISTINCT g) AS n_baskets FROM b),
      ic AS (SELECT item, COUNT(*) AS ni FROM b GROUP BY item),
      p AS (SELECT x.item AS ante, y.item AS cons, COUNT(*) AS nab
        FROM b x JOIN b y ON x.g = y.g AND x.item <> y.item
        GROUP BY 1, 2 HAVING COUNT(*) >= $ArMinPairs)
      SELECT ante, cons, CAST(nab AS BIGINT) AS nab,
        CAST(ia.ni AS BIGINT) AS na, CAST(ib.ni AS BIGINT) AS nb,
        CAST(10000 * nab // n.n_baskets AS BIGINT) AS support_bp,
        CAST(10000 * nab // ia.ni AS BIGINT) AS confidence_bp,
        CAST((1000000 * nab * n.n_baskets) // (ia.ni * ib.ni) AS BIGINT) AS lift_micro
      FROM p JOIN ic ia ON p.ante = ia.item JOIN ic ib ON p.cons = ib.item
      CROSS JOIN n
      ORDER BY lift_micro DESC, confidence_bp DESC, ante, cons LIMIT $ArTopK"""))

  // ------------------------------- spatial radius join (grid-bucketed)
  /** Spatial radius join — the missing join family next to as-of
    * (time), interval (ranges), and band (scalar distance): all
    * (supplier, customer) pairs within euclidean radius R on a plane,
    * WITHOUT a cross product. The standard grid trick: bucket every
    * point into an R×R cell, explode the probe side into its 3×3 cell
    * neighborhood (any point within R of p lies in one of those 9
    * cells), hash-join on the cell key, then the exact squared-distance
    * filter. Probe fan-out is a fixed 9×; the join is a plain equi-join
    * — this plan survives any corpus size where a distance cross join
    * cannot (PlanAuditSpec pins no CartesianProduct).
    *
    * Coordinates are synthesized deterministically from entity keys
    * (md5-derived µ-grid positions — the tables carry no geography);
    * the OPERATOR is the real artifact. All-integer squared distances —
    * no floating hypot, no engine disagreement on the boundary.
    *
    * Output: (s_suppkey, c_custkey, d2) pairs within R, ordered.
    */
  private val GeoR = 50000L
  private val qGeoRadius = GraftQuery(
    "qj_geo_radius",
    (s, dir) => {
      val cust = Tables.customer(s, dir).select(col("c_custkey"))
        .withColumn("cx", expr(
          s"${Nlp.h60("concat('gx:', cast(c_custkey as string))")} % 1000000"))
        .withColumn("cy", expr(
          s"${Nlp.h60("concat('gy:', cast(c_custkey as string))")} % 1000000"))
        .withColumn("ccx", expr(s"cx div $GeoR"))
        .withColumn("ccy", expr(s"cy div $GeoR"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"))
        .withColumn("sx", expr(
          s"${Nlp.h60("concat('gx:s', cast(s_suppkey as string))")} % 1000000"))
        .withColumn("sy", expr(
          s"${Nlp.h60("concat('gy:s', cast(s_suppkey as string))")} % 1000000"))
        .withColumn("d", explode(expr(
          "flatten(transform(sequence(-1, 1), a -> " +
            "transform(sequence(-1, 1), b -> named_struct('a', a, 'b', b))))")))
        .select(col("s_suppkey"), col("sx"), col("sy"),
          (expr(s"sx div $GeoR") + col("d.a")).as("ccx"),
          (expr(s"sy div $GeoR") + col("d.b")).as("ccy"))
      supp.join(cust, Seq("ccx", "ccy"))
        .withColumn("d2", expr("(cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)"))
        .filter(col("d2") <= GeoR * GeoR)
        .select(col("s_suppkey"), col("c_custkey"), col("d2"))
        .orderBy(col("s_suppkey"), col("c_custkey"))
    },
    Some(s"""WITH cust AS (SELECT c_custkey,
        ${Nlp.h60Sql("'gx:' || CAST(c_custkey AS VARCHAR)")} % 1000000 AS cx,
        ${Nlp.h60Sql("'gy:' || CAST(c_custkey AS VARCHAR)")} % 1000000 AS cy
      FROM customer),
      cc AS (SELECT c_custkey, cx, cy, cx // $GeoR AS ccx, cy // $GeoR AS ccy
        FROM cust),
      supp AS (SELECT s_suppkey,
        ${Nlp.h60Sql("'gx:s' || CAST(s_suppkey AS VARCHAR)")} % 1000000 AS sx,
        ${Nlp.h60Sql("'gy:s' || CAST(s_suppkey AS VARCHAR)")} % 1000000 AS sy
      FROM supplier),
      sp AS (SELECT s_suppkey, sx, sy,
          sx // $GeoR + a AS ccx, sy // $GeoR + b AS ccy
        FROM supp, (SELECT unnest([-1, 0, 1]) AS a),
          (SELECT unnest([-1, 0, 1]) AS b))
      SELECT s_suppkey, c_custkey,
        (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS d2
      FROM sp JOIN cc USING (ccx, ccy)
      WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
        <= ${GeoR * GeoR}
      ORDER BY s_suppkey, c_custkey"""))

  val queries: Seq[GraftQuery] =
    Seq(qSessionWindow, qArrayFns, qMapFns, qPosexplode, qPivot, qAsof,
      qAsofNative, qRangeJoin, qMath, qBitwise, qUdf, qQ02, qQ15, qLateral,
      qUnpivot, qCoPurchase, qIntervalOverlap, qIntervalNative, qAssocRules,
      qGeoRadius)
}
