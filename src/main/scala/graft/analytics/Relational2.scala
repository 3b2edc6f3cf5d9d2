package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import Exact._
import OracleFragments.{d2 => od2, discPrice => oRev, sumD => oSumD}

/** Second coverage batch: statistical aggregates with engine-exact math,
  * arg-min/max, string/date scalar functions, array aggregation, grouping
  * sets, and the remaining TPC-H shapes (Q11/Q12/Q20 flavors).
  */
object Relational2 {

  // Exact variance/stddev: naive-sum formula in DECIMAL (order-independent)
  // rather than the engines' (different) streaming implementations.
  private val qVariance = GraftQuery(
    "qstat_exact_variance",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(d2(col("l_quantity"))).as("sx"),
          sum(d2(col("l_quantity")) * d2(col("l_quantity"))).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          ((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n"))
            / (col("n") - 1)).as("var_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""WITH a AS (SELECT l_returnflag, COUNT(*) AS n,
      SUM(${od2("l_quantity")}) AS sx,
      SUM(${od2("l_quantity")} * ${od2("l_quantity")}) AS sxx
    FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
      (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1) AS var_qty
    FROM a ORDER BY l_returnflag"""))

  // Ordered-set aggregate: percentile_disc picks ACTUAL data values (first
  // value with cume_dist >= p — no interpolation, no float arithmetic), so
  // it is engine-exact by construction; DuckDB's quantile_disc implements
  // the same definition (probed: {1..4} → p25=1 p50=2 p75=3 p90=4).
  private val qPercentileDisc = GraftQuery(
    "qstat_percentile_disc",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
        percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50,
        percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_quantity) AS p90
      FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
      quantile_disc(l_quantity, 0.25) AS p25,
      quantile_disc(l_quantity, 0.5) AS p50,
      quantile_disc(l_quantity, 0.9) AS p90
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // Continuous percentiles at EXACT binary fractions (0.25/0.5/0.75) over
  // integral-valued quantities: position (n−1)·p and interpolation
  // a + (b−a)·frac are exact IEEE operations for these inputs, so both
  // engines' standard linear-interpolation definitions produce identical
  // doubles. (Fractions like 0.9 are not binary-exact — percentile_disc
  // above covers arbitrary fractions with no interpolation at all.)
  private val qPercentileCont = GraftQuery(
    "qstat_percentile_cont",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v2")
      s.sql("""SELECT l_returnflag,
        percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS c25,
        percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS c50,
        percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS c75
      FROM lineitem_v2 GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
      quantile_cont(l_quantity, 0.25) AS c25,
      quantile_cont(l_quantity, 0.5) AS c50,
      quantile_cont(l_quantity, 0.75) AS c75
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // Pearson correlation with engine-exact math: the streaming corr()
  // implementations accumulate floats in engine-specific order, so instead
  // accumulate the five moments in DECIMAL (order-independent) and apply
  // one fixed-form double expression. quantity × discount keeps every sum
  // below 2^53 scaled units, so the decimal→double casts are exact.
  private val qCorr = GraftQuery(
    "qstat_correlation",
    (s, dir) => {
      val q = d2(col("l_quantity"))
      val dd = d2(col("l_discount"))
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(q).as("sx"), sum(dd).as("sy"),
          sum(q * q).as("sxx"), sum(dd * dd).as("syy"), sum(q * dd).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("n") * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double"))))
            .as("corr_qty_disc"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""WITH a AS (SELECT l_returnflag, COUNT(*) AS n,
      SUM(${od2("l_quantity")}) AS sx, SUM(${od2("l_discount")}) AS sy,
      SUM(${od2("l_quantity")} * ${od2("l_quantity")}) AS sxx,
      SUM(${od2("l_discount")} * ${od2("l_discount")}) AS syy,
      SUM(${od2("l_quantity")} * ${od2("l_discount")}) AS sxy
    FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
      (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
          sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_disc
    FROM a ORDER BY l_returnflag"""))

  // arg-max via a unique composite key (price cents ⊕ orderkey) so the
  // selection is tie-free and engine-independent.
  private val qArgMax = GraftQuery(
    "qstat_argminmax",
    (s, dir) => {
      Tables.orders(s, dir)
        // round() before the bigint cast: Spark's cast truncates toward zero
        // while DuckDB's rounds to nearest, and price*100 is not exactly
        // representable in double (123.45*100 = 12344.999...).
        .withColumn("uk",
          round(col("o_totalprice") * 100).cast("bigint") * 1000000L + col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          max_by(col("o_orderkey"), col("uk")).as("priciest_order"),
          min_by(col("o_orderkey"), col("uk")).as("cheapest_order"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority,
      arg_max(o_orderkey, CAST(o_totalprice * 100 AS BIGINT) * 1000000 + o_orderkey) AS priciest_order,
      arg_min(o_orderkey, CAST(o_totalprice * 100 AS BIGINT) * 1000000 + o_orderkey) AS cheapest_order,
      MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // String function sweep over part names.
  private val qStrings = GraftQuery(
    "qf_string_functions",
    (s, dir) => {
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          substring(col("p_name"), 1, 4).as("pre"),
          length(col("p_name")).as("len"),
          regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"),
          concat_ws("|", col("p_brand"), col("p_type")).as("tag"),
          col("p_name").contains("bolt").as("has_bolt"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("padded"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, upper(p_name) AS up, substr(p_name, 1, 4) AS pre,
      CAST(length(p_name) AS INTEGER) AS len,
      regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
      p_brand || '|' || p_type AS tag,
      contains(p_name, 'bolt') AS has_bolt,
      lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded
    FROM part ORDER BY p_partkey"""))

  // Second string sweep: translate/repeat/reverse/instr/left/right/ascii.
  private val qStrings2 = GraftQuery(
    "qf_string_functions2",
    (s, dir) => {
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          translate(col("p_name"), "aeiou", "01234").as("xlat"),
          repeat(col("p_brand"), 2).as("rep2"),
          reverse(col("p_name")).as("rev"),
          instr(col("p_name"), "ol").as("pos_ol"),
          expr("left(p_name, 5)").as("l5"),
          expr("right(p_name, 5)").as("r5"),
          ascii(col("p_name")).as("first_code"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey,
      translate(p_name, 'aeiou', '01234') AS xlat,
      repeat(p_brand, 2) AS rep2,
      reverse(p_name) AS rev,
      CAST(strpos(p_name, 'ol') AS INTEGER) AS pos_ol,
      left(p_name, 5) AS l5,
      right(p_name, 5) AS r5,
      CAST(ascii(p_name) AS INTEGER) AS first_code
    FROM part ORDER BY p_partkey"""))

  // Second date sweep: last_day / ISO week / day-of-year / week+quarter
  // truncation / make_date (both engines truncate weeks to Monday and use
  // ISO week numbering).
  private val qDates2 = GraftQuery(
    "qf_date_functions2",
    (s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderkey") < 500)
        .withColumn("d", col("o_orderdate").cast("date"))
        .select(
          col("o_orderkey"),
          last_day(col("d")).as("month_end"),
          weekofyear(col("d")).as("iso_week"),
          dayofyear(col("d")).as("doy"),
          date_trunc("week", col("d")).cast("date").as("week_start"),
          date_trunc("quarter", col("d")).cast("date").as("quarter_start"),
          make_date(year(col("d")), month(col("d")), lit(1)).as("month_start"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
      last_day(CAST(o_orderdate AS DATE)) AS month_end,
      CAST(week(CAST(o_orderdate AS DATE)) AS INTEGER) AS iso_week,
      CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS doy,
      CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS week_start,
      CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS quarter_start,
      make_date(CAST(date_part('year', o_orderdate) AS INTEGER),
        CAST(date_part('month', o_orderdate) AS INTEGER), 1) AS month_start
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""))

  // Date/time function sweep over orders.
  private val qDates = GraftQuery(
    "qf_date_functions",
    (s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderkey") < 500)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          (dayofweek(col("o_orderdate")) - 1).as("dow_sun0"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
          col("o_orderdate").cast("date").as("as_date"),
          add_months(col("o_orderdate").cast("date"), 3).as("plus3m"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2002"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
      CAST(date_part('year', o_orderdate) AS INTEGER) AS y,
      CAST(date_part('month', o_orderdate) AS INTEGER) AS m,
      CAST(date_part('day', o_orderdate) AS INTEGER) AS d,
      CAST(date_part('quarter', o_orderdate) AS INTEGER) AS q,
      CAST(date_part('dow', o_orderdate) AS INTEGER) AS dow_sun0,
      strftime(o_orderdate, '%Y-%m') AS ym,
      CAST(o_orderdate AS DATE) AS as_date,
      CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
      CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""))

  // Array aggregation: deterministic via post-sort. The array itself is
  // computed (collect_list + sort_array) but serialized to a CSV string for
  // the gate — the driver's pandas hasher can't sort array-typed columns.
  private val qCollect = GraftQuery(
    "qagg_collect_sorted",
    (s, dir) => {
      Tables.supplier(s, dir)
        .groupBy(col("s_nationkey"))
        .agg(sort_array(collect_list(col("s_suppkey"))).as("suppliers_arr"),
          count(lit(1)).as("n"))
        .select(col("s_nationkey"),
          expr("array_join(transform(suppliers_arr, x -> cast(x as string)), ',')")
            .as("suppliers"),
          col("n"))
        .orderBy(col("s_nationkey"))
    },
    Some("""SELECT s_nationkey,
      array_to_string(list_transform(list_sort(list(s_suppkey)), x -> CAST(x AS VARCHAR)), ',') AS suppliers,
      COUNT(*) AS n
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""))

  // GROUPING SETS with explicit grouping_id disambiguation.
  private val qGroupingSets = GraftQuery(
    "qagg_grouping_sets",
    (s, dir) => {
      Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")))
        .cube(col("o_orderstatus"), col("o_year"))
        .agg(count(lit(1)).as("n"), sumD(d2(col("o_totalprice"))).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_year").cast("string"), lit("ALL")).as("yr"),
          col("n"), col("total"))
        .orderBy(col("status"), col("yr"))
    },
    Some(s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      COALESCE(CAST(CAST(date_part('year', o_orderdate) AS INTEGER) AS VARCHAR), 'ALL') AS yr,
      COUNT(*) AS n, ${oSumD(od2("o_totalprice"))} AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, CAST(date_part('year', o_orderdate) AS INTEGER))
    ORDER BY status, yr"""))

  // Approximate distinct (HLL sketches differ across engines — exact count
  // as the oracle-checked column, the approx column hash-free, bounded by
  // a sanity predicate instead).
  private val qApproxDistinct = GraftQuery(
    "qagg_approx_distinct",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          // sanity-only: approx within 10% of exact, surfaced as a boolean
          // (default rsd 0.05 — 4× smaller HLL sketches than rsd 0.02 for
          // the same demonstrated operator)
          (abs(approx_count_distinct(col("l_orderkey")) - countDistinct(col("l_orderkey")))
            <= countDistinct(col("l_orderkey")) * 0.10).as("approx_within_10pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders,
      true AS approx_within_10pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // TPC-H Q11 flavor: part value share above a global threshold (scalar
  // subquery against the same aggregate).
  private val qQ11 = GraftQuery(
    "q11_important_parts",
    (s, dir) => {
      val partVal = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(discPrice).as("val_dec"))
      val total = partVal.agg(sum(col("val_dec")).as("tot_dec"))
      partVal.crossJoin(broadcast(total))
        .filter(col("val_dec").cast("double") > col("tot_dec").cast("double") * 0.001)
        .select(col("l_partkey"), col("val_dec").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    },
    Some(s"""WITH pv AS (SELECT l_partkey, SUM($oRev) AS val_dec FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey, CAST(val_dec AS DOUBLE) AS part_value
    FROM pv
    WHERE CAST(val_dec AS DOUBLE) > (SELECT CAST(SUM(val_dec) AS DOUBLE) FROM pv) * 0.001
    ORDER BY part_value DESC, l_partkey"""))

  // TPC-H Q12 flavor: priority-class counts per linestatus for a ship window.
  private val qQ12 = GraftQuery(
    "q12_priority_classes",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
    Some("""SELECT l_linestatus,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem, orders
    WHERE l_orderkey = o_orderkey
      AND l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY l_linestatus ORDER BY l_linestatus"""))

  // TPC-H Q20 flavor: suppliers who shipped more than 2× the average
  // supplier volume of a part. The per-part average is a WINDOW over the
  // per-(part, supplier) aggregate — not a second aggregate joined back —
  // so lineitem is shuffled exactly once on (partkey, suppkey) and the
  // comparison rides the partkey exchange that follows; the old
  // agg + self-join shape exchanged the per-(part,supp) frame twice.
  private val qQ20 = GraftQuery(
    "q20_excess_suppliers",
    (s, dir) => {
      val wPart = Window.partitionBy(col("l_partkey"))
      val excess = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(d2(col("l_quantity"))).as("qty_dec"))
        .withColumn("avg_qty",
          sum(col("qty_dec")).over(wPart).cast("double") /
            count(lit(1)).over(wPart))
        .filter(col("qty_dec").cast("double") > col("avg_qty") * 2.0)
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },
    Some("""WITH pps AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    pw AS (
      SELECT l_suppkey, qty_dec,
        CAST(SUM(qty_dec) OVER (PARTITION BY l_partkey) AS DOUBLE)
          / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
      FROM pps),
    excess AS (
      SELECT DISTINCT l_suppkey FROM pw
      WHERE CAST(qty_dec AS DOUBLE) > avg_qty * 2.0)
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM excess WHERE l_suppkey = s_suppkey)
    ORDER BY s_suppkey"""))

  // TPC-H Q21 flavor: suppliers solely at fault on finished multi-supplier
  // orders. The test lineitem has no receipt/commit dates, so "at fault" is
  // l_returnflag = 'R'; the optimizer shape is the Q21 one exactly — an
  // EXISTS plus a NOT EXISTS both correlated to the SAME fact table on the
  // same key (co-supplier line on the order / co-supplier line also at
  // fault). Physically: semi + anti hash joins on l_orderkey with the
  // supplier inequality as a post-join condition — never a nested loop —
  // and the unique-key orders filter applied as a third semi join.
  private val qQ21 = GraftQuery(
    "q21_waiting_suppliers",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val l1 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val l2 = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val l3 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      l1
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
          col("ok") === col("o_orderkey"), "left_semi")
        .join(l2, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
        .join(l3, col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
        .join(broadcast(Tables.supplier(s, dir)), col("sk") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },
    Some("""SELECT s_name, COUNT(*) AS numwait
      FROM lineitem l1, orders, supplier
      WHERE l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        AND l1.l_returnflag = 'R' AND l1.l_suppkey = s_suppkey
        AND EXISTS (SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R')
      GROUP BY s_name ORDER BY numwait DESC, s_name"""))

  // Null-handling scalar sweep (nullif/coalesce/nvl2-style case).
  private val qNulls = GraftQuery(
    "qf_null_handling",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 300)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_discount"), lit(0.0)).as("disc_or_null"),
          coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)).as("disc_or_neg1"),
          when(col("l_tax") > 0, col("l_tax")).otherwise(lit(null)).as("tax_or_null"),
          isnull(nullif(col("l_discount"), lit(0.0))).as("zero_disc"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
      nullif(l_discount, 0.0) AS disc_or_null,
      coalesce(nullif(l_discount, 0.0), -1.0) AS disc_or_neg1,
      CASE WHEN l_tax > 0 THEN l_tax ELSE NULL END AS tax_or_null,
      nullif(l_discount, 0.0) IS NULL AS zero_disc
    FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber"""))

  // Custom TypedImperativeAggregate: per-segment top-5 orders by price,
  // selected through a tie-free composite key (price cents ⊕ orderkey),
  // decoded back to order keys. Bounded-memory heap per group vs the
  // collect-everything composable form.
  private val qTopKAgg = GraftQuery(
    "qagg_topk_custom",
    (s, dir) => {
      Tables.orders(s, dir)
        // round() before cast — see qArgMax.
        .withColumn("uk",
          round(col("o_totalprice") * 100).cast("bigint") * 1000000L + col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopKAgg.graft_topk(col("uk"), 5).as("top_uk"))
        // array computed by the custom aggregate; CSV-serialized for the
        // gate (driver's hasher can't sort array columns).
        .select(col("o_orderpriority"),
          expr("array_join(transform(top_uk, x -> cast(x % 1000000 as string)), ',')")
            .as("top_orders"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH u AS (SELECT o_orderpriority,
      CAST(o_totalprice * 100 AS BIGINT) * 1000000 + o_orderkey AS uk FROM orders),
    t AS (SELECT o_orderpriority, (list_sort(list(uk), 'DESC'))[1:5] AS top_uk
      FROM u GROUP BY o_orderpriority)
    SELECT o_orderpriority,
      array_to_string(list_transform(top_uk, x -> CAST(x % 1000000 AS VARCHAR)), ',') AS top_orders
    FROM t ORDER BY o_orderpriority"""))

  // Typed Aggregator tier (Dataset-native custom aggregate, vs the
  // Catalyst TypedImperativeAggregate in qagg_topk_custom): weighted mean
  // price by quantity, accumulated exactly in integer cents.
  private val qTypedAgg = GraftQuery(
    "qagg_typed_aggregator",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .select(
          round(col("l_extendedprice") * 100).cast("long").as("v"),
          round(col("l_quantity") * 100).cast("long").as("w"),
          col("l_returnflag").as("rf"))
        .as[(Long, Long, String)]
        .groupByKey(_._3)
        .mapValues(r => (r._1, r._2))
        .agg(graft.functions.WeightedMeanAgg.toColumn.name("wavg_price"))
        .toDF("l_returnflag", "wavg_price")
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
      CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
        / CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS wavg_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // Regexp-function sweep (count / full-match / first-match / replace /
  // split-count). Spark's regexp_substr returns NULL on no-match where
  // DuckDB's regexp_extract returns '' — NULLIF aligns them; regexp_count
  // has no DuckDB builtin and oracles as len(regexp_extract_all).
  private val qRegexp = GraftQuery(
    "qf_regexp_functions",
    (s, dir) => {
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          expr("regexp_count(p_name, '[aeiou]')").as("n_vowels"),
          col("p_name").rlike("^[a-z]+ ").as("starts_word"),
          expr("nullif(regexp_extract(p_name, '[a-z]*o[a-z]*', 0), '')").as("first_o_word"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
          (size(split(col("p_name"), "\\s+"))).as("n_words"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey,
      CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels,
      regexp_matches(p_name, '^[a-z]+ ') AS starts_word,
      NULLIF(regexp_extract(p_name, '[a-z]*o[a-z]*', 0), '') AS first_o_word,
      regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      CAST(len(regexp_split_to_array(p_name, '\s+')) AS INTEGER) AS n_words
    FROM part ORDER BY p_partkey"""))

  // Boolean aggregates + the standard-SQL FILTER clause (conditional
  // aggregation without CASE contortions) — both codegen'd built-ins.
  private val qBoolAgg = GraftQuery(
    "qagg_bool_filter",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("bool_and(l_quantity > 0)").as("all_pos_qty"),
          expr("bool_or(l_discount > 0.09)").as("any_big_disc"),
          expr("count(1) FILTER (WHERE l_tax > 0.03)").as("n_taxed"),
          expr("count(1) FILTER (WHERE l_returnflag = 'R' AND l_quantity < 5)")
            .as("n_small_returns"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
      bool_and(l_quantity > 0) AS all_pos_qty,
      bool_or(l_discount > 0.09) AS any_big_disc,
      COUNT(*) FILTER (WHERE l_tax > 0.03) AS n_taxed,
      COUNT(*) FILTER (WHERE l_returnflag = 'R' AND l_quantity < 5) AS n_small_returns,
      COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ------------------------------------------------------- 2-D skyline
  /** Pareto frontier (skyline) of a 2-D min/max trade-off: the rows not
    * dominated by any other (dominated = someone is ≤ on the minimized
    * axis, ≥ on the maximized one, strict on at least one). The classic
    * multi-objective shortlist query ("cheapest-for-its-size" parts).
    *
    * Distributed via the same two-level prefix-scan as
    * [[LayoutOps.compactionPlan]], with MAX as the scan monoid instead of
    * SUM: on the DISTINCT (minCol, maxCol) points ordered by (minCol ASC,
    * maxCol DESC), a point survives iff the running max of maxCol over the
    * strict prefix is below its own maxCol (an earlier equal-max point has
    * strictly smaller minCol, an earlier larger-max point has ≤ minCol —
    * both dominate; an earlier smaller-max point never does). The prefix
    * max is computed distributed: range-partition on the total order,
    * per-partition maxes (≤ P rows) get exclusive prefix maxes via a tiny
    * window, each partition scans locally in parallel. No single-partition
    * window over the data, no all-pairs dominance join — O(n log n)
    * total work where the textbook NOT EXISTS formulation (the oracle,
    * deliberately an independent formulation) is O(n²).
    *
    * Survivor points then re-join the input (broadcast — a skyline is
    * small by nature) so tying rows all surface. Output: every input row
    * on the frontier.
    */
  def skyline2d(rows: DataFrame, minCol: String, maxCol: String,
      parts: Int = 0): DataFrame = {
    val spark = rows.sparkSession
    val p = if (parts > 0) parts
      else spark.sessionState.conf.numShufflePartitions
    val pts = rows.select(col(minCol).as("_mn"), col(maxCol).as("_mx"))
      .distinct()
      .repartitionByRange(p, col("_mn").asc, col("_mx").desc)
      // materialized: both consumers must read ONE sampled partitioning
      // (see Scans.rangedCumSums)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val offsets = pts.groupBy(col("_pid")).agg(max(col("_mx")).as("_pmax"))
      .withColumn("_off", max(col("_pmax")).over(
        Window.orderBy(col("_pid")).rowsBetween(Window.unboundedPreceding, -1)))
      .drop("_pmax")
    val wLoc = Window.partitionBy(col("_pid"))
      .orderBy(col("_mn").asc, col("_mx").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val survivors = pts.join(broadcast(offsets), "_pid")
      .withColumn("_pref", greatest(max(col("_mx")).over(wLoc), col("_off")))
      .filter(col("_pref").isNull || col("_pref") < col("_mx"))
      .select(col("_mn"), col("_mx"))
    rows.join(broadcast(survivors),
      col(minCol) === col("_mn") && col(maxCol) === col("_mx"), "left_semi")
  }

  // greatest(null, x) = x and max().over(empty prefix) = null, so the very
  // first point (no prefix anywhere) survives by the isNull arm — mirrored
  // by the oracle's NOT EXISTS, which is vacuously true for it.
  private val qSkyline = GraftQuery(
    "qstat_skyline",
    (s, dir) =>
      skyline2d(Tables.part(s, dir), "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy(col("p_retailprice"), col("p_partkey")),
    Some("""SELECT p_partkey, p_retailprice, p_size FROM part p
      WHERE NOT EXISTS (SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      ORDER BY p_retailprice, p_partkey"""))

  /** HLL sketches as FIRST-CLASS columns (Datasketches `hll_sketch_agg` /
    * `hll_union_agg` / `hll_sketch_estimate`): per-group sketches built
    * once, then MERGED — not recomputed — for the rollup row. This is the
    * warehouse pattern for pre-aggregated distinct counts at 100 TB:
    * store a sketch per (day, dimension) partition, answer any
    * coarser-grain distinct-count query by unioning sketches (mergeable,
    * unlike exact distinct counts), never rescanning the facts. The union
    * of same-lgK HLL sketches is lossless, so the merged estimate equals
    * the directly-built global sketch's — OpsApiSpec pins that identity.
    *
    * Oracled WITHOUT exposing sketch bits: the raw estimate is
    * engine-specific, so the gate row carries the exact counts plus
    * `within_5pct` — the |estimate − exact| ≤ 5 % contract every
    * lgK=12 sketch comfortably meets (σ ≈ 1.6 %). DuckDB mirrors the
    * exact counts and asserts TRUE for the bound, so a Spark-side
    * estimate drifting out of tolerance turns the row red — the gate
    * checks the sketch's accuracy CONTRACT, not its bit pattern, while
    * the full build→merge→estimate pipeline stays in the measured plan.
    */
  private val qHllSketch = GraftQuery(
    "qagg_hll_sketch",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val perType = e.groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val rollup = perType
        .agg(expr("hll_union_agg(sk, false)").as("sk"))
        .crossJoin(e.agg(countDistinct(col("user_id")).as("exact_users")))
        .select(lit("ALL (merged sketches)").as("event_type"),
          expr("hll_sketch_estimate(sk)").as("approx_users"),
          col("exact_users"))
      val bound = (abs(col("approx_users") - col("exact_users")) * lit(100L)
        <= lit(5L) * col("exact_users")).as("within_5pct")
      perType
        .select(col("event_type"),
          expr("hll_sketch_estimate(sk)").as("approx_users"),
          col("exact_users"))
        .unionByName(rollup)
        .select(col("event_type"), col("exact_users"), bound)
        .orderBy(col("event_type"))
    },
    Some("""WITH pt AS (SELECT event_type,
        COUNT(DISTINCT user_id) AS exact_users FROM events GROUP BY event_type),
      al AS (SELECT 'ALL (merged sketches)' AS event_type,
        COUNT(DISTINCT user_id) AS exact_users FROM events)
      SELECT event_type, exact_users, TRUE AS within_5pct FROM pt
      UNION ALL SELECT event_type, exact_users, TRUE FROM al
      ORDER BY event_type"""))

  /** Theta sketches for distinct-count SET ALGEBRA (Datasketches
    * `theta_sketch_agg` + `theta_union` / `theta_intersection` /
    * `theta_difference`) — the capability HLL structurally lacks: HLL
    * registers merge only by max (union), so "distinct users who clicked
    * AND purchased" or "clicked but NEVER purchased" cannot come from
    * HLL sketches, while theta sketches keep a hash SAMPLE and support
    * all three set operations. This is the audience-overlap / exclusive-
    * reach warehouse primitive: one sketch per cohort partition, any
    * intersection/difference answered sketch-side, facts never
    * rescanned. Below the nominal-entries threshold the sketch is in
    * exact mode; beyond it the estimates are sampled — the gate row
    * therefore carries exact counts plus accuracy-bound flags (the
    * [[qHllSketch]] contract pattern): 5 % for the cohorts and union,
    * 10 % for intersection/difference, whose theta-sketch error is
    * relative to the UNION's sampling, not their own smaller
    * cardinality. Cohort flags come from one per-user aggregation; the
    * sketches ride a separate branch of the same scan.
    */
  private val qThetaSetops = GraftQuery(
    "qagg_theta_setops",
    (s, dir) => {
      // cohort predicates chosen to PARTIALLY overlap at every test SF
      // (high-value clickers vs high-value purchasers) so the
      // intersection/difference legs are exercised on non-trivial sets
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"))
      val isA = col("event_type") === "click" && col("value") > 120
      val isB = col("event_type") === "purchase" && col("value") > 120
      val flags = e.groupBy(col("user_id"))
        .agg(max(when(isA, 1L).otherwise(0L)).as("ha"),
          max(when(isB, 1L).otherwise(0L)).as("hb"))
      val exact = flags.agg(
        sum(col("ha")).as("exact_a"), sum(col("hb")).as("exact_b"),
        sum(col("ha") * col("hb")).as("exact_and"),
        sum(greatest(col("ha"), col("hb"))).as("exact_or"),
        sum(col("ha") * (lit(1L) - col("hb"))).as("exact_diff"))
      val est = e.agg(
          expr("""theta_sketch_agg(CASE WHEN event_type = 'click'
              AND value > 120 THEN user_id END)""").as("ska"),
          expr("""theta_sketch_agg(CASE WHEN event_type = 'purchase'
              AND value > 120 THEN user_id END)""").as("skb"))
        .select(
          expr("theta_sketch_estimate(ska)").as("est_a"),
          expr("theta_sketch_estimate(skb)").as("est_b"),
          expr("theta_sketch_estimate(theta_union(ska, skb))").as("est_or"),
          expr("theta_sketch_estimate(theta_intersection(ska, skb))").as("est_and"),
          expr("theta_sketch_estimate(theta_difference(ska, skb))").as("est_diff"))
      def ok(estC: String, exC: String, pct: Int) =
        (abs(col(estC) - col(exC)) * lit(100L) <= lit(pct.toLong) * col(exC))
      exact.crossJoin(broadcast(est))
        .select(col("exact_a"), col("exact_b"), col("exact_or"),
          col("exact_and"), col("exact_diff"),
          ok("est_a", "exact_a", 5).as("a_ok"),
          ok("est_b", "exact_b", 5).as("b_ok"),
          ok("est_or", "exact_or", 5).as("or_ok"),
          ok("est_and", "exact_and", 10).as("and_ok"),
          ok("est_diff", "exact_diff", 10).as("diff_ok"))
    },
    Some("""WITH f AS (SELECT user_id,
        MAX(CASE WHEN event_type = 'click' AND value > 120 THEN 1 ELSE 0 END) AS ha,
        MAX(CASE WHEN event_type = 'purchase' AND value > 120 THEN 1 ELSE 0 END) AS hb
      FROM events GROUP BY user_id)
      SELECT CAST(SUM(ha) AS BIGINT) AS exact_a,
        CAST(SUM(hb) AS BIGINT) AS exact_b,
        CAST(SUM(GREATEST(ha, hb)) AS BIGINT) AS exact_or,
        CAST(SUM(ha * hb) AS BIGINT) AS exact_and,
        CAST(SUM(ha * (1 - hb)) AS BIGINT) AS exact_diff,
        TRUE AS a_ok, TRUE AS b_ok, TRUE AS or_ok,
        TRUE AS and_ok, TRUE AS diff_ok
      FROM f"""))

  // Deterministic per-group mode: Spark's mode() picks an ARBITRARY value
  // on frequency ties, so the selection goes through the max(struct(cnt,
  // -value)) idiom (the LPA tie-break) — highest count, then smallest
  // value, engine-independent. Two uniform-key aggregations, the second
  // over |groups|·|distinct values| rows.
  private val qMode = GraftQuery(
    "qstat_mode",
    (s, dir) => Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity").cast("bigint").as("q"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(max(struct(col("cnt"), (-col("q")).as("nq"))).as("m"))
      .select(col("l_returnflag"), (-col("m.nq")).as("mode_qty"),
        col("m.cnt").as("n"))
      .orderBy(col("l_returnflag")),
    Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2),
      r AS (SELECT l_returnflag, q, cnt,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cnt DESC, q) AS rk
        FROM c)
      SELECT l_returnflag, q AS mode_qty, cnt AS n
      FROM r WHERE rk = 1 ORDER BY l_returnflag"""))

  // Winsorized robust mean: clip each value at its group's disc
  // percentiles [p05, p95] before averaging — the standard outlier-
  // tolerant mean for metrics pipelines (one spike can't drag the
  // average; unlike trimming, the sample size is preserved). Exact
  // end-to-end: values go through the shared cents quantization, the
  // cut points are percentile_disc (actual data values, no
  // interpolation), and the mean is an integer DIV — deterministic
  // under any partitioning. Two group-keyed aggregations + one
  // group-keyed join; nothing windows globally.
  private val qWinsorize = GraftQuery(
    "qstat_winsorize",
    (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_wz")
      s.sql("""WITH c AS (SELECT event_type,
          CAST(round(value * 100) AS BIGINT) AS cents FROM events_wz),
        p AS (SELECT event_type,
            CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS lo,
            CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS hi
          FROM c GROUP BY event_type)
        SELECT c.event_type, p.lo, p.hi, COUNT(*) AS n,
          SUM(CASE WHEN c.cents < p.lo THEN p.lo
                   WHEN c.cents > p.hi THEN p.hi ELSE c.cents END)
            DIV COUNT(*) AS win_mean_cents,
          SUM(c.cents) DIV COUNT(*) AS raw_mean_cents
        FROM c JOIN p ON c.event_type = p.event_type
        GROUP BY c.event_type, p.lo, p.hi
        ORDER BY c.event_type""")
    },
    Some("""WITH c AS (SELECT event_type,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      p AS (SELECT event_type, quantile_disc(cents, 0.05) AS lo,
          quantile_disc(cents, 0.95) AS hi
        FROM c GROUP BY event_type)
      SELECT c.event_type, p.lo, p.hi, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN c.cents < p.lo THEN p.lo
                 WHEN c.cents > p.hi THEN p.hi ELSE c.cents END)
          // COUNT(*) AS BIGINT) AS win_mean_cents,
        CAST(SUM(c.cents) // COUNT(*) AS BIGINT) AS raw_mean_cents
      FROM c JOIN p ON c.event_type = p.event_type
      GROUP BY c.event_type, p.lo, p.hi
      ORDER BY c.event_type"""))

  // ------------------------------------------ bottom-k quantile sketch
  /** Mergeable per-group quantile sketch — the third sketch class beside
    * the HLL distinct sketch (qagg_hll_sketch) and the count-min
    * frequency sketch (qagg_countmin): a BOTTOM-K sketch keyed by a
    * deterministic row hash. Per group, keep the k rows whose
    * md5-derived key is smallest; that is a uniform k-sample of the
    * group that is (a) DETERMINISTIC — no RNG, so the oracle matches
    * exactly — and (b) MERGEABLE: bottom-k of a union is the bottom-k
    * of the per-part bottom-ks (min-monoid), so shard sketches combine
    * associatively, the property that lets 1000 executors sketch
    * independently and a coordinator fold the results (OpsApiSpec pins
    * merge ≡ direct). The quantile readout is disc-style selection from
    * the sorted sample (index ⌈p·m⌉) — no interpolation, engine-exact.
    *
    * Scale: the rank-≤-k filter plans as WindowGroupLimit (per-partition
    * top-k pre-prune before the group exchange, like qt_weighted_sample)
    * and the k-bounded collect_list is O(k) state per group. Error is
    * the standard uniform-sampling quantile bound (±O(1/√k) in rank).
    *
    * Output: (group, n_rows, n_sample, q_est) ordered by group.
    */
  def bottomKQuantile(df: DataFrame, groupCol: String, valCol: Column,
      idCol: String, k: Int = 64, p: Double = 0.5): DataFrame = {
    require(k >= 1 && p > 0.0 && p <= 1.0)
    val hk = s"cast(conv(substring(md5(cast($idCol as string)), 1, 15), 16, 10) as bigint)"
    val w = Window.partitionBy(col(groupCol))
      .orderBy(expr(hk), col(idCol))
    df.select(col(groupCol), valCol.as("_v"), col(idCol))
      .withColumn("_rk", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .filter(col("_rk") <= k)
      .groupBy(col(groupCol))
      .agg(max(col("_n")).as("n_rows"), count(lit(1)).as("n_sample"),
        sort_array(collect_list(col("_v"))).as("_s"))
      .select(col(groupCol), col("n_rows"), col("n_sample"),
        expr(s"element_at(_s, cast(ceil($p * size(_s)) as int))").as("q_est"))
      .orderBy(col(groupCol))
  }

  private val BkK = 64

  private val bottomKSql = s"""WITH c AS (SELECT event_type, event_id,
      CAST(round(value * 100) AS BIGINT) AS cents,
      CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
    FROM events),
    r AS (SELECT event_type, cents,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hk, event_id) AS rk,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c),
    s AS (SELECT event_type, MAX(n) AS n_rows, COUNT(*) AS n_sample,
        list_sort(list(cents)) AS sm
      FROM r WHERE rk <= $BkK GROUP BY event_type)
    SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
      CAST(n_sample AS BIGINT) AS n_sample,
      sm[CAST(ceil(0.5 * len(sm)) AS INT)] AS q_est
    FROM s ORDER BY event_type"""

  private val qBottomK = GraftQuery(
    "qagg_bottomk_quantile",
    (s, dir) => bottomKQuantile(Tables.events(s, dir), "event_type",
      round(col("value") * 100).cast("bigint"), "event_id", BkK),
    Some(bottomKSql))

  val queries: Seq[GraftQuery] = Seq(
    qVariance, qPercentileDisc, qPercentileCont, qCorr, qArgMax, qStrings, qStrings2,
    qDates, qDates2, qCollect, qRegexp, qBoolAgg,
    qGroupingSets, qApproxDistinct, qQ11, qQ12, qQ20, qQ21, qNulls, qTopKAgg, qTypedAgg,
    qSkyline, qHllSketch, qThetaSetops, qMode, qWinsorize, qBottomK)
}
