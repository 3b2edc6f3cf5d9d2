package graft.analytics

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftQuery
import Exact._
import OracleFragments.{d2 => od2, discPrice => oRev, charge => oCharge, sumD => oSumD, avgD => oAvgD}

/** TPC-H-style relational queries over the driver tables.
  *
  * Scale stance (100 TB mindset): fact tables (`lineitem`, `orders`,
  * `events`) are only ever filtered/aggregated — never collected; dimension
  * tables (`region`, `nation`, `supplier`, `part`, `customer`) are joined
  * with explicit `broadcast()` hints so the big side never shuffles for a
  * dim join. Aggregations are partial-agg friendly (plain groupBy over
  * codegen'd exprs). Every query ends in a deterministic ORDER BY matching
  * its oracle.
  */
object Relational {

  private def ts(s: String): Column = lit(s).cast("timestamp")

  // ---------------------------------------------------------------- q01
  // TPC-H Q1: pricing summary report. Single scan, partial-agg, 6 groups.
  private val q01 = GraftQuery(
    "q01_pricing_summary",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= ts("2000-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumD(d2(col("l_quantity"))).as("sum_qty"),
          sumD(d2(col("l_extendedprice"))).as("sum_base_price"),
          sumD(discPrice).as("sum_disc_price"),
          sumD(charge).as("sum_charge"),
          avgD(d2(col("l_quantity"))).as("avg_qty"),
          avgD(d2(col("l_extendedprice"))).as("avg_price"),
          avgD(d2(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${oSumD(od2("l_quantity"))} AS sum_qty,
      ${oSumD(od2("l_extendedprice"))} AS sum_base_price,
      ${oSumD(oRev)} AS sum_disc_price,
      ${oSumD(oCharge)} AS sum_charge,
      ${oAvgD(od2("l_quantity"))} AS avg_qty,
      ${oAvgD(od2("l_extendedprice"))} AS avg_price,
      ${oAvgD(od2("l_discount"))} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q03
  // TPC-H Q3: shipping priority. customer is the small side → broadcast.
  private val q03 = GraftQuery(
    "q03_shipping_priority",
    (s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, dir).filter(col("o_orderdate") < ts("1998-06-15"))
      val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > ts("1998-06-15"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sumD(discPrice).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some(s"""SELECT l_orderkey, o_orderdate, o_orderpriority, ${oSumD(oRev)} AS revenue
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-15' AND l_shipdate > TIMESTAMP '1998-06-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  // ---------------------------------------------------------------- q04
  // TPC-H Q4 (adapted: qty>48 instead of commit/receipt): EXISTS → left-semi.
  private val q04 = GraftQuery(
    "q04_order_priority",
    (s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1998-01-01"))
      val big = Tables.lineitem(s, dir).filter(col("l_quantity") > 48).select(col("l_orderkey"))
      ord.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 48)
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q05
  // TPC-H Q5: local supplier volume. All dims broadcast; one fact shuffle.
  private val q05 = GraftQuery(
    "q05_local_supplier",
    (s, dir) => {
      val asia = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val nat = Tables.nation(s, dir).join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      val sup = Tables.supplier(s, dir).join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1998-01-01"))
      val cust = Tables.customer(s, dir)
      Tables.lineitem(s, dir)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sumD(discPrice).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some(s"""SELECT n_name, ${oSumD(oRev)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  // ---------------------------------------------------------------- q06
  // TPC-H Q6: forecast revenue change. Pure scan+filter+agg, fully pushed down.
  private val q06 = GraftQuery(
    "q06_revenue_forecast",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= ts("1998-01-01") && col("l_shipdate") < ts("1999-01-01") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(sumD(d2(col("l_extendedprice")) * d2(col("l_discount"))).as("revenue"))
    },
    Some(s"""SELECT ${oSumD(od2("l_extendedprice") + " * " + od2("l_discount"))} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"""))

  // ---------------------------------------------------------------- q07
  // TPC-H Q7: volume shipping between two nations (supplier vs customer side).
  private val q07 = GraftQuery(
    "q07_volume_shipping",
    (s, dir) => {
      val n1 = Tables.nation(s, dir).select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir).select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1999-01-01"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_12") ||
          (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_7"))
        .withColumn("l_year", year(col("l_shipdate")))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sumD(discPrice).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      CAST(date_part('year', l_shipdate) AS INTEGER) AS l_year, ${oSumD(oRev)} AS revenue
    FROM supplier, lineitem, orders, customer, nation n1, nation n2
    WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
      AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_12')
        OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_7'))
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  // ---------------------------------------------------------------- q08
  // TPC-H Q8-style: nation revenue share per year inside a region (window over agg).
  private val q08 = GraftQuery(
    "q08_market_share",
    (s, dir) => {
      val amr = Tables.region(s, dir).filter(col("r_name") === "AMERICA")
      val nat = Tables.nation(s, dir).join(broadcast(amr), col("n_regionkey") === col("r_regionkey"))
      val cust = Tables.customer(s, dir).join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      val yearRev = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .withColumn("o_year", year(col("o_orderdate")))
        .groupBy(col("o_year"), col("n_name"))
        .agg(sum(discPrice).as("rev_dec"))
      val w = Window.partitionBy(col("o_year"))
      yearRev
        .withColumn("revenue", col("rev_dec").cast("double"))
        .withColumn("share", col("rev_dec").cast("double") / sum(col("rev_dec")).over(w).cast("double"))
        .select(col("o_year"), col("n_name"), col("revenue"), col("share"))
        .orderBy(col("o_year"), col("n_name"))
    },
    Some(s"""WITH yr AS (
      SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS o_year, n_name, SUM($oRev) AS rev_dec
      FROM lineitem, orders, customer, nation, region
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n_nationkey
        AND n_regionkey = r_regionkey AND r_name = 'AMERICA'
      GROUP BY 1, 2)
    SELECT o_year, n_name, CAST(rev_dec AS DOUBLE) AS revenue,
      CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER (PARTITION BY o_year) AS DOUBLE) AS share
    FROM yr ORDER BY o_year, n_name"""))

  // ---------------------------------------------------------------- q09
  // TPC-H Q9-style: profit by supplier nation and year for matching parts.
  private val q09 = GraftQuery(
    "q09_product_profit",
    (s, dir) => {
      val pt = Tables.part(s, dir).filter(col("p_name").contains("ring"))
      Tables.lineitem(s, dir)
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .withColumn("l_year", year(col("l_shipdate")))
        .groupBy(col("n_name"), col("l_year"))
        .agg(sumD(discPrice).as("profit"))
        .orderBy(col("n_name"), col("l_year").desc)
    },
    Some(s"""SELECT n_name, CAST(date_part('year', l_shipdate) AS INTEGER) AS l_year,
      ${oSumD(oRev)} AS profit
    FROM lineitem, part, supplier, nation
    WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%ring%'
    GROUP BY 1, 2 ORDER BY n_name, l_year DESC"""))

  // ---------------------------------------------------------------- q10
  // TPC-H Q10: returned items ranking.
  private val q10 = GraftQuery(
    "q10_returned_items",
    (s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= ts("1998-01-01") && col("o_orderdate") < ts("1998-07-01"))
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sumD(discPrice).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name, ${oSumD(oRev)} AS revenue
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND c_nationkey = n_nationkey
      AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1998-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20"""))

  // ---------------------------------------------------------------- q13
  // TPC-H Q13: customer order-count distribution (left outer join + double agg).
  private val q13 = GraftQuery(
    "q13_customer_distribution",
    (s, dir) => {
      val perCust = Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""))

  // ---------------------------------------------------------------- q14
  // TPC-H Q14: promo revenue share. Ratio of two exact decimal sums.
  private val q14 = GraftQuery(
    "q14_promo_effect",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= ts("1998-03-01") && col("l_shipdate") < ts("1998-04-01"))
      li.join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            sum(when(col("p_type") === "PROMO", discPrice)
              .otherwise(lit(0).cast(org.apache.spark.sql.types.DecimalType(25, 4)))).cast("double") /
            sum(discPrice).cast("double")).as("promo_revenue"))
    },
    Some(s"""SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $oRev ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
        / ${oSumD(oRev)} AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1998-03-01' AND l_shipdate < TIMESTAMP '1998-04-01'"""))

  // ---------------------------------------------------------------- q16
  // TPC-H Q16-style: distinct supplier count per brand/type bucket.
  private val q16 = GraftQuery(
    "q16_parts_suppliers",
    (s, dir) => {
      val pt = Tables.part(s, dir).filter(col("p_size").isin(1, 5, 11, 19, 28, 36, 42, 49))
      Tables.lineitem(s, dir)
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
    },
    Some("""SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE l_partkey = p_partkey AND p_size IN (1, 5, 11, 19, 28, 36, 42, 49)
    GROUP BY p_brand, p_type ORDER BY supplier_cnt DESC, p_brand, p_type"""))

  // ---------------------------------------------------------------- q17
  // TPC-H Q17: small-quantity orders — correlated per-part avg via self-agg join.
  private val q17 = GraftQuery(
    "q17_small_qty_revenue",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val br = Tables.part(s, dir).filter(col("p_brand") === "Brand#3")
      // Only Brand#3 parts' averages are ever consumed (inner join on pk
      // below), so prune lineitem by the broadcast filtered-part list BEFORE
      // the per-part aggregate — at scale this cuts the groupBy shuffle by
      // the brand selectivity (~25×) with an identical answer.
      val perPart = li
        .join(broadcast(br.select(col("p_partkey").as("ppk"))),
          col("l_partkey") === col("ppk"), "left_semi")
        .groupBy(col("l_partkey").as("pk"))
        .agg((avgD(d2(col("l_quantity"))) * 0.2).as("qty_lim"))
      li.join(broadcast(br), col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("qty_lim"))
        .agg((sumD(d2(col("l_extendedprice"))) / 7.0).as("avg_yearly"))
    },
    Some(s"""WITH pa AS (
      SELECT l_partkey AS pk, ${oAvgD(od2("l_quantity"))} * 0.2 AS qty_lim
      FROM lineitem GROUP BY l_partkey)
    SELECT ${oSumD(od2("l_extendedprice"))} / 7.0 AS avg_yearly
    FROM lineitem, part, pa
    WHERE p_partkey = l_partkey AND pk = l_partkey
      AND p_brand = 'Brand#3' AND l_quantity < qty_lim"""))

  // ---------------------------------------------------------------- q18
  // TPC-H Q18: large-volume orders (HAVING over exact decimal sum).
  private val q18 = GraftQuery(
    "q18_large_orders",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val big = li.groupBy(col("l_orderkey").as("big_ok"))
        .agg(sum(d2(col("l_quantity"))).as("sum_qty_dec"))
        .filter(col("sum_qty_dec") > 250)
        .select(col("big_ok"), col("sum_qty_dec").cast("double").as("total_qty"))
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("big_ok"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },
    Some(s"""WITH big AS (
      SELECT l_orderkey AS big_ok, SUM(${od2("l_quantity")}) AS sum_qty_dec
      FROM lineitem GROUP BY l_orderkey HAVING SUM(${od2("l_quantity")}) > 250)
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      CAST(sum_qty_dec AS DOUBLE) AS total_qty
    FROM orders, big, customer
    WHERE o_orderkey = big_ok AND o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""))

  // ---------------------------------------------------------------- q19
  // TPC-H Q19-style: disjunctive brand/size/quantity predicate.
  private val q19 = GraftQuery(
    "q19_discounted_revenue",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#12" && col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
        .agg(sumD(discPrice).as("revenue"))
    },
    Some(s"""SELECT ${oSumD(oRev)} AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND (
      (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
      OR (p_brand = 'Brand#12' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
      OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))"""))

  // ---------------------------------------------------------------- q22
  // TPC-H Q22-style: rich customers with no orders (anti-join + exact scalar avg).
  private val q22 = GraftQuery(
    "q22_global_sales_opportunity",
    (s, dir) => {
      val cust = Tables.customer(s, dir)
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(avgD(d2(col("c_acctbal"))).as("avg_bal"))
      val rich = cust.crossJoin(broadcast(avgBal)).filter(col("c_acctbal") > col("avg_bal"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      rich.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), sumD(d2(col("c_acctbal"))).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    },
    Some(s"""SELECT c_nationkey, COUNT(*) AS numcust, ${oSumD(od2("c_acctbal"))} AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT ${oAvgD(od2("c_acctbal"))} FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey ORDER BY c_nationkey"""))

  // ---------------------------------------------------------------- set ops
  private def custIn(s: SparkSession, dir: String, y0: String, y1: String) =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(y0).cast("timestamp") &&
        col("o_orderdate") < lit(y1).cast("timestamp"))
      .select(col("o_custkey").as("custkey")).distinct()

  private val qIntersect = GraftQuery(
    "qset_custs_1995_and_2001",
    (s, dir) => custIn(s, dir, "1995-01-01", "1996-01-01")
      .intersect(custIn(s, dir, "2001-01-01", "2002-01-01"))
      .orderBy(col("custkey")),
    Some("""SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '2001-01-01' AND o_orderdate < TIMESTAMP '2002-01-01'
    ORDER BY custkey"""))

  private val qExcept = GraftQuery(
    "qset_custs_1995_not_1996",
    (s, dir) => custIn(s, dir, "1995-01-01", "1996-01-01")
      .except(custIn(s, dir, "1996-01-01", "1997-01-01"))
      .orderBy(col("custkey")),
    Some("""SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    ORDER BY custkey"""))

  // Multiset set ops (EXCEPT ALL / INTERSECT ALL — duplicate-preserving
  // semantics, vs the distinct forms above); results aggregated so the
  // multiplicities themselves are what the gate checks.
  private def prioIn(s: org.apache.spark.sql.SparkSession, dir: String,
      y0: String, y1: String) =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(y0).cast("timestamp") &&
        col("o_orderdate") < lit(y1).cast("timestamp"))
      .select(col("o_orderpriority").as("prio"))

  private val qExceptAll = GraftQuery(
    "qset_prio_except_all",
    (s, dir) => prioIn(s, dir, "1995-01-01", "1996-01-01")
      .exceptAll(prioIn(s, dir, "1996-01-01", "1997-01-01"))
      .groupBy(col("prio")).agg(count(lit(1)).as("n"))
      .orderBy(col("prio")),
    Some("""SELECT prio, COUNT(*) AS n FROM (
      SELECT o_orderpriority AS prio FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      EXCEPT ALL
      SELECT o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01') t
    GROUP BY prio ORDER BY prio"""))

  private val qIntersectAll = GraftQuery(
    "qset_prio_intersect_all",
    (s, dir) => prioIn(s, dir, "1995-01-01", "1996-01-01")
      .intersectAll(prioIn(s, dir, "1996-01-01", "1997-01-01"))
      .groupBy(col("prio")).agg(count(lit(1)).as("n"))
      .orderBy(col("prio")),
    Some("""SELECT prio, COUNT(*) AS n FROM (
      SELECT o_orderpriority AS prio FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      INTERSECT ALL
      SELECT o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01') t
    GROUP BY prio ORDER BY prio"""))

  // ---------------------------------------------------------------- rollup
  private val qRollup = GraftQuery(
    "qrollup_returnflag_status",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sumD(d2(col("l_quantity"))).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls"))
    },
    Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      COUNT(*) AS n, ${oSumD(od2("l_quantity"))} AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls"""))

  val queries: Seq[GraftQuery] = Seq(
    q01, q03, q04, q05, q06, q07, q08, q09, q10, q13, q14, q16, q17, q18, q19, q22,
    qIntersect, qExcept, qExceptAll, qIntersectAll, qRollup)
}
