package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the analytics tables the queries read (region, nation, customer,
  * supplier, part, orders, lineitem, events, documents, embeddings) at
  * scale factor `sf`, with the schemas and value domains of the project's
  * analytics fixtures. Every draw is a hash of the row key and a fixed
  * salt, so the tables are the same on every host and partitioning.
  *
  * {{{ perfbench.DataGen <out dir> [sf] }}}
  */
object DataGen {
  private val Salt = 20240101L

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val sf = if (args.length > 1) args(1).toDouble else 0.1
    val spark = SparkSession.builder().master(s"local[${Host.nproc}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try write(spark, out, sf) finally spark.stop()
  }

  /** Uniform double in [0, 1) from the row id and a per-column salt. */
  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(Salt + salt)), lit(1000000007L)).cast("double") / 1000000007.0

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (floor(u(salt) * values.size) + 1).cast("int"))

  private def uniformInt(salt: Int, lo: Long, hi: Long): Column =
    (floor(u(salt) * (hi - lo + 1)) + lo).cast("long")

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(u(salt) * (hi - lo) + lo, 2)

  private def day(salt: Int, from: String, days: Int): Column =
    expr(s"timestamp'$from 00:00:00'") + make_interval(lit(0), lit(0), lit(0),
      floor(u(salt) * days).cast("int"))

  def write(spark: SparkSession, out: String, sf: Double): Unit = {
    import spark.implicits._
    def n(base: Long) = math.max(1L, math.round(base * sf))
    def save(df: DataFrame, name: String, files: Int): Unit =
      df.coalesce(files).write.mode("overwrite").parquet(s"$out/$name.parquet")

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEvt = n(1000000)
    val nUser = n(15000); val nDoc = n(50000); val nVec = n(20000)

    save(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name"), "region", 1)
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"),
      "nation", 1)
    save(spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniformInt(1, 0, 24).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "customer", 1)
    save(spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uniformInt(11, 0, 24).cast("int").as("s_nationkey"),
      money(12, -999.99, 9999.99).as("s_acctbal")), "supplier", 1)
    save(spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(21, Seq("blue", "old", "red", "small", "new", "large", "hot", "cold")),
        pick(22, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"))).as("p_name"),
      concat(lit("Brand#"), uniformInt(23, 1, 25).cast("string")).as("p_brand"),
      pick(24, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      uniformInt(25, 1, 50).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice")), "part", 1)
    save(spark.range(nOrd).select(col("id").as("o_orderkey"),
      uniformInt(31, 0, nCust - 1).as("o_custkey"),
      pick(32, Seq("O", "F", "P")).as("o_orderstatus"),
      money(33, 1000.0, 500000.0).as("o_totalprice"),
      day(34, "1995-01-01", 2404).as("o_orderdate"),
      pick(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "orders", 2)
    save(spark.range(nLine).select(
      uniformInt(41, 0, nOrd - 1).as("l_orderkey"),
      uniformInt(42, 0, nPart - 1).as("l_partkey"),
      uniformInt(43, 0, nSupp - 1).as("l_suppkey"),
      uniformInt(44, 1, 7).cast("int").as("l_linenumber"),
      uniformInt(45, 1, 50).cast("double").as("l_quantity"),
      money(46, 900.0, 105000.0).as("l_extendedprice"),
      (uniformInt(47, 0, 10) / 100.0).as("l_discount"),
      (uniformInt(48, 0, 8) / 100.0).as("l_tax"),
      pick(49, Seq("A", "N", "R")).as("l_returnflag"),
      pick(50, Seq("O", "F")).as("l_linestatus"),
      day(51, "1995-01-02", 2498).as("l_shipdate")), "lineitem", 4)
    save(spark.range(nEvt).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + floor(u(61) * 2592000e6).cast("long")).as("ts"),
      uniformInt(62, 0, nUser - 1).as("user_id"),
      pick(63, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(-log(lit(1.0) - u(64)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", uniformInt(65, 0, 99)).as("props")), "events", 2)

    save(documents(nDoc).toDF("doc_id", "text", "lang", "source", "n_chars"), "documents", 1)
    save(embeddings(nVec).toDF("vec_id", "embedding", "label"), "embeddings", 1)
  }

  private val Vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** 10 to 100 uniform words over a 30-word vocabulary; 5% of documents
    * are a near copy (an earlier document plus a trailing "dup") and 0.16%
    * an exact copy; 41% are English, the rest split over four languages.
    */
  def documents(n: Long): Seq[(Long, String, String, String, Long)] = {
    val rnd = new SplittableRandom(Salt)
    val texts = new Array[String](n.toInt)
    (0 until n.toInt).map { i =>
      val r = rnd.nextDouble()
      val text =
        if (i > 0 && r < 0.05) texts(rnd.nextInt(i)) + " dup"
        else if (i > 0 && r < 0.0516) texts(rnd.nextInt(i))
        else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      texts(i) = text
      val l = rnd.nextDouble()
      val lang = if (l < 0.41) "en" else Vector("zh", "de", "fr", "es")(((l - 0.41) / 0.1475).toInt.min(3))
      (i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  /** Unit vectors of 64 Gaussian draws, label uniform over 10. */
  def embeddings(n: Long): Seq[(Long, Array[Float], Int)] = {
    val rnd = new java.util.Random(Salt)
    (0 until n.toInt).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
    }
  }
}
