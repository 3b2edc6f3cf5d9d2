package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.LocalSession

/** Scale-rehearsal data generator (r13 verdict task 1).
  *
  * Produces an sf·m dataset from an existing driver-generated sf dir
  * (TESTDATA.md schema, deterministic — every random draw is an
  * xxhash64 of stable keys, no rand()), so per-query scaling exponents
  * can be MEASURED instead of plan-read. The driver's tree is
  * read-only; output goes to a scratch dir (default /tmp/graft_sf1).
  *
  * Recipe per table, mirroring the observed generator shape at sf0.1:
  *
  *  - region/nation: fixed-size dimensions (5/25 rows at every sf) —
  *    copied verbatim.
  *  - customer/supplier/part/orders/lineitem/events: m key-shifted
  *    copies. Copy i shifts every primary AND foreign key by
  *    i·(source count), so per-entity density (lines per order, events
  *    per user, orders per customer) is invariant — exactly how the
  *    driver scales sf0.01→sf0.1 (all keys dense from 0, all counts
  *    linear in sf; verified against the parquet). Names are
  *    re-derived from the shifted key; event ts gets +i µs so copies
  *    don't collide on sort ties.
  *  - documents: REGENERATED, not replicated — verbatim copies would
  *    plant 10-way exact-dup cliques everywhere and inflate every LSH
  *    bucket join ~45 pairs/doc (measured structure of the source:
  *    4742 base docs of 10..100 uniform words over the 30-word vocab,
  *    250 near-dup copies = base + one trailing "dup" token, 8 exact
  *    copies; lang en 41%/others ~14.7%, source uniform over 20).
  *    The same proportions are produced at m× count.
  *  - embeddings: REGENERATED unit vectors (the source embeddings are
  *    isotropic — within-label mean cosine ≈ cross-label ≈ 0 measured
  *    at sf0.1 — so labels carry no geometry): Box–Muller from hashed
  *    uniforms, L2-normalized, label = hash mod 10.
  */
object GenSf {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val m = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession(defaultCpus = 16, graftSql = false,
      conf = Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    import graft.analytics.Tables

    def copies(df: DataFrame): DataFrame =
      df.withColumn("_c", explode(expr(s"sequence(0L, ${m - 1}L)")))

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[gensf] wrote $name")
    }

    // fixed dimensions
    write(Tables.region(spark, srcDir), "region", 1)
    write(Tables.nation(spark, srcDir), "nation", 1)

    // source counts drive the key shifts (dense keys from 0 verified)
    val nCust = Tables.customer(spark, srcDir).count()
    val nSupp = Tables.supplier(spark, srcDir).count()
    val nPart = Tables.part(spark, srcDir).count()
    val nOrd = Tables.orders(spark, srcDir).count()
    val nEvt = Tables.events(spark, srcDir).count()
    val nUser = Tables.events(spark, srcDir)
      .agg(max(col("user_id"))).head.getLong(0) + 1L

    write(copies(Tables.customer(spark, srcDir))
      .select((col("c_custkey") + col("_c") * nCust).as("c_custkey"),
        format_string("Customer#%09d", col("c_custkey") + col("_c") * nCust)
          .as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", 4)
    write(copies(Tables.supplier(spark, srcDir))
      .select((col("s_suppkey") + col("_c") * nSupp).as("s_suppkey"),
        format_string("Supplier#%09d", col("s_suppkey") + col("_c") * nSupp)
          .as("s_name"),
        col("s_nationkey"), col("s_acctbal")),
      "supplier", 1)
    write(copies(Tables.part(spark, srcDir))
      .select((col("p_partkey") + col("_c") * nPart).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice")),
      "part", 4)
    write(copies(Tables.orders(spark, srcDir))
      .select((col("o_orderkey") + col("_c") * nOrd).as("o_orderkey"),
        (col("o_custkey") + col("_c") * nCust).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")),
      "orders", 8)
    write(copies(Tables.lineitem(spark, srcDir))
      .select((col("l_orderkey") + col("_c") * nOrd).as("l_orderkey"),
        (col("l_partkey") + col("_c") * nPart).as("l_partkey"),
        (col("l_suppkey") + col("_c") * nSupp).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")),
      "lineitem", 32)
    write(copies(Tables.events(spark, srcDir))
      .select((col("event_id") + col("_c") * nEvt).as("event_id"),
        // +i µs: copies must not collide on sort ties the source
        // resolves by its µs-resolution timestamps
        expr("timestampadd(MICROSECOND, _c, ts)").as("ts"),
        (col("user_id") + col("_c") * nUser).as("user_id"),
        col("event_type"), col("value"), col("props")),
      "events", 16)

    // ---- documents: regenerate at m x the measured composition
    val srcDocs = Tables.documents(spark, srcDir)
    val vocab: Array[String] = srcDocs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "dup").distinct()
      .orderBy("w").collect().map(_.getString(0))
    require(vocab.length <= 64, s"unexpected vocab size ${vocab.length}")
    val vocabLit = array(vocab.map(lit): _*)
    val langs = Seq("en", "zh", "es", "fr", "de")
    val nBase = 4742L * m
    val nDup = 250L * m
    val nExact = 8L * m
    // pmod, not abs-%: abs(Long.MinValue) stays negative
    def h(salt: String, n: Long, cs: org.apache.spark.sql.Column*) =
      pmod(xxhash64((lit(salt) +: cs): _*), lit(n))
    val base = spark.range(nBase).toDF("doc_id")
      // length uniform 10..100 words (measured min/max/mean 10/100/54)
      .withColumn("_len", (h("len", 91, col("doc_id")) + 10).cast("int"))
      .withColumn("text", array_join(
        transform(sequence(lit(1), col("_len")),
          i => element_at(vocabLit,
            (h("w", vocab.length, col("doc_id"), i) + 1).cast("int"))),
        " "))
      // en 41.2%, the other four ~14.7% each (measured)
      .withColumn("_lr", h("lang", 1000, col("doc_id")))
      .withColumn("lang",
        when(col("_lr") < 412, "en")
          .otherwise(element_at(array(langs.drop(1).map(lit): _*),
            (col("_lr") % 4 + 1).cast("int"))))
      .withColumn("source",
        concat(lit("src"), h("src", 20, col("doc_id")).cast("string")))
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // near-dup plants: base doc + one trailing "dup" token (the measured
    // pair recipe); exact plants: verbatim copies
    val dups = base.filter(col("doc_id") < nDup)
      .select((col("doc_id") + nBase).as("doc_id"),
        concat(col("text"), lit(" dup")).as("text"), col("lang"),
        col("source"))
    // new id = nBase + old keeps the three id ranges disjoint:
    // dups land in [nBase, nBase+nDup), exacts in [nBase+nDup, ...)
    val exacts = base.filter(col("doc_id").between(nDup, nDup + nExact - 1))
      .select((col("doc_id") + nBase).as("doc_id"), col("text"),
        col("lang"), col("source"))
    write(base.unionByName(dups).unionByName(exacts)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars"),
      "documents", 8)

    // ---- embeddings: isotropic unit vectors, 64-dim float, 10 labels
    val nVec = 2000L * m
    val dim = 64
    val emb = spark.range(nVec).toDF("vec_id")
      .withColumn("_g", transform(sequence(lit(1), lit(dim)), i => {
        // Box-Muller on two hashed uniforms in (0,1]
        val u1 = (h("g1", 1048576L, col("vec_id"), i) + 1L) / lit(1048576.0)
        val u2 = h("g2", 1048576L, col("vec_id"), i) / lit(1048576.0)
        sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
      }))
      .withColumn("_n", sqrt(aggregate(col("_g"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("_g"), x => (x / col("_n")).cast("float"))
          .as("embedding"),
        h("lab", 10L, col("vec_id")).cast("int").as("label"))
    write(emb, "embeddings", 4)

    println(s"[gensf] done: $outDir (m=$m from $srcDir)")
    spark.stop()
  }
}
