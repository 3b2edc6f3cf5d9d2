package graft.analytics

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: the pair-generation tier must never fall
  * back to a cartesian product or an unbounded broadcast nested-loop join
  * — the round-1 O(n²) scans must stay bucketed. (qs_topk_bruteforce is
  * the documented exception: its BNL join broadcasts the tiny QUERY side
  * over one corpus scan — the correct exact plan; qj_range_band likewise
  * broadcasts a 3-row band table.)
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private val mustBeBucketed = Seq(
    "qd_exact_dedup", "qd_ngram_jaccard", "qd_minhash_lsh", "qd_simhash",
    "qd_embedding_neardup", "qs_ann_lsh", "qs_ann_ivf")

  test("Scans.rebase keeps loop-state stats FLAT across nested rounds") {
    // The SCC/MST/MIS loops carry state through Scans.rebase because
    // Catalyst's size-only stats visitor MULTIPLIES child sizes at
    // joins and localCheckpoint's LogicalRDD INHERITS the origin
    // estimate — so a loop whose round-r state self-joins round-(r−1)
    // state SQUARES the BigInt estimate per round until the driver
    // hangs in BigInteger.multiply (EXPLAINS_r9). This pin simulates
    // four nested rounds and asserts the rebased state is a LogicalRDD
    // leaf claiming EXACTLY defaultSizeInBytes every round — swap
    // rebase for plain localCheckpoint and the first self-join round
    // goes super-default and this test goes red.
    import spark.implicits._
    val default = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    var st = Scans.rebase((1L to 64L).toDF("k"), 2)
    for (r <- 1 to 4) {
      val lp = st.queryExecution.optimizedPlan
      assert(lp.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
        s"round $r: rebase must leave a LogicalRDD leaf, got " +
          lp.getClass.getName)
      assert(lp.stats.sizeInBytes == default,
        s"round $r: loop-state stats ${lp.stats.sizeInBytes} != " +
          s"default $default — rebase stopped resetting the estimate")
      st = Scans.rebase(
        st.join(st.selectExpr("k as k2"), expr("k = k2")).select(col("k")), 2)
    }
    // the contrast that gives the pin its teeth: plain localCheckpoint
    // INHERITS a join-multiplied estimate instead of the default
    val joined = st.join(st.selectExpr("k as k2"), expr("k = k2"))
      .select(col("k")).localCheckpoint()
    assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes != default,
      "localCheckpoint unexpectedly resets stats — if Spark changed " +
        "this, rebase may be simplifiable; re-measure EXPLAINS_r9 first")
  }

  test("pair-generation plans contain no CartesianProduct or BNL join") {
    mustBeBucketed.foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name regressed to a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name regressed to a nested-loop join")
    }
  }

  test("third-phase ops stay bucketed: no cartesian/BNL in the corpus-scale tier") {
    // (qt_collocations and qe_rfm are excluded on purpose: their only BNL
    // is the sanctioned 1-row total/max broadcast cross — same shape as
    // the KS/bootstrap bindings.)
    Seq("qt_dup_ngram_rate", "qe_dau_mau", "qs_pca_power",
      "qd_dedup_savings", "qt_span_corruption", "qe_ltv_curve",
      "qstat_spearman").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name regressed to a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name regressed to a nested-loop join")
    }
  }

  test("fourth-phase ops stay bucketed: eval/pairing tier pairs via equi-joins") {
    // strict tier: corpus-scale pair generation must be equi-keyed
    Seq("qml_bradley_terry", "qt_preference_pairs", "qe_seq_patterns",
      "qml_auc_roc", "qml_kappa").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name regressed to a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name regressed to a nested-loop join")
    }
    // these carry a sanctioned 1-row/`|sources|`-row broadcast cross
    // (threshold totals, source-totals pair domain) — pin only that the
    // corpus never cartesians
    Seq("qt_source_tvd", "qt_kneser_ney", "qt_curriculum",
      "qml_pr_curve").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name regressed to a cartesian product")
    }
  }

  test("calendar-domain pair tests use a BROADCAST nested loop (the sanctioned shape)") {
    // Kendall / Theil–Sen / Mann–Kendall deliberately pair the daily
    // aggregate: the build side is a broadcast of a calendar-bounded frame
    // (≤ a few thousand rows at any corpus size). Pin that the plan is the
    // broadcast BNL — and NOT a shuffle cartesian, which would mean the
    // domain bound was lost.
    Seq("qstat_kendall", "qstat_theil_sen", "qstat_mann_kendall").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"$name should pair via a broadcast nested loop over the day domain")
      assert(!plan.contains("CartesianProduct"),
        s"$name lost the broadcast bound — shuffle cartesian:\n$plan")
    }
  }

  test("qj_sorted_neighborhood pairs via the block-id hash join, no cartesian/BNL") {
    val plan = graft.SparkEntry.queries("qj_sorted_neighborhood")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"sorted-neighborhood pair generation regressed to all-pairs:\n$plan")
  }

  test("qs_graph_ann_rounds: per-round recall joins stay keyed, no cartesian") {
    val plan = graft.SparkEntry.queries("qs_graph_ann_rounds")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"rounds curve regressed to a cartesian:\n$plan")
  }

  test("qs_graph_ann's final cut reads the checkpointed beam; no cartesian anywhere") {
    val plan = graft.SparkEntry.queries("qs_graph_ann")(spark, sf)
      .queryExecution.executedPlan.toString
    // per-round expansion joins (frontier broadcast into edges, candidate
    // ids broadcast into the corpus scan) run eagerly at construction and
    // land in the per-round checkpoints; the final plan must be just the
    // top-k window over the materialized beam — never a cartesian and
    // never a re-derivation of earlier rounds
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"graph-ANN regressed to all-pairs:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"beam rounds should be checkpoint-materialized:\n$plan")
  }

  test("runtime Bloom-filter prunes the big side of a selective shuffle join") {
    import org.apache.spark.sql.functions.col
    // the 100 TB lever: a selective dimension filter is turned into a bloom
    // probe on the fact side BEFORE its shuffle, so most of the big table
    // never leaves the scan stage. Thresholds here only unlock the rule at
    // test scale (the fact side must normally scan >10 GB to qualify).
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val orders = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val li = Tables.lineitem(spark, sf)
      val j = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected on the fact side:\n$opt")
      assert(j.count() > 0)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("q21 correlated EXISTS/NOT-EXISTS plans as semi+anti hash joins") {
    val plan = graft.SparkEntry.queries("q21_waiting_suppliers")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "correlated self-joins regressed to a nested loop")
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      "expected semi + anti joins on the fact table")
  }

  test("qw_top_supplier_revenue has no single-partition window exchange") {
    // r2 weakness: rank() over a partition-less Window funnelled every
    // per-supplier aggregate through one task. The re-plan takes the top 5
    // via TakeOrderedAndProject (parallel per-partition top-k) and only then
    // ranks the provably-5-row result, so no global-sort exchange remains.
    val plan = graft.SparkEntry.queries("qw_top_supplier_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "expected the parallel top-k (TakeOrderedAndProject) plan")
    assert(!plan.contains("Exchange SinglePartition"),
      "global window still forces a single-partition exchange")
  }

  test("q02/q15 scalar-subquery shapes stay hash joins with parallel top-k") {
    val p2 = graft.SparkEntry.queries("q02_min_cost_supplier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      "q02 correlated scalar-min regressed to a nested loop")
    assert(p2.contains("TakeOrderedAndProject"),
      "q02 top-100 should be TakeOrdered, not a global sort")
    val p15 = graft.SparkEntry.queries("q15_top_supplier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p15.contains("CartesianProduct"),
      "q15 scalar-max equality regressed to a cartesian")
  }

  test("qt_seq_pack's packing window is hash-partitioned, never global") {
    val plan = graft.SparkEntry.queries("qt_seq_pack")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      "packing cumsum must partition by bucket, not run on one task")
    assert(plan.contains("hashpartitioning(bucket"),
      s"expected a bucket hash-partitioned window exchange, got:\n$plan")
  }

  test("qt_domain_mix aggregates domains small and broadcasts rates back") {
    val plan = graft.SparkEntry.queries("qt_domain_mix")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "per-domain keep-rates must broadcast back to the corpus scan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      "rate join must not shuffle the corpus")
  }

  test("qe_funnel chains hash joins only, never a nested loop") {
    val plan = graft.SparkEntry.queries("qe_funnel")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "funnel stage joins regressed to a nested loop")
  }

  test("centroid/k-means shapes are scan + aggregate, no joins at all") {
    Seq("qs_label_centroids", "qs_kmeans_step").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"),
        s"$name should be one scan + one aggregation, found a join:\n$plan")
    }
  }

  test("brute-force baseline broadcasts the query side, never the corpus") {
    val plan = graft.SparkEntry.queries("qs_topk_bruteforce")(spark, sf)
      .queryExecution.executedPlan.toString
    // the cross join must exist (exact baseline) but only as a broadcast
    // of the filtered query side
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "expected a broadcast cross join of the query side")
    assert(!plan.contains("CartesianProduct"),
      "corpus-by-corpus cartesian is never acceptable")
  }

  test("qj_asof_native plans exactly one exchange + one sort per child") {
    // the operator declares requiredChildDistribution/Ordering; this pins
    // that EnsureRequirements satisfies them with ONE hash exchange and
    // ONE sort per side (no double-sort under AQE, no extra shuffle) so
    // the sort-merge scale shape survives Spark upgrades
    val plan = graft.SparkEntry.queries("qj_asof_native")(spark, sf)
      .queryExecution.executedPlan.toString
    def count(p: String, needle: String): Int =
      p.sliding(needle.length).count(_ == needle)
    assert(plan.contains("AsofJoin"), s"native as-of operator missing:\n$plan")
    val exchanges = count(plan, "Exchange hashpartitioning")
    assert(exchanges == 2,
      s"expected exactly 2 child hash exchanges, got $exchanges:\n$plan")
    // 2 child sorts + at most the binding's final output orderBy
    val sorts = count(plan, "Sort [")
    assert(sorts == 2 || sorts == 3,
      s"expected 2 child sorts (+1 optional output sort), got $sorts:\n$plan")
  }

  test("qt_stratified_sample pre-prunes per-partition via WindowGroupLimit") {
    // the rank<=k filter must rewrite to WindowGroupLimit so a giant
    // stratum never funnels through one task's full sort
    val plan = graft.SparkEntry.queries("qt_stratified_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected partial per-partition group-limit, got:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      "stratified sampling must never global-sort the corpus")
  }

  test("qt_dsir_weights broadcasts the ratio table, never shuffles features to it") {
    val plan = graft.SparkEntry.queries("qt_dsir_weights")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "bucket ratios (B rows) must broadcast over the feature scan")
    assert(!plan.contains("CartesianProduct"), "no cartesian in DSIR")
  }

  test("qs_pq_topk ships codes through the join, never the embedding") {
    val df = graft.SparkEntry.queries("qs_pq_topk")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // broadcast cross join is the intended exact-scoring shape (tiny
    // query side); corpus-by-corpus cartesian never is
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected the query LUTs to broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), "no cartesian in PQ scoring")
    // the PQ economics: the scoring join carries the int codes (corpus
    // side) and the K-entry LUTs (query side) — the raw 64-double `v`
    // must not survive either encode projection into the join
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val joins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(joins.nonEmpty, s"expected a BNL scoring join:\n$plan")
    val crossing = joins.head.children.flatMap(_.output.map(_.name))
    assert(crossing.exists(_.startsWith("code_")),
      s"corpus side should ship PQ codes, saw: $crossing")
    assert(!crossing.contains("v"),
      s"raw vectors crossed the scoring join: $crossing")
  }

  test("qs_ivfpq_topk's ADC join is a cell hash join carrying codes only") {
    val df = graft.SparkEntry.queries("qs_ivfpq_topk")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the whole point of IVF over PQ: the scoring join is a HASH join on
    // the pruned cell, never a corpus-wide nested loop
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ regressed to an unpruned scan:\n$plan")
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    // the ADC join is the one whose output carries PQ codes; its inputs
    // must not carry any raw vector column (the rerank joins downstream
    // legitimately fetch vectors by id)
    val adcJoins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.output.map(_.name).exists(_.startsWith("code_")) => j
    }
    assert(adcJoins.nonEmpty, s"no cell hash join with PQ codes found:\n$plan")
    val crossing = adcJoins.flatMap(_.children.flatMap(_.output.map(_.name)))
    assert(!crossing.exists(Set("v", "va", "vb")),
      s"raw vectors crossed the ADC join: $crossing")
  }

  test("qd_semdedup and qd_bloom_incremental never scan all-pairs") {
    Seq("qd_semdedup", "qd_bloom_incremental").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name regressed to an all-pairs scan:\n$plan")
    }
  }

  test("qs_ann_filtered pushes the metadata predicate into the parquet scan") {
    val plan = graft.SparkEntry.queries("qs_ann_filtered")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(label, [1,3,5])"),
      s"label predicate not pushed to the scan:\n${plan.take(2000)}")
  }

  test("qt_weighted_sample plans as TakeOrderedAndProject, never a global sort") {
    val plan = graft.SparkEntry.queries("qt_weighted_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample lost its parallel top-k plan:\n$plan")
  }

  test("qd_cross_contain broadcasts the bench side; the train corpus is never BNL-joined") {
    val plan = graft.SparkEntry.queries("qd_cross_contain")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-contain regressed to an all-pairs scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bench side no longer broadcast:\n$plan")
  }

  test("qcdc_scd2 builds the history on ONE entity-key exchange, no joins") {
    val plan = graft.SparkEntry.queries("qcdc_scd2")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(exchanges >= 1, s"expected an entity-key exchange:\n$plan")
    assert(!plan.contains("Join"), s"SCD2 must be join-free:\n$plan")
    // both window passes must share the single user_id shuffle
    val allExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(allExchanges == 1,
      s"expected exactly one hash exchange (shared by LAG and LEAD), got $allExchanges:\n$plan")
  }

  test("qt_phrase_search prunes postings with a broadcast slot join before any exchange") {
    val plan = graft.SparkEntry.queries("qt_phrase_search")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"slot table no longer broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"phrase search regressed to a nested loop:\n$plan")
    // the broadcast probe must sit BELOW the first shuffle: only phrase-
    // token postings may ever leave the scan stage
    val firstExchange = plan.indexOf("Exchange hashpartitioning")
    val bhj = plan.indexOf("BroadcastHashJoin")
    assert(firstExchange == -1 || bhj > firstExchange,
      "broadcast slot join must be upstream (printed deeper) of the first exchange")
  }

  test("qj_copurchase_topk's per-item top-k pre-prunes via WindowGroupLimit") {
    val plan = graft.SparkEntry.queries("qj_copurchase_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-item top-k no longer pre-prunes partial groups:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"basket self-join regressed to an all-pairs scan:\n$plan")
  }

  test("qstat_skyline never joins all-pairs; dominance is a prefix scan") {
    val plan = graft.SparkEntry.queries("qstat_skyline")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"skyline regressed to the O(n^2) dominance join:\n$plan")
    assert(plan.contains("rangepartitioning"),
      s"expected the dominance-order range partition:\n$plan")
  }

  test("qd_winnow pairs only on winnowed fingerprints; no all-pairs fallback") {
    val plan = graft.SparkEntry.queries("qd_winnow")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"winnowing regressed to an all-pairs scan:\n$plan")
  }

  test("qe_top_paths global top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = graft.SparkEntry.queries("qe_top_paths")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"path top-k lost its per-partition top-k shape:\n$plan")
  }

  test("qcdc_pit_join runs on the native as-of merge: one exchange+sort per side") {
    val plan = graft.SparkEntry.queries("qcdc_pit_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"),
      s"PIT join no longer uses the native as-of operator:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"PIT join regressed to an interval nested-loop:\n$plan")
  }

  test("AQE splits a skewed sort-merge-join partition at runtime") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // the OTHER skew lever beside the salted operators (SkewOps): leave
    // the plan alone and let adaptive execution split the hot partition
    // when runtime sizes reveal it. Thresholds lowered only to make the
    // 1.6 MB test partition qualify as "skewed".
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 90% of the fact rows share key 0 — one hot shuffle partition
      val fact = spark.range(0, 200000)
        .select(when(col("id") < 180000, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val dim = spark.range(0, 200000).select(col("id").as("k"), lit(1L).as("d"))
      val joined = fact.join(dim, "k")
      // execute THIS DataFrame (count() would execute a different plan
      // and leave joined's adaptive plan unfinalized)
      assert(joined.collect().length == 200000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n$finalPlan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("qml_target_encode broadcasts the 1-row prior, never the fact table") {
    val plan = graft.SparkEntry.queries("qml_target_encode")(spark, sf)
      .queryExecution.executedPlan.toString
    // the only nested-loop allowed is the 1-row prior crossJoin (it prints
    // as BroadcastNestedLoopJoin with a single-row build side)
    assert(!plan.contains("CartesianProduct"),
      s"target encoding planned a cartesian product:\n$plan")
  }

  test("scan+agg-only newcomers plan no join at all") {
    Seq("qstat_linreg", "qstat_pettitt", "qprof_fd_violations")
      .foreach { name =>
        val plan = graft.SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Join"), s"$name grew a join:\n$plan")
      }
  }

  test("qt_wordpiece joins the distinct-word fold back on the word hash key only") {
    val plan = graft.SparkEntry.queries("qt_wordpiece")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wordpiece count join regressed to a pair scan:\n$plan")
  }

  test("qj_phonetic_blocking pairs via a key hash join, no cartesian/BNL") {
    val plan = graft.SparkEntry.queries("qj_phonetic_blocking")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"phonetic blocking regressed to an unbounded pair scan:\n$plan")
  }

  test("bitext/shapley broadcast the bounded side; no cartesian ever") {
    Seq("qs_bitext_margin", "qs_knn_shapley", "qd_dbscan", "qml_calibration")
      .foreach { name =>
        val plan = graft.SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"$name planned a cartesian product:\n$plan")
      }
  }

  test("betweenness sweep rides the memoized DAG/BFS only: no base-table scan, no cartesian") {
    // r8 sweep form: δ levels are DAG-slice joins + aggregates over the
    // session-memoized path DAG and landmark BFS (ExistingRDD scans);
    // re-touching a parquet base table from inside the sweep would mean
    // the shared-prefix architecture regressed
    val plan = graft.SparkEntry.queries("qg_betweenness")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"betweenness regressed to all-pairs:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"sweep should read the memoized DAG/BFS:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"sweep re-derived a base table instead of the memos:\n$plan")
  }

  test("binaryTopK pre-prunes the Hamming phase per partition (WindowGroupLimit)") {
    // the 1-bit tier shuffles (query, candidate, hamming) rows into the
    // per-query rerank window — the scale guard is Spark's
    // WindowGroupLimit pushdown cutting each partition to the rerank
    // budget BEFORE the exchange; losing it would ship the full
    // corpus×queries row set into one window per query
    val plan = graft.SparkEntry.queries("qs_binary_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"hamming rerank window lost its per-partition pre-prune:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"binary tier planned a cartesian product:\n$plan")
  }

  test("session-2 ops: blocked/inverted-index pair tiers never cartesian") {
    // damerau pairs via the blocking-key equi-join; the audio
    // constellation pairs via the fingerprint inverted index; local
    // clustering via the oriented wedge equi-join
    Seq("qj_damerau_typo", "qm_audio_fingerprint",
      "qg_local_clustering").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name planned a nested-loop join:\n$plan")
    }
    // fellegi-sunter's only BNL is the sanctioned pattern-table (≤ 8
    // rows) × 1-row weight-frame broadcast cross — its PAIR generation
    // is the blocked equi-join; pin only no-cartesian
    val fsPlan = graft.SparkEntry.queries("qj_fellegi_sunter")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!fsPlan.contains("CartesianProduct"),
      s"qj_fellegi_sunter planned a cartesian product:\n$fsPlan")
  }

  test("session-2 ops: map-only / bounded-frame tiers never shuffle pairs") {
    // content chunking is per-document array arithmetic + uniform-key
    // aggs (no join before the source rollup); zipf surprisal's only
    // joins are the token-keyed charge-back and broadcast offsets;
    // kruskal-wallis rides the distributed ranged scan (its 1-row
    // combine is the sanctioned broadcast cross); isotonic's bin-frame
    // pair joins are bins-bounded broadcasts
    Seq("qd_content_chunks", "qt_zipf_surprisal",
      "qstat_kruskal_wallis").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
  }

  test("session-3 ops: sketch gates and pair tiers never cartesian") {
    // bleu pairs on (pair, gram) equi-keys; the sketch gates' only BNLs
    // are the sanctioned bounded broadcasts (1-row totals, ≤k-row
    // summaries, the 19-point kde grid, the group-domain games-howell
    // pair frame); pin no-cartesian across all five
    Seq("qml_bleu", "qagg_heavy_hitters", "qagg_tdigest", "qstat_kde",
      "qstat_games_howell").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
    // bleu's corpus-scale pair generation must additionally be BNL-free:
    // its 1-row total combines are plain broadcast crosses of singleton
    // aggregates, which plan as BNL — so pin the (pair, gram) tier by
    // checking the clipped-count joins are hash joins on the gram keys
    val bleuPlan = graft.SparkEntry.queries("qml_bleu")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(bleuPlan.contains("ShuffledHashJoin") || bleuPlan.contains("SortMergeJoin")
        || bleuPlan.contains("BroadcastHashJoin"),
      s"qml_bleu's gram joins are not hash joins:\n$bleuPlan")
  }

  test("session-4 ops: pair tiers stay keyed; folds and rollups never cartesian") {
    // jaro-winkler pairs on the rare-token blocking equi-join (the
    // damerau contract); krippendorff/cochran/friedman are natural-key
    // rollups (their only BNLs are sanctioned 1-row / k-row broadcast
    // combines); the survival folds are single-aggregate day frames
    Seq("qj_jaro_winkler", "qml_krippendorff", "qstat_cochran_q",
      "qstat_friedman", "qe_nelson_aalen", "qe_logrank", "qstat_ljung_box",
      "qt_good_turing", "qt_yule_k", "qml_cronbach_alpha", "qt_burstiness",
      "qe_burstiness", "qg_rich_club", "qt_tau_weights", "qt_keyness",
      "qagg_bitmap_distinct").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
    // jaro-winkler's pair generation must additionally be BNL-free
    val jwPlan = graft.SparkEntry.queries("qj_jaro_winkler")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!jwPlan.contains("BroadcastNestedLoopJoin"),
      s"qj_jaro_winkler planned a nested-loop join:\n$jwPlan")
    // rbo rides the same count-frame join as mrr/rbp/ndcg — the corpus
    // appears only under the memoized exact/ann builds, never all-pairs
    val rboPlan = graft.SparkEntry.queries("qs_rbo")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!rboPlan.contains("CartesianProduct"),
      s"qs_rbo planned a cartesian product:\n$rboPlan")
  }

  test("session-5 ops: ranged scans, k-row rollups, walk joins never cartesian") {
    // the trend/location family is value-collapsed ranged scans + 1-row
    // combines (sanctioned broadcast crosses only); katz is four
    // node-key equi-join rounds; map rides the count-frame join;
    // dp_counts and neyman are k-row rollups
    Seq("qstat_jonckheere", "qstat_cliffs_delta", "qml_kendall_w",
      "qstat_cochran_armitage", "qstat_mood_median", "qstat_cvm",
      "qstat_page_trend", "qpriv_dp_counts", "qs_map", "qg_katz",
      "qt_neyman_alloc").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
    // katz's top-k must be TakeOrdered, never a global sort; its rounds
    // are hash equi-joins, never BNL
    val katz = graft.SparkEntry.queries("qg_katz")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(katz.contains("TakeOrderedAndProject"),
      s"qg_katz lost its TakeOrdered top-k:\n$katz")
    assert(!katz.contains("BroadcastNestedLoopJoin"),
      s"qg_katz planned a nested-loop join:\n$katz")
    // hodges-lehmann's probe loop runs at construction (bounded driver
    // fetches); the frame it returns must be the 1-row literal result —
    // if a pair materialization ever leaked into the returned plan, a
    // scan/join would appear here
    val hl = graft.SparkEntry.queries("qstat_hodges_lehmann")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!hl.contains("CartesianProduct") &&
      !hl.contains("BroadcastNestedLoopJoin") && !hl.contains("FileScan"),
      s"qstat_hodges_lehmann planned more than the literal row:\n$hl")
  }

  test("r10 ops: pair tiers keyed, windows partitioned, no cartesian") {
    // NOTE the audit's reach: matching/coloring/facility/mondrian run
    // their per-round joins at CONSTRUCTION behind checkpoint barriers,
    // so for those four this asserts only the returned frame (round
    // shapes are pinned by scaladoc contract + EXPLAINS, not here).
    // geo_radius is the load-bearing one — a distance CROSS join instead
    // of the cell-key equi-join is exactly the failure this catches;
    // wer/chrf/pass@k are pair-keyed or grouped aggregates.
    Seq("qg_matching", "qg_coloring", "qs_facility_select",
      "qpriv_mondrian", "qj_geo_radius", "qml_wer", "qml_chrf",
      "qml_pass_at_k", "qprof_embedding_drift", "qstat_binseg")
      .foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
      // embedding_drift's BNL is ksTest's sanctioned 1-row totals
      // broadcast cross (the qstat_ks_test shape) — everything else
      // must stay on hash joins
      if (name != "qprof_embedding_drift")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name planned a BNL join:\n$plan")
    }
    // hampel's only window is user-partitioned; geo_radius joins on the
    // exploded 3x3 cell key, so the join itself must be a hash join
    val hp = graft.SparkEntry.queries("qe_hampel")(spark, sf)
      .queryExecution.executedPlan.toString
    hp.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(l.contains("user_id"),
        s"qe_hampel planned an unpartitioned window:\n$l")
    }
    // wer is one join then map-only: the token DP must not shuffle rows
    val wer = graft.SparkEntry.queries("qml_wer")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(wer.contains("graft_token_levenshtein")
      || wer.contains("tokenlevenshtein")
      || wer.toLowerCase.contains("levenshtein"),
      s"qml_wer lost the native kernel:\n$wer")
  }

  test("r9 graph ops: SCC/MST/WL stay on keyed equi-joins, no cartesian") {
    // scc's dominance pair generation is keyed on the ORDER id; mst's
    // per-round pick/merge joins are node/component-keyed; wl's rounds
    // are one edge⋈color join each. The iterative loops run at
    // construction — the returned frames must plan clean too.
    Seq("qg_scc", "qg_mst", "qg_wl_refine", "qg_mis").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
      // qg_mst's returned frame is the sanctioned three-way 1-row
      // aggregate combine (broadcast cross of single rows) — BNL there
      // is the correct plan, like every other 1-row summary op
      if (name != "qg_mst")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name planned a nested-loop join:\n$plan")
    }
  }

  test("r9 sessions 4-5: folds, sweeps, and k-row selections stay clean") {
    // rate_limit/ewma are typed per-key folds (one exchange on the
    // entity key); peak_concurrency's cumsum is the ranged scan, never
    // a partition-less window over the corpus-scaled endpoint domain;
    // code_switch is map-only; conformal/rouge/ansari/mad ride ranged
    // scans and (pair, n, gram)-keyed joins. hartley_fmax's k-row
    // extreme selection is a sanctioned bounded cross (k = event
    // types) — cartesian still banned, BNL there is the correct plan.
    Seq("qe_rate_limit", "qe_ewma_alerts", "qe_peak_concurrency",
      "qt_code_switch", "qml_conformal", "qml_rouge",
      "qstat_ansari_bradley", "qstat_mad_outliers",
      "qstat_seasonal_anomaly", "qt_pps_sample", "qt_boilerplate",
      "qstat_hartley_fmax").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
    // peak concurrency must not plan a partition-less window over the
    // endpoint stream (the ranged scan's ≤P-row offsets frame is the
    // only unpartitioned window allowed anywhere): every Window node is
    // either partitioned by user_id (sessionize) or lives on the
    // ranged scan's _pid-keyed frames — a Window mentioning neither is
    // a global sort over the corpus-scaled endpoint stream.
    val pc = graft.SparkEntry.queries("qe_peak_concurrency")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!pc.contains("CartesianProduct"), pc)
    pc.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(l.contains("_pid") || l.contains("user_id"),
        s"qe_peak_concurrency planned an unpartitioned window over a " +
          s"corpus-scaled frame:\n$l")
    }
    // code_switch stays one whole-stage-codegen'd map pass: no join,
    // no exchange before its final sort
    val cs = graft.SparkEntry.queries("qt_code_switch")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!cs.contains("Join"), s"qt_code_switch planned a join:\n$cs")
  }

  test("r12 ops: A/B estimators and tokenizer tiers never cartesian; q-values ride _pid windows") {
    // did/poststrat/group_seq/winsorized: their only BNLs are the
    // sanctioned bounded broadcasts (1-row cutoffs/caps/totals,
    // stratum-domain pop frame, K-row stop frame) — pin no-cartesian;
    // group_seq's cumulative looks are the map-side <=K explode, so no
    // range join can appear either. fertility runs all three tokenizers
    // over the distinct-word domain with word-key joins back.
    Seq("qstat_did", "qstat_poststrat", "qstat_group_seq",
      "qstat_winsorized_delta", "qt_tokenizer_fertility").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian product:\n$plan")
    }
    // bh_fdr's q-value suffix-min must ride the rangedRunningMin
    // two-level scheme: every Window node mentions _pid (local scans +
    // the <=P-row offsets window), never a global running min over the
    // corpus-scaled ranked family
    val bh = graft.SparkEntry.queries("qstat_bh_fdr")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!bh.contains("CartesianProduct"),
      s"qstat_bh_fdr planned a cartesian product:\n$bh")
    bh.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(l.contains("_pid"),
        s"qstat_bh_fdr planned a non-_pid window over the ranked family:\n$l")
    }
  }

  test("qe_rfm ranks via the _pid two-level scheme — no global ntile windows") {
    // r10 verdict item 2: the three quintile scores ride EXACT global
    // ranks from Scans.globalRank (range exchange + broadcast offsets),
    // never an unpartitioned ntile over the corpus-scaled user frame.
    // Every Window node must mention _pid (the per-partition row_number
    // or the ≤P-row offsets frame — the one sanctioned tiny global
    // window); ntile must be gone entirely.
    val plan = graft.SparkEntry.queries("qe_rfm")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ntile"),
      s"qe_rfm regressed to ntile windows:\n$plan")
    plan.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(l.contains("_pid"),
        s"qe_rfm planned a non-_pid window over the user frame:\n$l")
    }
  }

  // ----------------------- pair-tier COUNT pins (r14, verdict task 5)
  // Shuffle bytes bound what a run MOVES; these pin what the pair tiers
  // ENUMERATE — the load-bearing sf10 scaling evidence (candidate and
  // verified counts were what decomposed the r13 quadratic, not wall
  // clock). Deterministic data + deterministic signatures → exact
  // committed constants at sf0.001; a drifting count means a changed
  // signature expression, bucket layout, or dedup rule, each of which
  // must be a deliberate (re-committed) decision, never an accident.
  // Recalibrate after a deliberate change with
  //   SPARK_GRAFT_GATE_CALIBRATE=1 sbt 'testOnly *PlanAuditSpec* -- -z "count pins"'
  test("pair-tier count pins at sf0.001: candidate/verified/budget volumes") {
    import org.apache.spark.sql.functions.{count, explode, lit}
    import graft.functions.GraftFunctions
    val calibrate = sys.env.get("SPARK_GRAFT_GATE_CALIBRATE").contains("1")
    val docs = Tables.documents(spark, sf)
    def sumC2(buckets: org.apache.spark.sql.DataFrame): Long =
      buckets.agg(expr("sum(b * (b - 1) div 2)")).head.getLong(0)
    // simhash: doc-level bucket candidates (what the pair join must
    // enumerate), distinct-sig bucket candidates (what the r14 budget
    // path enumerates after the collapse), verified pairs, budget edges
    val sigs = docs.select(col("doc_id"),
      GraftFunctions.graft_simhash60(expr(
        s"transform(${Nlp.toksExpr}, t -> ${Nlp.h60("t")})")).as("simhash"))
    val layout = DedupOps.simhashChunks(6)
    val chunkArr = layout.zipWithIndex.map { case ((off, w), i) =>
      s"named_struct('ck', $i, 'cv', (shiftright(simhash, $off) & ${(1L << w) - 1}L))"
    }.mkString("array(", ", ", ")")
    def chunkBuckets(fr: org.apache.spark.sql.DataFrame) = fr
      .select(explode(expr(chunkArr)).as("x"))
      .groupBy(col("x.ck"), col("x.cv")).agg(count(lit(1)).as("b"))
    val measured = Seq(
      "simhash_candidates_doc" -> sumC2(chunkBuckets(sigs)),
      "simhash_candidates_distinct_sig" ->
        sumC2(chunkBuckets(sigs.select(col("simhash")).distinct())),
      "simhash_verified_pairs" -> DedupOps.simhashPairs(docs).count(),
      "simhash_budget_edges" ->
        DedupOps.clusterEdgesFromSigs(DedupOps.simhashSigsOf(docs))._1.count(),
      "minhash_band_candidates" -> sumC2(docs.select(
          GraftFunctions.graft_minhash_affine(
            GraftFunctions.graft_shingle_hashes(col("text"), 3), 16).as("sig"))
        .select(explode(expr("transform(sequence(0, 3), b -> struct(b AS band, " +
          "concat_ws(',', transform(slice(sig, b * 4 + 1, 4), " +
          "x -> cast(x as string))) AS bv))")).as("bd"))
        .groupBy(col("bd.band"), col("bd.bv")).agg(count(lit(1)).as("b"))),
      "minhash_verified_pairs" -> DedupOps.minhashLsh(docs).count(),
      "ngram_prefix_candidates" -> sumC2(docs.select(
          GraftFunctions.graft_prefix_explode(
            GraftFunctions.graft_shingle_hashes(col("text"), 3), 0.8).as("ph"))
        .groupBy(col("ph")).agg(count(lit(1)).as("b"))
        .filter(col("b") <= DedupOps.ShingleDfCap)),
      "ngram_verified_pairs" -> DedupOps.ngramJaccard(docs).count())
    // committed at HEAD (r14 calibration, sf0.001 = 500 docs)
    val pinned = Map(
      "simhash_candidates_doc" -> 42046L,
      "simhash_candidates_distinct_sig" -> 41032L,
      "simhash_verified_pairs" -> 149L,
      "simhash_budget_edges" -> 145L,
      "minhash_band_candidates" -> 112L,
      "minhash_verified_pairs" -> 28L,
      "ngram_prefix_candidates" -> 2894L,
      "ngram_verified_pairs" -> 28L)
    if (calibrate)
      println(measured.map { case (k, v) => s"""      "$k" -> ${v}L,""" }
        .mkString("[count-pins]\n", "\n", ""))
    else measured.foreach { case (k, v) =>
      assert(v == pinned(k),
        s"$k drifted: measured $v vs committed ${pinned(k)} — a signature " +
          "expression, bucket layout, or dedup rule changed; if deliberate, " +
          "recalibrate with SPARK_GRAFT_GATE_CALIBRATE=1 and re-commit")
    }
  }

  // ----------------------- shuffle-VOLUME gate (r13, verdict task 5)
  // The shape audits above assert what a plan must not contain; this
  // gate asserts how much a run may MOVE: total shuffle bytes written
  // across every job of a query (localCheckpoint loops included — a
  // plan-tree walk would miss them) must stay within a per-query
  // multiple of the parquet bytes read. Budgets are measured ratios at
  // HEAD with ~2.5x headroom — the point is the regression: an operator
  // that silently starts re-shuffling its corpus (a lost broadcast, an
  // un-pruned column, a window that widens its frame) blows its budget
  // long before it shows up as a bench regression. Listener metrics are
  // async, so totals are polled until stable.
  //
  // Budgets are RATIOS of uncompressed shuffle bytes to (snappy)
  // parquet bytes read at sf0.001, so >1 does not mean "shuffled more
  // than the input": explodes (shingles, tokens) widen rows, iterative
  // queries shuffle per round, and 6k-row inputs amortize nothing.
  // They are per-query constants, not cross-query comparables.
  test("shuffle-volume gate: per-query shuffle bytes within committed budgets") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val shuffleB = new java.util.concurrent.atomic.AtomicLong
    val inputB = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val tm = s.stageInfo.taskMetrics
        if (tm != null) {
          shuffleB.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
          inputB.addAndGet(tm.inputMetrics.bytesRead)
          ()
        }
      }
    }
    def stable(): (Long, Long) = {
      var prev = (-1L, -1L)
      var cur = (shuffleB.get, inputB.get)
      var tries = 0
      while (prev != cur && tries < 50) {
        Thread.sleep(100); prev = cur
        cur = (shuffleB.get, inputB.get); tries += 1
      }
      cur
    }
    // CALIBRATION ENVIRONMENT (r13 ADVICE: ratios are machine-measured
    // constants, not universals): Spark 4.1.2 / Scala 2.13, local[*]
    // on the 32-core round box, sf0.001 parquet (snappy),
    // spark.sql.shuffle.partitions as set by the suite's session,
    // lz4 shuffle compression (uncompressed WRITE bytes are what the
    // listener reports). A Spark upgrade, codec change, or different
    // core count can legitimately shift ratios: re-measure with
    //   SPARK_GRAFT_GATE_CALIBRATE=1 sbt "testOnly *PlanAuditSpec* -- -z shuffle-volume"
    // which prints every measured ratio WITHOUT asserting, then update
    // the constants from that output instead of hand-tuning one by one.
    //
    // measured at HEAD (r13 calibration run, sf0.001): q01 0.27,
    // q09 0.17, mst 0.07, label_prop 0.11, scc 0.07, pagerank 0.09,
    // knn 0.19, hl 0.07, theil_sen 0.09, bh_fdr 0.25, winnow 157.5,
    // minhash_lsh 73.5, cc_stars 0.18, bm25 2.57, peak 0.07, bt 0.21,
    // mondrian 0.01 — budgets ≈ 2.5-3x those. The two large ratios are
    // REAL and by design (chargram/shingle explodes widen 30-word-vocab
    // docs that snappy crushed to ~6 KB), which is exactly why budgets
    // are per-query.
    val budgets: Seq[(String, Double)] = Seq(
      "q01_pricing_summary" -> 1.0, "q09_product_profit" -> 0.5,
      "qg_mst" -> 0.25, "qg_label_prop" -> 0.4, "qg_scc" -> 0.25,
      "qg_pagerank" -> 0.3, "qs_knn_graph" -> 0.6,
      "qstat_hodges_lehmann" -> 0.25, "qstat_theil_sen" -> 0.3,
      "qstat_bh_fdr" -> 0.8, "qd_winnow" -> 400.0,
      "qd_minhash_lsh" -> 200.0, "qd_cc_stars" -> 0.6,
      "qt_bm25" -> 8.0, "qe_peak_concurrency" -> 0.25,
      "qml_bradley_terry" -> 0.7, "qpriv_mondrian" -> 0.1,
      // r14 (verdict task 5): full top-25 bench rows + every memo build.
      // Measured at r14 calibration (sf0.001): neardup_clusters 0.41,
      // simhash_pairs 1.34, trade_graph 0.07, landmark_bfs 0.06,
      // graph_ann_index 0.09, copurchase_pairs 0.08, ann_recall 0.11,
      // mis 0.04, wl 0.10, subtree 0.14, betweenness 0.05, walks 0.07,
      // hits 0.08, matching 0.03, audio_fp 33.4, ppr 0.07,
      // dup_ngram 31.1, bpe 1.28, ktruss 0.25, kcore 0.06, katz 0.07,
      // densest 0.07, rouge 0.14, qd_simhash 22.7 — budgets ~2.5-3x.
      // (The >20x ratios are chargram/shingle/span explodes widening
      // snappy-crushed 30-word-vocab docs — real, by design, per-query.)
      "memo_build:neardup_clusters" -> 1.2,
      "memo_build:simhash_pairs" -> 4.0,
      "memo_build:trade_graph" -> 0.25,
      "memo_build:landmark_bfs" -> 0.2,
      "memo_build:graph_ann_index" -> 0.3,
      "memo_build:copurchase_pairs" -> 0.25,
      "qs_ann_recall" -> 0.35, "qg_mis" -> 0.15, "qg_wl_refine" -> 0.3,
      "qg_subtree_rollup" -> 0.45, "qg_betweenness" -> 0.2,
      "qg_random_walks" -> 0.25, "qg_hits" -> 0.25, "qg_matching" -> 0.12,
      "qm_audio_fingerprint" -> 90.0, "qg_ppr" -> 0.25,
      "qt_dup_ngram_rate" -> 85.0, "qt_bpe_tokenize" -> 4.0,
      "qg_ktruss" -> 0.75, "qg_kcore" -> 0.2, "qg_katz" -> 0.25,
      "qg_densest" -> 0.25, "qml_rouge" -> 0.45, "qd_simhash" -> 60.0)
    // memo_build rows run their warm function instead of a query binding
    val memoRunners: Map[String, (SparkSession, String) => Unit] = Map(
      "memo_build:neardup_clusters" -> (DedupOps.warmNearDupClusters _),
      "memo_build:simhash_pairs" -> (DedupOps.warmSimhashPairs _),
      "memo_build:trade_graph" -> (GraphOps.warmTradeGraph _),
      "memo_build:landmark_bfs" -> (GraphOps.warmLandmarkBfs _),
      "memo_build:graph_ann_index" -> (SimilarityOps.warmGraphAnnIndex _),
      "memo_build:copurchase_pairs" -> (Relational3.warmCopurchasePairs _))
    // recalibration mode: measure + print, no asserts (r13 ADVICE)
    val calibrate = sys.env.get("SPARK_GRAFT_GATE_CALIBRATE").contains("1")
    spark.sparkContext.addSparkListener(l)
    try {
      val measured = budgets.map { case (name, k) =>
        Memo.clear() // every query pays its own builds — attribution
        stable()     // drain any stragglers from the previous query
        shuffleB.set(0L); inputB.set(0L)
        memoRunners.get(name) match {
          case Some(run) => run(spark, sf)
          case None => graft.SparkEntry.queries(name)(spark, sf)
            .write.format("noop").mode("overwrite").save()
        }
        val (s, i) = stable()
        assert(i > 0L, s"$name read no parquet input — metric wiring broke?")
        val ratio = s.toDouble / i
        if (!calibrate) assert(ratio <= k,
          f"$name shuffled $s bytes = $ratio%.2fx its $i input bytes " +
            f"(budget ${k}x) — a broadcast lost or a corpus re-shuffle crept in")
        f"$name ratio=$ratio%.2f (budget $k)"
      }
      info(measured.mkString("; "))
      if (calibrate) println("[gate-calibrate] " + measured.mkString("\n[gate-calibrate] "))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
