package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.GraftQuery

/** Graph operators over edge-list DataFrames — the iterative-linear-algebra
  * class (complementing [[DedupOps.nearDupClusters]]' connected
  * components): PageRank with EXACT integer fixed-point arithmetic.
  *
  * Floating-point PageRank is not reproducible on a cluster (per-target
  * contribution sums depend on shuffle order), so ranks are carried as
  * BIGINT fixed-point units (`scale` = 10¹²): contributions use integer
  * division, per-target sums are exact, and the damping update is pure
  * integer arithmetic — bit-identical across engines, partitionings, and
  * retries, and hash-comparable by the gate with no float concerns.
  *
  * Scale shape per iteration: one hash join of the edge list with the
  * rank/degree frames (all keyed by node id — uniform after the
  * symmetrize-or-handle-dangling contract below) + one uniform-key
  * aggregation; rank state is 16 bytes/node. The classic
  * power-iteration-on-MapReduce shape.
  *
  * Contract: every node must have out-degree ≥ 1 (no dangling mass) —
  * symmetrize the edge list (as the binding does) or add self-loops
  * before calling. Zero IN-degree is fine: such nodes hold the base
  * (teleport) mass and keep contributing.
  */
object GraphOps {

  /** `iters` exact fixed-point PageRank rounds (damping 0.85) over a
    * directed edge list. Output: (node, rank_int) where rank ≈
    * rank_int / scale.
    */
  def pageRank(edgesIn: DataFrame, iters: Int = 3,
      srcCol: String = "src", dstCol: String = "dst",
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && scale > 0)
    // Truncate lineage like nearDupClusters: without the checkpoints,
    // iteration k's plan re-derives edges/deg/ranks k times over and the
    // 3-round binding measured 9.4 s at sf0.1; with them, each round costs
    // one join + one aggregation over materialized inputs (~3×  less).
    val edges = edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // ONE scalar to the driver (node count), like the centroid literals —
    // not a driver-side loop over data.
    val n = deg.count()
    require(n > 0, "empty edge list")
    val r0 = scale / n
    val base = (15L * r0) / 100L
    val nodes = deg.select(col("src").as("node")).localCheckpoint()
    var ranks = nodes.withColumn("r", lit(r0))
    for (it <- 1 to iters) {
      // r15: join ranks⋈deg at NODE scale first (one row per node), then
      // attach the per-node contribution to edges in ONE edge-sized join
      // — the old shape ran TWO edge-sized joins per round (edges⋈ranks,
      // then ⋈deg) and divided once per EDGE. Arithmetic unchanged:
      // c = r div d per source node either way.
      val rd = ranks.join(deg, ranks("node") === deg("src"))
        .select(col("node"), expr("r div d").as("c"))
      val contribs = edges
        .join(rd, edges("src") === rd("node"))
        .select(col("dst"), col("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
      // left join back to the FULL node set: a zero-in-degree node gets
      // the base (teleport) mass and keeps contributing — dropping it
      // (an inner shape) would silently delete its rank AND its outgoing
      // mass from iteration 2 on
      val next = nodes
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
      // last round's frame is consumed exactly once, by the caller's
      // action — its materialization job would be pure overhead (r8)
      ranks = if (it < iters) next.localCheckpoint() else next
    }
    ranks.select(col("node"), col("r").as("rank_int"))
  }

  // ==================== driver-checked binding =======================

  // Customer↔supplier trade graph: an edge per distinct (customer,
  // supplier) pair that shares an order, symmetrized so no node dangles.
  // Node ids are parity-disambiguated (customers even, suppliers odd).
  private val Iters = 3
  private val Scale = 1000000000000L

  // Memoized per (session, dir): all seven qg_* bindings start from this
  // frame, and the orders⋈lineitem distinct is the expensive common
  // prefix — materialize it once (Memo) instead of once per binding.
  private[analytics] def tradeEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    Memo.cached(s, s"tradeEdges:$dir") {
      val e0 = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    }

  // Mirrors the Scala iteration shape exactly: LEFT JOIN back to the full
  // node set (zero-in-degree nodes keep their teleport mass), and every
  // round's rank is CAST to BIGINT — DuckDB's SUM(BIGINT) widens to
  // HUGEINT, which the gate's pandas conversion turns into float64 and
  // hash-mismatches against Spark's int64 even on identical values.
  private def itSql(prev: String, out: String) =
    s"""$out AS (SELECT nodes.node,
      CAST(bs + (85 * COALESCE(t.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, SUM($prev.r // deg.d) AS s FROM e
          JOIN $prev ON e.src = $prev.node JOIN deg ON e.src = deg.src
        GROUP BY e.dst) t ON nodes.node = t.node CROSS JOIN b)"""

  private val prSql = s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    nodes AS (SELECT src AS node FROM deg),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    b AS (SELECT (15 * (${Scale} // n)) // 100 AS bs FROM nn),
    r0 AS (SELECT src AS node, CAST(${Scale} // n AS BIGINT) AS r FROM deg, nn),
    ${itSql("r0", "r1")},
    ${itSql("r1", "r2")},
    ${itSql("r2", "r3")}
    SELECT node, r AS rank_int FROM r3 ORDER BY rank_int DESC, node LIMIT 20"""

  private val qPageRank = GraftQuery(
    "qg_pagerank",
    (s, dir) => pageRank(tradeEdges(s, dir), Iters)
      .orderBy(col("rank_int").desc, col("node"))
      .limit(20),
    Some(prSql))

  // ------------------------------------------------------ triangle count
  /** Exact global triangle count + clustering coefficient via the
    * DEGREE-ORDERED wedge join ("compact-forward" / node-iterator++, the
    * standard distributed algorithm — Suri & Vassilvitskii 2011's
    * MapReduce formulation is the public reference):
    *
    *  1. Canonicalize to undirected distinct edges (a < b).
    *  2. Orient every edge from the (degree, id)-SMALLER endpoint to the
    *     larger. This is the scale move: a hub of degree D contributes
    *     out-degree only toward higher-ordered nodes, so per-node wedge
    *     fan-out is bounded by O(√m) on any graph instead of O(D²) — the
    *     skew guard that makes the wedge self-join survive power-law
    *     graphs (the same reason every production triangle counter
    *     degree-orders).
    *  3. Wedge join: oriented out-edges sharing a source, ordered
    *     (dst₁ ≺ dst₂); each triangle is generated EXACTLY once, from its
    *     smallest-ordered vertex.
    *  4. Close: left-semi hash join of wedges against the oriented edge
    *     list ((dst₁ → dst₂) is oriented by construction of ≺).
    *
    * All counts are exact BIGINTs; the clustering coefficient
    * 3·triangles / wedges is one final IEEE division. Output: one row
    * (n_wedges, n_triangles, clustering_coeff), with wedges counted on
    * the undirected graph (Σ d(d−1)/2 — the textbook denominator).
    */
  def triangleCount(edgesIn: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // barrier the canonical edge list and the oriented list: both are
    // referenced by several downstream branches (degrees, wedge self-join
    // LHS/RHS, closing semi-join), and without materialization each branch
    // re-derives the projection from the raw input (same localCheckpoint
    // rationale as pageRank)
    val e = edgesIn
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dd"))
      .localCheckpoint()
    val wedges = oriented.select(col("src"), col("dst").as("x"), col("dd").as("dx"))
      .join(oriented.select(col("src"), col("dst").as("y"), col("dd").as("dy")), "src")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("x").as("src"), col("y").as("dst"))
    val tri = wedges.join(oriented.select(col("src"), col("dst")),
      Seq("src", "dst"), "left_semi")
    val nWedges = deg.agg(sum(expr("d * (d - 1)")).as("w2"))
      .select(expr("w2 div 2").as("n_wedges"))
    nWedges.crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges"))
          .as("clustering_coeff"))
  }

  // Co-supplier graph: an edge between two suppliers iff they supply the
  // same order within the 1995 shipping year — the bipartite trade graph's
  // one-mode projection, which (unlike the bipartite graph itself)
  // actually contains triangles. Per-order pair fan-out is bounded by
  // order size (≤ 7 lineitems in TPC-H); the time window keeps the
  // projection sparse (the full 7-year window saturates the tiny supplier
  // population into a near-complete — and thus uninteresting — graph);
  // projecting a graph with unbounded hot keys needs a per-key cap first
  // (the ShingleDfCap pattern).
  private def coSupplierEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ls = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    ls.select(col("ok"), col("sk").as("src"))
      .join(ls.select(col("ok"), col("sk").as("dst")), "ok")
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst")).distinct()
  }

  private val triSql = """WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
    e0 AS (SELECT DISTINCT a.sk AS a, b.sk AS b
      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
    deg AS (SELECT node, COUNT(*) AS d FROM
      (SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0) GROUP BY node),
    wd AS (SELECT e0.a, e0.b, dda.d AS da, ddb.d AS db
      FROM e0 JOIN deg dda ON e0.a = dda.node JOIN deg ddb ON e0.b = ddb.node),
    o AS (SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS src,
      CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS dst,
      CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dd
      FROM wd),
    w AS (SELECT o1.dst AS src, o2.dst AS dst
      FROM o o1 JOIN o o2 ON o1.src = o2.src
      WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)),
    t AS (SELECT COUNT(*) AS n_triangles FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.src = w.src AND o.dst = w.dst)),
    nw AS (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg)
    SELECT n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
      CASE WHEN n_wedges = 0 THEN 0.0
        ELSE 3.0 * n_triangles / n_wedges END AS clustering_coeff
    FROM nw CROSS JOIN t"""

  private val qTriangles = GraftQuery(
    "qg_triangles",
    (s, dir) => triangleCount(coSupplierEdges(s, dir)),
    Some(triSql))

  // ------------------------------------------- link prediction
  /** Neighborhood-overlap link prediction (Liben-Nowell & Kleinberg
    * 2003): score NON-adjacent node pairs by common-neighbor count and
    * neighborhood Jaccard — "which edge appears next" for recommenders
    * and graph-completion QA. Jaccard in exact basis points
    * (10⁴·|Γu∩Γv| DIV (du+dv−|Γu∩Γv|)); Adamic-Adar's 1/log(d) weights
    * are deliberately NOT offered (transcendental per-degree weights —
    * the cross-engine hazard the nDCG literal table avoids — would here
    * need a literal per distinct degree).
    *
    * Scale shape: candidate pairs come from the wedge join through each
    * common neighbor, whose fan-out is d(x)²/2 — so hubs above
    * `hubCap` are EXCLUDED as pivots (the ShingleDfCap pattern,
    * mirrored in-oracle; a hub's wedge set is quadratic and its
    * predictions are the least informative). One wedge self-join on the
    * pivot key + a (u,v) count agg + an anti-join against the edge list
    * + two degree joins — all uniform keys.
    * Output: top `topK` (u, v, common, du, dv, jaccard_bp) by
    * (common DESC, jaccard_bp DESC, u, v).
    */
  def linkPredict(edgesIn: DataFrame, topK: Int = 20, hubCap: Int = 100,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(topK >= 1 && hubCap >= 2)
    val e = edgesIn
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val adj = e.select(col("a").as("n"), col("b").as("x"))
      .union(e.select(col("b").as("n"), col("a").as("x")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d")).localCheckpoint()
    val pivots = deg.filter(col("d") <= hubCap).select(col("n").as("x"))
    val byPivot = adj.select(col("x"), col("n")).join(pivots, "x")
    val cand = byPivot.select(col("x"), col("n").as("u"))
      .join(byPivot.select(col("x"), col("n").as("v")), "x")
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
      .join(e.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"),
        "left_anti")
    cand
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .withColumn("jaccard_bp",
        expr("10000 * common div (du + dv - common)"))
      .select(col("u"), col("v"), col("common"), col("du"), col("dv"),
        col("jaccard_bp"))
      .orderBy(col("common").desc, col("jaccard_bp").desc, col("u"), col("v"))
      .limit(topK)
  }

  private val LpTopK = 20
  private val LpHubCap = 100

  private val linkPredictSql = s"""WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
    e0 AS (SELECT DISTINCT a.sk AS a, b.sk AS b
      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
    adj AS (SELECT a AS n, b AS x FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT n, COUNT(*) AS d FROM adj GROUP BY n),
    pv AS (SELECT n AS x FROM deg WHERE d <= $LpHubCap),
    bp AS (SELECT adj.x, adj.n FROM adj JOIN pv USING (x)),
    cand AS (SELECT p1.n AS u, p2.n AS v, COUNT(*) AS common
      FROM bp p1 JOIN bp p2 ON p1.x = p2.x AND p1.n < p2.n
      GROUP BY p1.n, p2.n),
    ne AS (SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = c.u AND e0.b = c.v))
    SELECT u, v, CAST(common AS BIGINT) AS common,
      CAST(du.d AS BIGINT) AS du, CAST(dv.d AS BIGINT) AS dv,
      CAST(10000 * common // (du.d + dv.d - common) AS BIGINT) AS jaccard_bp
    FROM ne JOIN deg du ON ne.u = du.n JOIN deg dv ON ne.v = dv.n
    ORDER BY common DESC, jaccard_bp DESC, u, v LIMIT $LpTopK"""

  /** Degree distribution — the first graph-QA readout (hub detection,
    * power-law sanity, skew-guard sizing for every wedge/projection op):
    * one degree agg + one degree-key recount, plus each degree's share
    * of nodes in bp. Output: (degree, n_nodes, share_bp) ascending.
    */
  def degreeDistribution(edgesIn: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edgesIn
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("degree"))
    val tot = deg.agg(count(lit(1)).as("n_total"))
    deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("10000 * n_nodes div n_total"))
      .select(col("degree"), col("n_nodes"), col("share_bp"))
      .orderBy(col("degree"))
  }

  private val qDegreeDist = GraftQuery(
    "qg_degree_dist",
    (s, dir) => degreeDistribution(coSupplierEdges(s, dir)),
    Some("""WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
    e0 AS (SELECT DISTINCT a.sk AS a, b.sk AS b
      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
    deg AS (SELECT n, COUNT(*) AS degree FROM
      (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
    t AS (SELECT COUNT(*) AS n_total FROM deg)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
      CAST(10000 * COUNT(*) // t.n_total AS BIGINT) AS share_bp
    FROM deg CROSS JOIN t GROUP BY degree, t.n_total ORDER BY degree"""))

  private val qLinkPredict = GraftQuery(
    "qg_link_predict",
    (s, dir) => linkPredict(coSupplierEdges(s, dir), LpTopK, LpHubCap),
    Some(linkPredictSql))

  // ------------------------------------------- label propagation (LPA)
  /** Synchronous label-propagation communities (Raghavan et al. 2007):
    * every node starts as its own label; each round it adopts the MOST
    * FREQUENT label among its neighbors, ties broken by the smallest
    * label — a deterministic variant of the usual randomized sweep, so
    * the result is oracle-checkable. Distinct from connected components
    * ([[DedupOps.nearDupClusters]]' min-label fixpoint): LPA splits a
    * connected graph along dense regions instead of collapsing it.
    *
    * Scale shape per round: one edge⋈label hash join (uniform node keys)
    * + one (node, label) count aggregation + a per-node `max(struct)`
    * argmax — a plain hash aggregate with map-side partials, no sort
    * (a `row_number` window would shuffle AND sort every round); label
    * state is 16 bytes/node, lineage truncated per round like
    * [[pageRank]]. The struct trick needs a totally ordered tiebreak:
    * labels are node ids (non-negative), so `max((cnt, -label))` is
    * exactly "most frequent, ties to smallest". Fixed `iters` rounds (LPA's
    * usual stop rule is label stability; a fixed horizon keeps the gate
    * deterministic and is how production LPA bounds oscillation anyway).
    *
    * Input contract: symmetrized edge list (every node appears as a src).
    * Output: (node, label) after `iters` rounds.
    */
  def labelPropagation(edgesIn: DataFrame, iters: Int = 3,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val edges = edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nodes = edges.select(col("src").as("node")).distinct().localCheckpoint()
    var labels = nodes.withColumn("label", col("node"))
    for (it <- 1 to iters) {
      val next = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node2"), col("label"))
        .groupBy(col("node2"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("node2"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node2").as("node"), (-col("m.nl")).as("label"))
      // final round: consumed once by the caller (or re-materialized by
      // the lpaLabels memo) — skip the redundant checkpoint job (r8)
      labels = if (it < iters) next.localCheckpoint() else next
    }
    labels
  }

  private val LpaIters = 3

  private def lpaItSql(prev: String, out: String) =
    s"""v$out AS (SELECT e.dst AS node, l.label, COUNT(*) AS cnt
      FROM e JOIN $prev l ON e.src = l.node GROUP BY e.dst, l.label),
    $out AS (SELECT node, label FROM (SELECT node, label,
      ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rk
      FROM v$out) WHERE rk = 1)"""

  private val lpaSql = s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    l0 AS (SELECT node, node AS label FROM nodes),
    ${lpaItSql("l0", "l1")},
    ${lpaItSql("l1", "l2")},
    ${lpaItSql("l2", "l3")}
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l3 GROUP BY label ORDER BY n_members DESC, community LIMIT 20"""

  // LPA labels shared across qg_label_prop and qg_modularity (the
  // modularity readout scores the SAME partition the LPA binding
  // reports, so the 3-round propagation runs once per suite).
  private def lpaLabels(s: org.apache.spark.sql.SparkSession, dir: String) =
    Memo.cached(s, s"lpaLabels:$dir") {
      labelPropagation(tradeEdges(s, dir), LpaIters)
    }

  private val qLpa = GraftQuery(
    "qg_label_prop",
    (s, dir) => lpaLabels(s, dir)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20),
    Some(lpaSql))

  // ------------------------------------------------------ modularity
  /** Newman modularity Q of the LPA partition over the trade graph —
    * the "was that community structure real" readout (Q ≈ 0: no better
    * than random given the degree sequence; Q ≳ 0.3: strong structure).
    * On the symmetrized edge list (2m directed edges, intra-community
    * directed count e_c, community degree mass d_c):
    *
    *   Q·(2m)² = Σ_c (e_c·2m − d_c²)   →   q_micro = ⌊10⁶·Σ/(2m)²⌋
    *
    * kept exact in DECIMAL(38,0)/HUGEINT, sign split for cross-engine
    * floor. Communities with zero intra edges still contribute −d_c²
    * (LEFT join from the degree-mass side).
    *
    * On THIS graph the readout is a worked diagnostic: synchronous LPA
    * on a bipartite graph oscillates into the two-sided bipartition
    * (every edge inter-community, e_c = 0, d_c = m each), which scores
    * exactly Q = −½ — the minimum for a 2-part split. That is the
    * statistic doing its job: it flags the degenerate labeling that the
    * member-count rollup (qg_label_prop) cannot distinguish from real
    * structure.
    *
    * Scale: two uniform-key hash joins of the edge list against the
    * label frame (the per-round LPA shape) + two community-key aggs;
    * everything after is community-domain-sized. Shares the memoized
    * edges AND labels with the rest of the qg_* family.
    */
  private val qModularity = GraftQuery(
    "qg_modularity",
    (s, dir) => {
      val e = tradeEdges(s, dir)
      val lab = lpaLabels(s, dir)
      val m = e.agg(count(lit(1)).as("m2"))
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val dc = deg.join(lab, deg("src") === lab("node"))
        .groupBy(col("label")).agg(sum(col("d")).as("d_c"))
      val ls = lab.select(col("node").as("sn"), col("label").as("sl"))
      val ld = lab.select(col("node").as("dn"), col("label").as("dl"))
      val ec = e.join(ls, col("src") === col("sn"))
        .join(ld, col("dst") === col("dn"))
        .filter(col("sl") === col("dl"))
        .groupBy(col("sl").as("label")).agg(count(lit(1)).as("e_c"))
      dc.join(ec, Seq("label"), "left")
        .crossJoin(broadcast(m))
        .agg(count(lit(1)).as("n_communities"),
          max(col("m2")).as("m2"),
          sum(expr("""CAST(COALESCE(e_c, 0) AS DECIMAL(38,0)) * m2
            - CAST(d_c AS DECIMAL(38,0)) * d_c""")).as("num"))
        .select(col("n_communities"), col("m2"),
          expr("""CAST(CASE
              WHEN num >= 0 THEN (1000000 * num) div (CAST(m2 AS DECIMAL(38,0)) * m2)
              ELSE -((1000000 * (-num)) div (CAST(m2 AS DECIMAL(38,0)) * m2))
              END AS BIGINT)""").as("q_micro"))
    },
    Some(s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    l0 AS (SELECT node, node AS label FROM nodes),
    ${lpaItSql("l0", "l1")},
    ${lpaItSql("l1", "l2")},
    ${lpaItSql("l2", "l3")},
    m AS (SELECT COUNT(*) AS m2 FROM e),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    dc AS (SELECT l.label, SUM(deg.d) AS d_c
      FROM deg JOIN l3 l ON deg.src = l.node GROUP BY l.label),
    ec AS (SELECT ls.label, COUNT(*) AS e_c
      FROM e JOIN l3 ls ON e.src = ls.node JOIN l3 ld ON e.dst = ld.node
      WHERE ls.label = ld.label GROUP BY ls.label),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
        CAST(MAX(m.m2) AS BIGINT) AS m2,
        SUM(CAST(COALESCE(ec.e_c, 0) AS HUGEINT) * m.m2
          - CAST(dc.d_c AS HUGEINT) * dc.d_c) AS num
      FROM dc LEFT JOIN ec ON dc.label = ec.label CROSS JOIN m)
    SELECT n_communities, m2,
      CAST(CASE WHEN num >= 0
        THEN (1000000 * num) // (CAST(m2 AS HUGEINT) * m2)
        ELSE -((1000000 * (-num)) // (CAST(m2 AS HUGEINT) * m2))
        END AS BIGINT) AS q_micro
    FROM a"""))

  // ------------------------------------------------------------ k-core
  /** k-core peel: repeatedly delete nodes of degree < k until the
    * survivors all have degree ≥ k inside the surviving subgraph — the
    * standard density filter for graph cleanup (drop barely-connected
    * entities before community detection / embedding).
    *
    * Runs a FIXED `rounds` peels rather than testing a fixpoint: extra
    * rounds past convergence are identity (nothing left under k to
    * delete), and a fixed horizon keeps the oracle a finite CTE chain
    * and the job a static plan. Scale shape per round: one uniform-key
    * degree aggregation + two left-semi hash joins of the edge list
    * against the survivor set (both keyed on node id), edge set shrinks
    * monotonically; lineage truncated per round like [[pageRank]].
    *
    * `k` defaults to density-derived 3·m/(5·n) (exact integer arithmetic
    * on the symmetrized edge count m and node count n) so one binding
    * stays meaningful across scale factors — fetched as ONE scalar row,
    * the same sanctioned driver fetch as pageRank's node count.
    *
    * Input contract: symmetrized edge list. Output: (node, core_degree)
    * for every surviving node — its degree within the k-core.
    */
  def kCore(edgesIn: DataFrame, rounds: Int = 3, k: Option[Long] = None,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var edges = edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val kk = k.getOrElse {
      val row = edges.agg(count(lit(1)).as("m"),
        countDistinct(col("src")).as("n")).head()
      (3L * row.getLong(0)) / (5L * row.getLong(1))
    }
    for (r <- 1 to rounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= kk).select(col("src"))
      val next = edges
        .join(keep, "src", "left_semi")
        .join(keep.select(col("src").as("dst")), "dst", "left_semi")
      // last round's survivor set feeds only the degree readout below
      edges = if (r < rounds) next.localCheckpoint() else next
    }
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
      .orderBy(col("node"))
  }

  private val KcoreRounds = 3

  private def kcoreItSql(prev: String, out: String) =
    s"""k$out AS (SELECT src FROM (SELECT src, COUNT(*) AS d FROM $prev
      GROUP BY src) CROSS JOIN kp WHERE d >= kk),
    $out AS (SELECT t.src, t.dst FROM $prev t
      JOIN k$out a ON t.src = a.src JOIN k$out b ON t.dst = b.src)"""

  private val kcoreSql = s"""WITH e0x AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e0 AS (SELECT src, dst FROM e0x UNION ALL SELECT dst, src FROM e0x),
    kp AS (SELECT (3 * COUNT(*)) // (5 * COUNT(DISTINCT src)) AS kk FROM e0),
    ${kcoreItSql("e0", "e1")},
    ${kcoreItSql("e1", "e2")},
    ${kcoreItSql("e2", "e3")}
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e3 GROUP BY src ORDER BY node"""

  private val qKcore = GraftQuery(
    "qg_kcore",
    (s, dir) => kCore(tradeEdges(s, dir), KcoreRounds),
    Some(kcoreSql))

  // ------------------------------------------------------ BFS reachability
  /** Min-hop BFS labels from a seed set: every node reachable within
    * `maxHops` gets its true hop distance (the frontier expansion visits a
    * node first at its minimum distance, so no min-aggregation pass is
    * needed afterwards).
    *
    * The Pregel-style shape: per hop, ONE hash join of the edge list with
    * the current frontier (both keyed on node id) + one left-anti join
    * against the visited set, lineage truncated per hop like [[pageRank]].
    * The frontier is the only growing state and it's keyed uniformly; no
    * driver-side loop over data, no per-hop count (a fixed horizon keeps
    * the plan static — an exhausted frontier makes later hops cheap
    * no-ops). This is the standard distributed BFS: at 1000 executors the
    * per-hop cost is one shuffle of the frontier-matched edges, bounded by
    * the edge partition sizes, never by the accumulated visited set (which
    * only serves the anti-join, also keyed on node).
    *
    * Input contract: directed edge list (symmetrize for undirected
    * semantics). Output: (node, hops) with hops = min #edges from any seed,
    * 0 for the seeds themselves; unreachable nodes are absent.
    */
  def reachability(edgesIn: DataFrame, seeds: DataFrame, maxHops: Int = 3,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node", prepared: Boolean = false): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // prepared = true: edgesIn is already distinct + materialized (the
    // memoized trade graph) — skip the redundant shuffle + checkpoint job
    val edges =
      if (prepared) edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      else edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct().localCheckpoint()
    // Only each hop's FRONTIER is checkpointed: the visited set is a
    // union of already-materialized frontiers, so its lineage stays
    // k-frames shallow for free — re-checkpointing it each hop would
    // rewrite the whole accumulated set per round (O(V) extra IO/hop).
    var visited = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("hops", lit(0L)).localCheckpoint()
    var frontier = visited.select(col("node"))
    for (h <- 1 to maxHops) {
      val nextPlan = edges.join(frontier, edges("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hops", lit(h.toLong))
      // last hop feeds only the returned union — no materialization job
      val next = if (h < maxHops) nextPlan.localCheckpoint() else nextPlan
      visited = visited.unionByName(next)
      frontier = next.select(col("node"))
    }
    visited
  }

  private val ReachHops = 3

  // Oracle: bounded-depth recursive CTE. UNION (not UNION ALL) dedups
  // (node, hops) pairs per level so the recursion can't blow up on the
  // dense trade graph; MIN(hops) per node then equals the BFS label.
  private val reachSql = s"""WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    r AS (
      SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS hops FROM e WHERE src <= 8
      UNION
      SELECT e.dst AS node, r.hops + 1 AS hops
      FROM r JOIN e ON e.src = r.node WHERE r.hops < $ReachHops)
    SELECT node, MIN(hops) AS hops FROM r GROUP BY node ORDER BY hops, node"""

  private val qReach = GraftQuery(
    "qg_reachability",
    (s, dir) => {
      val e = tradeEdges(s, dir)
      reachability(e, e.filter(col("src") <= 8).select(col("src").as("node")),
          ReachHops, prepared = true)
        .orderBy(col("hops"), col("node"))
    },
    Some(reachSql))

  // ------------------------------------------------- subtree rollup
  /** Hierarchical (subtree) aggregation over a FOREST: every node gets
    * the count and value-sum of its whole subtree (descendants + self) —
    * the BOM / org-chart / category-tree rollup.
    *
    * The ancestor closure is built by POINTER DOUBLING (the pointer-
    * jumping trick from [[graft.analytics.DedupOps.nearDupClusters]]):
    * A₀ = parent edges; Aᵣ₊₁ = Aᵣ ∪ (Aᵣ ∘ Aᵣ), so `rounds` rounds cover
    * depth 2^rounds with O(log depth) self-joins instead of O(depth)
    * sequential ones — at 100 TB the depth-proportional chain is the
    * latency killer, doubling is the textbook fix. On a tree the closure
    * has exactly n·depth(avg) rows, so intermediate frames stay linear
    * in the input (no quadratic blowup possible — every node has ONE
    * ancestor per level). Then one join of (descendant, ancestor) pairs
    * with the value table and one uniform-key aggregation on the
    * ancestor.
    *
    * Output: (node, n_desc, subtree_total) — n_desc includes the node
    * itself. Nodes deeper than 2^rounds below an ancestor roll into it
    * only if `rounds` covers the tree depth; size `rounds` ≥
    * ⌈log₂ depth⌉ (require-d cheaply by the caller, who knows the key
    * domain).
    */
  def subtreeRollup(edges: DataFrame, values: DataFrame, rounds: Int = 5,
      childCol: String = "child", parentCol: String = "parent",
      nodeCol: String = "node", valCol: String = "value"): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds must be in [1,10], got $rounds")
    var pairs = edges
      .select(col(childCol).as("d"), col(parentCol).as("a"))
      .distinct().localCheckpoint()
    for (r <- 1 to rounds) {
      val comp = pairs.as("x").join(pairs.as("y"), col("x.a") === col("y.d"))
        .select(col("x.d").as("d"), col("y.a").as("a"))
      val grown = pairs.unionByName(comp).distinct()
      // interior rounds MUST materialize (the self-join squares the plan
      // otherwise); the last round's closure is consumed once, by the
      // rollup below, so its materialization job is skipped (r8)
      pairs = if (r < rounds) grown.localCheckpoint() else grown
    }
    val vals = values.select(col(nodeCol).as("d"), col(valCol).as("v"))
    pairs
      .unionByName(vals.select(col("d"), col("d").as("a")))  // self pairs
      .join(vals, "d")
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("n_desc"), sum(col("v")).as("subtree_total"))
  }

  // Part hierarchy: parent(p) = p div 2 — a binary forest rooted at 1
  // (depth ≤ 15 at sf0.1's 20k parts; rounds = 5 covers depth 32).
  // Values = retail price in exact cents.
  private val qSubtree = GraftQuery(
    "qg_subtree_rollup",
    (s, dir) => {
      val p = Tables.part(s, dir)
        .select(col("p_partkey").as("node"),
          round(col("p_retailprice") * 100).cast("bigint").as("cents"))
      val edges = p.filter(col("node") >= 2)
        .select(col("node").as("child"), expr("node div 2").as("parent"))
      subtreeRollup(edges, p, rounds = 5, valCol = "cents")
        .select(col("node"), col("n_desc"), col("subtree_total"))
        .orderBy(col("node"))
    },
    Some("""WITH RECURSIVE p AS (SELECT p_partkey AS node,
        CAST(round(p_retailprice * 100) AS BIGINT) AS cents FROM part),
      anc AS (
        SELECT node AS d, node AS a FROM p
        UNION
        SELECT d, a // 2 AS a FROM anc WHERE a >= 2)
      SELECT anc.a AS node, CAST(COUNT(*) AS BIGINT) AS n_desc,
        CAST(SUM(p.cents) AS BIGINT) AS subtree_total
      FROM anc JOIN p ON p.node = anc.d
      GROUP BY anc.a ORDER BY node"""))

  // ------------------------------------------------- weighted SSSP
  /** Weighted single-source(-set) shortest paths — frontier Bellman-Ford,
    * the weighted upgrade of [[reachability]]: after round k every node
    * carries the minimum total edge weight over any path of ≤ k edges
    * from the seed set. Only nodes whose label IMPROVED last round are
    * re-relaxed (the frontier), which provably computes the same ≤k-edge
    * labels as textbook full relaxation (a node's last improvement is
    * propagated to its neighbors the following round) while touching
    * only the active part of the graph each round — the delta-stepping
    * family's core trick, and the difference between O(E) and
    * O(E_active) per round at 1000 executors.
    *
    * Per round: ONE edge⋈frontier hash join (both keyed on node id) +
    * one uniform-key min aggregation to pre-combine candidate labels +
    * one left join against the current labels to keep true improvements,
    * lineage cut per round like [[pageRank]]. Distances are exact
    * BIGINTs — no float accumulation, order-independent mins.
    *
    * Input contract: directed weighted edge list (symmetrize for
    * undirected). Output: (node, dist), seeds at 0; nodes unreachable
    * within `rounds` edges are absent.
    */
  def shortestPaths(edgesIn: org.apache.spark.sql.DataFrame,
      seeds: org.apache.spark.sql.DataFrame, rounds: Int = 3,
      srcCol: String = "src", dstCol: String = "dst", wCol: String = "w",
      seedCol: String = "node"): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val edges = edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).as("w")).localCheckpoint()
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = dist
    // The frontier is checkpointed every round: it feeds BOTH the merge
    // and the next round's edges-sized relaxation join, and recomputing
    // it means repeating a full-edge join (measured 4.3 → 7.0 s when
    // tried without — this loop is data-dominated, unlike the
    // DAG-slice-sized betweenness sweep). The LAST round's merge is
    // consumed once, by the caller's action, so only that
    // materialization job is skipped.
    for (r <- 1 to rounds) {
      val cand = edges
        .join(frontier.select(col("node").as("fn"), col("dist").as("fd")),
          col("src") === col("fn"))
        .select(col("dst").as("node"), (col("fd") + col("w")).as("nd"))
        .groupBy(col("node")).agg(min(col("nd")).as("nd"))
      val improved = cand
        .join(dist.select(col("node"), col("dist").as("od")), Seq("node"), "left")
        .filter(col("od").isNull || col("nd") < col("od"))
        .select(col("node"), col("nd").as("dist"))
        .localCheckpoint()
      val merged = dist.unionByName(improved)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      dist = if (r < rounds) merged.localCheckpoint() else merged
      frontier = improved
    }
    dist
  }

  /** Trade graph with exact integer weights: min lineitem quantity ever
    * shipped across each (customer, supplier) pair — one keyed
    * aggregation over the same orders⋈lineitem join as [[tradeEdges]].
    * Memoized (directed form) per (session, dir): qg_sssp, qg_mst and
    * qg_matching all start from this frame — the orders⋈lineitem
    * aggregation is their expensive common prefix, warmed on the
    * memo_build:trade_graph bench line with [[tradeEdges]].
    */
  private[analytics] def weightedTradeE0(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    Memo.cached(s, s"weightedTradeE0:$dir") {
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(min(col("l_quantity")).cast("bigint").as("w"))
    }

  private def weightedTradeEdges(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    val e0 = weightedTradeE0(s, dir)
    e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  private val SsspRounds = 3

  // Oracle: K explicit relaxation rounds as a CTE chain (full relaxation
  // — provably the same ≤k-edge labels the frontier version computes),
  // each one MIN-combined per node so intermediates stay linear in the
  // node set, never in the path count.
  private def ssspRoundSql(prev: String, out: String) =
    s"""$out AS (SELECT node, MIN(dist) AS dist FROM (
      SELECT node, dist FROM $prev
      UNION ALL
      SELECT e.dst AS node, $prev.dist + e.w AS dist
      FROM $prev JOIN e ON e.src = $prev.node) GROUP BY node)"""

  private val ssspSql = s"""WITH e0 AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
      CAST(MIN(l_quantity) AS BIGINT) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
    e AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
    d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM e WHERE src <= 8),
    ${(1 to SsspRounds).map(i => ssspRoundSql(s"d${i - 1}", s"d$i")).mkString(",\n    ")}
    SELECT node, dist FROM d$SsspRounds ORDER BY node"""

  private val qSssp = GraftQuery(
    "qg_sssp",
    (s, dir) => {
      val e = weightedTradeEdges(s, dir)
      shortestPaths(e, e.filter(col("src") <= 8).select(col("src").as("node")),
          SsspRounds)
        .orderBy(col("node"))
    },
    Some(ssspSql))

  // ------------------------------------------- personalized PageRank
  /** Personalized PageRank (random walk with restart): identical exact
    * integer power iteration to [[pageRank]], but ALL teleport mass
    * returns to the `seeds` set instead of spreading uniformly — the
    * rank becomes "probability of being here on a walk that keeps
    * restarting at the seeds", i.e. relevance TO the seeds. This is the
    * standard graph-proximity ranking behind who-to-follow /
    * related-item features (public reference: Gupta et al., "WTF: The
    * Who to Follow Service at Twitter", WWW 2013).
    *
    * Identical per-round scale shape to [[pageRank]] (one edge⋈rank
    * join + one uniform-key agg; the per-node teleport table is built
    * ONCE and checkpointed); identical determinism argument (BIGINT
    * fixed-point, order-independent integer sums). Non-seed nodes start
    * and teleport at 0 — mass enters only through the walk.
    *
    * Output: (node, rank_int), every node with out-degree ≥ 1.
    */
  def personalizedPageRank(edgesIn: org.apache.spark.sql.DataFrame,
      seeds: org.apache.spark.sql.DataFrame, iters: Int = 3,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node",
      scale: Long = 1000000000000L): org.apache.spark.sql.DataFrame = {
    require(iters >= 1 && scale > 0)
    val edges = edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val nodes = deg.select(col("src").as("node"))
    val s = seeds.select(col(seedCol).as("node")).distinct()
    val ns = s.count()
    require(ns > 0, "empty seed set")
    val r0 = scale / ns
    val base = (15L * r0) / 100L
    // per-node teleport/init table, built once: seeds carry r0 and the
    // restart mass, everything else zero
    val bt = nodes.join(s.withColumn("hit", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("hit").isNotNull, lit(r0)).otherwise(lit(0L)).as("r0x"),
        when(col("hit").isNotNull, lit(base)).otherwise(lit(0L)).as("bs"))
      .localCheckpoint()
    var ranks = bt.select(col("node"), col("r0x").as("r"))
    for (it <- 1 to iters) {
      // r15: join ranks⋈deg at NODE scale first (one row per node), then
      // attach the per-node contribution to edges in ONE edge-sized join
      // — the old shape ran TWO edge-sized joins per round (edges⋈ranks,
      // then ⋈deg) and divided once per EDGE. Arithmetic unchanged:
      // c = r div d per source node either way.
      val rd = ranks.join(deg, ranks("node") === deg("src"))
        .select(col("node"), expr("r div d").as("c"))
      val contribs = edges
        .join(rd, edges("src") === rd("node"))
        .select(col("dst"), col("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
      val next = bt
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (col("bs") + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
      // last round consumed once by the caller's action — no checkpoint
      ranks = if (it < iters) next.localCheckpoint() else next
    }
    ranks.select(col("node"), col("r").as("rank_int"))
  }

  private def pprRoundSql(prev: String, out: String) =
    s"""$out AS (SELECT bt.node,
      CAST(bt.bs + (85 * COALESCE(t.s, 0)) // 100 AS BIGINT) AS r
      FROM bt LEFT JOIN (
        SELECT e.dst AS node, SUM($prev.r // deg.d) AS s FROM e
          JOIN $prev ON e.src = $prev.node JOIN deg ON e.src = deg.src
        GROUP BY e.dst) t ON bt.node = t.node)"""

  private val pprSql = s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    nodes AS (SELECT src AS node FROM deg),
    s AS (SELECT node FROM nodes WHERE node <= 8),
    c AS (SELECT $Scale // COUNT(*) AS r0v FROM s),
    bt AS (SELECT nodes.node,
      CASE WHEN s.node IS NOT NULL THEN (SELECT r0v FROM c) ELSE 0 END AS r0x,
      CASE WHEN s.node IS NOT NULL THEN (15 * (SELECT r0v FROM c)) // 100 ELSE 0 END AS bs
      FROM nodes LEFT JOIN s ON nodes.node = s.node),
    d0 AS (SELECT node, CAST(r0x AS BIGINT) AS r FROM bt),
    ${(1 to Iters).map(i => pprRoundSql(s"d${i - 1}", s"d$i")).mkString(",\n    ")}
    SELECT node, r AS rank_int FROM d$Iters
    ORDER BY rank_int DESC, node LIMIT 20"""

  private val qPpr = GraftQuery(
    "qg_ppr",
    (s, dir) => {
      val e = tradeEdges(s, dir)
      personalizedPageRank(e,
          e.filter(col("src") <= 8).select(col("src").as("node")), Iters)
        .orderBy(col("rank_int").desc, col("node"))
        .limit(20)
    },
    Some(pprSql))

  // ------------------------------------------------------------- HITS
  /** HITS hubs & authorities on the DIRECTED customer→supplier trade
    * graph — the natural algorithm for a bipartite graph (where
    * [[qModularity]] shows LPA degenerates): hubs = buyers whose
    * purchases concentrate on authoritative suppliers, authorities =
    * suppliers bought by strong hubs. Exact-integer fixed point in the
    * [[pageRank]] style: each half-round is one hash join + one
    * uniform-key agg, then SUM-normalization back to the ×10¹² grid by
    * integer floor division (Kleinberg's L2 norm needs a sqrt; sum
    * normalization is the standard integer-safe variant and rescales
    * ranks identically for ordering). The Scale·score product runs in
    * DECIMAL(38,0)/HUGEINT (≤ ~10²⁷), result floored back to BIGINT.
    * Per-round lineage truncation as in every iterative op here.
    */
  def hits(edgesDirected: DataFrame, iters: Int = 2,
      srcCol: String = "src", dstCol: String = "dst"): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edgesDirected.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nh = e.select(col("src")).distinct().count()
    var h = e.select(col("src").as("node")).distinct()
      .withColumn("r", lit(Scale / nh))
      .localCheckpoint()
    var a: DataFrame = null
    def normalize(raw: DataFrame, ckpt: Boolean = true): DataFrame = {
      val tot = raw.agg(sum(col("s")).as("t"))
      val out = raw.crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"CAST((CAST($Scale AS DECIMAL(38,0)) * s) div t AS BIGINT)")
            .as("r"))
      if (ckpt) out.localCheckpoint() else out
    }
    for (it <- 1 to iters) {
      a = normalize(e.join(h, e("src") === h("node"))
        .groupBy(e("dst").as("node2")).agg(sum(col("r")).as("s"))
        .select(col("node2").as("node"), col("s")))
      // the final hub frame feeds only the caller's readout (the final
      // authority frame is consumed twice: by this half-round AND the
      // readout, so it stays materialized)
      h = normalize(e.join(a, e("dst") === a("node"))
        .groupBy(e("src").as("node2")).agg(sum(col("r")).as("s"))
        .select(col("node2").as("node"), col("s")), ckpt = it < iters)
    }
    (h, a)
  }

  private val HitsIters = 2

  private def hitsAsql(prevH: String, out: String) =
    s"""${out}r AS (SELECT e.dst AS node, SUM($prevH.r) AS s FROM e
      JOIN $prevH ON e.src = $prevH.node GROUP BY e.dst),
    ${out}t AS (SELECT SUM(s) AS t FROM ${out}r),
    $out AS (SELECT node, CAST((CAST($Scale AS HUGEINT) * s) // t AS BIGINT) AS r
      FROM ${out}r, ${out}t)"""

  private def hitsHsql(prevA: String, out: String) =
    s"""${out}r AS (SELECT e.src AS node, SUM($prevA.r) AS s FROM e
      JOIN $prevA ON e.dst = $prevA.node GROUP BY e.src),
    ${out}t AS (SELECT SUM(s) AS t FROM ${out}r),
    $out AS (SELECT node, CAST((CAST($Scale AS HUGEINT) * s) // t AS BIGINT) AS r
      FROM ${out}r, ${out}t)"""

  private val hitsSql = s"""WITH e AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    hn AS (SELECT COUNT(DISTINCT src) AS nh FROM e),
    h0 AS (SELECT DISTINCT src AS node, CAST($Scale // nh AS BIGINT) AS r
      FROM e, hn),
    ${hitsAsql("h0", "a1")},
    ${hitsHsql("a1", "h1")},
    ${hitsAsql("h1", "a2")},
    ${hitsHsql("a2", "h2")}
    SELECT * FROM (
      (SELECT 'authority' AS role, node, r AS score_int FROM a2
        ORDER BY r DESC, node LIMIT 10)
      UNION ALL
      (SELECT 'hub' AS role, node, r AS score_int FROM h2
        ORDER BY r DESC, node LIMIT 10))
    ORDER BY role, score_int DESC, node"""

  private val qHits = GraftQuery(
    "qg_hits",
    (s, dir) => {
      val directed = tradeEdges(s, dir).filter(col("src") % 2 === 0)
      val (h, a) = hits(directed, HitsIters)
      val top = (df: DataFrame, role: String) =>
        df.orderBy(col("r").desc, col("node")).limit(10)
          .select(lit(role).as("role"), col("node"), col("r").as("score_int"))
      top(a, "authority").unionByName(top(h, "hub"))
        .orderBy(col("role"), col("score_int").desc, col("node"))
    },
    Some(hitsSql))

  // ------------------------------------------------- assortativity
  /** Degree assortativity — Pearson correlation of endpoint degrees over
    * the symmetrized edge list (Newman's r: do hubs link to hubs?).
    * Reported as the SIGNED SQUARED correlation in basis points (the
    * engine-wide sqrt-free convention): with n = |directed edges| and
    * per-edge (dx, dy) endpoint degrees,
    *
    *   t1 = n·Σdxdy − Σdx·Σdy,  d1 = n·Σdx² − (Σdx)²,  d2 = …y²
    *   r2s_bp = sign(t1)·⌊10⁴·t1²/(d1·d2)⌋
    *
    * t1² ≤ (n·Σdxdy)² needs n·d_max² ≲ 10¹⁸ for DECIMAL(38,0)/HUGEINT
    * — holds to ~10⁹ edges at 10³-degree hubs; beyond, sample edges by
    * deterministic hash. On the symmetrized list both edge directions
    * contribute, which IS the undirected definition.
    *
    * Plan: two uniform-key joins of the edge list against the degree
    * frame + one 1-row moment agg — no window, no pairs beyond the
    * edges themselves.
    */
  private val qAssortativity = GraftQuery(
    "qg_assortativity",
    (s, dir) => {
      val e = tradeEdges(s, dir)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val pairs = e
        .join(deg.select(col("src"), col("d").as("dx")), "src")
        .join(deg.select(col("src").as("dst"), col("d").as("dy")), "dst")
      pairs.agg(count(lit(1)).as("n"),
          sum(dec(col("dx")) * col("dy")).as("sxy"),
          sum(dec(col("dx"))).as("sx"), sum(dec(col("dy"))).as("sy"),
          sum(dec(col("dx")) * col("dx")).as("sxx"),
          sum(dec(col("dy")) * col("dy")).as("syy"))
        .select(col("n"),
          (dec(col("n")) * col("sxy") - col("sx") * col("sy")).as("t1"),
          (dec(col("n")) * col("sxx") - col("sx") * col("sx")).as("d1"),
          (dec(col("n")) * col("syy") - col("sy") * col("sy")).as("d2"))
        .select(col("n").as("n_edges"),
          // remainder split (the qLinReg r2_bp device): 10⁴·t1² overflows
          // where t1² alone does not
          expr("""CAST(CASE WHEN d1 = 0 OR d2 = 0 THEN NULL
              WHEN t1 >= 0 THEN
                (10000 * CAST((t1 * t1) div d1 AS DECIMAL(38,0))
                 + (10000 * ((t1 * t1) % d1)) div d1) div d2
              ELSE -((10000 * CAST((t1 * t1) div d1 AS DECIMAL(38,0))
                 + (10000 * ((t1 * t1) % d1)) div d1) div d2)
              END AS BIGINT)""")
            .as("r2s_bp"))
    },
    Some("""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    p AS (SELECT dx.d AS dx, dy.d AS dy
      FROM e JOIN deg dx ON e.src = dx.src JOIN deg dy ON e.dst = dy.src),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
        SUM(CAST(dx AS HUGEINT)) AS sx, SUM(CAST(dy AS HUGEINT)) AS sy,
        SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
        SUM(CAST(dy AS HUGEINT) * dy) AS syy
      FROM p),
    t AS (SELECT n, CAST(n AS HUGEINT) * sxy - sx * sy AS t1,
        CAST(n AS HUGEINT) * sxx - sx * sx AS d1,
        CAST(n AS HUGEINT) * syy - sy * sy AS d2
      FROM m)
    SELECT n AS n_edges,
      CAST(CASE WHEN d1 = 0 OR d2 = 0 THEN NULL
        WHEN t1 >= 0 THEN
          (10000 * ((t1 * t1) // d1) + (10000 * ((t1 * t1) % d1)) // d1) // d2
        ELSE -((10000 * ((t1 * t1) // d1) + (10000 * ((t1 * t1) % d1)) // d1) // d2)
        END AS BIGINT) AS r2s_bp
    FROM t"""))

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")

  // ------------------------------------------------- random walks
  /** Deterministic random-walk corpus from seed nodes — the walk
    * generator behind DeepWalk/node2vec-style graph embeddings, made
    * reproducible: at step t from node u, the walker takes the
    * h60(seed:u:t) mod deg(u)-th neighbor in (src, dst-rank) order.
    * Hash-indexed choice ⇒ both engines and every partitioning emit
    * the IDENTICAL walk corpus (the [[StatTests.bootstrapMeanCi]]
    * derandomization discipline applied to graph sampling).
    *
    * Plan: neighbor ranking is one row_number window over the edge
    * list (per-src partitions, uniform); each step is ONE hash join of
    * the (seeds-sized) frontier against the ranked edges on
    * (node, rank) — T joins for T steps, frontier never grows.
    */
  def randomWalks(edges: DataFrame, seeds: DataFrame, steps: Int = 4,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node", prepared: Boolean = false): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    import org.apache.spark.sql.expressions.Window
    val base = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val ranked = (if (prepared) base else base.distinct())
      .withColumn("r", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst"))))
      .withColumn("d", count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint()
    var cur = seeds.select(col(seedCol).as("seed"))
      .distinct().withColumn("node", col("seed"))
    var out = cur.withColumn("step", lit(0))
    for (t <- 1 to steps) {
      val pick = expr(
        s"${Nlp.h60(s"concat(seed, ':', node, ':', $t)")} % d + 1")
      cur = cur
        .join(ranked, cur("node") === ranked("src"))
        .filter(col("r") === pick)
        .select(col("seed"), col("dst").as("node"))
      out = out.unionByName(cur.withColumn("step", lit(t)))
    }
    out.select(col("seed"), col("step").cast("long").as("step"), col("node"))
      .orderBy(col("seed"), col("step"))
  }

  private val WalkSteps = 4

  private def walkStepSql(prev: String, t: Int) =
    s"""w$t AS (SELECT p.seed, e.dst AS node FROM $prev p
      JOIN re e ON p.node = e.src
      AND e.r = ${Nlp.h60Sql(s"p.seed || ':' || p.node || ':' || $t")} % e.d + 1)"""

  private val walkSql = s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    ed AS (SELECT DISTINCT src, dst FROM e),
    re AS (SELECT src, dst,
        ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS r,
        COUNT(*) OVER (PARTITION BY src) AS d
      FROM ed),
    w0 AS (SELECT DISTINCT src AS seed, src AS node FROM ed WHERE src <= 200 AND src % 2 = 0),
    ${(1 to WalkSteps).map(t => walkStepSql(s"w${t - 1}", t)).mkString(",\n    ")}
    SELECT seed, step, node FROM (
      ${(0 to WalkSteps).map(t => s"SELECT seed, CAST($t AS BIGINT) AS step, node FROM w$t").mkString("\n      UNION ALL ")})
    ORDER BY seed, step"""

  private val qWalks = GraftQuery(
    "qg_random_walks",
    (s, dir) => {
      val e = tradeEdges(s, dir)
      randomWalks(e,
        e.filter(col("src") <= 200 && col("src") % 2 === 0)
          .select(col("src").as("node")),
        WalkSteps, prepared = true)
    },
    Some(walkSql))

  // ------------------------------------- harmonic centrality (sampled)
  /** Per-(landmark, node) BFS hop distances AND shortest-path counts —
    * the shared substrate of qg_harmonic, the eccentricity readout,
    * and qg_betweenness's forward phase (one traversal
    * serves all three; the binding memoizes it). Same loop as
    * [[reachability]] with a composite (root, node) key; σ(root, v) =
    * Σ σ of the level-(h−1) predecessors (Brandes' forward counting).
    * Output: (root, node, d, sigma), d = 0 / σ = 1 for the landmark.
    */
  def landmarkDistances(edgesIn: DataFrame, seeds: DataFrame,
      maxHops: Int = 4, srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node", prepared: Boolean = false): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // `prepared = true`: caller vouches edgesIn is already distinct AND
    // materialized (the memoized trade graph) — skipping the re-distinct
    // saves a full edge shuffle + checkpoint job per build (r8: the
    // per-round JOB constant, not data volume, dominates these loops at
    // bench scale, so every shaved materialization is wall-clock).
    val edges =
      if (prepared) edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      else edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct().localCheckpoint()
    // seed frame: |S| rows — not worth a checkpoint job of its own
    var lev = seeds.select(col(seedCol).as("root")).distinct()
      .select(col("root"), col("root").as("node"), lit(0L).as("d"),
        lit(1L).as("sigma"))
    var visited = lev.select(col("root"), col("node"))
    var out = lev
    for (h <- 1 to maxHops) {
      val nextPlan = edges.join(lev, edges("src") === lev("node"))
        .select(col("root"), col("dst").as("node"), col("sigma"))
        .groupBy(col("root"), col("node")).agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("root", "node"), "left_anti")
        .withColumn("d", lit(h.toLong))
        .select(col("root"), col("node"), col("d"), col("sigma"))
      // the last level is consumed exactly once (the returned union) —
      // materializing it would be a pure extra job; interior levels are
      // consumed 3x (next frontier, visited, out) and stay checkpointed
      val next = if (h < maxHops) nextPlan.localCheckpoint() else nextPlan
      visited = visited.unionByName(next.select(col("root"), col("node")))
      out = out.unionByName(next)
      lev = next
    }
    out
  }

  private val HarmHops = 4
  private val HarmTopK = 100

  private val harmonicSql = s"""WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    r AS (
      SELECT DISTINCT src AS root, src AS node, CAST(0 AS BIGINT) AS hops
      FROM e WHERE src <= 8
      UNION
      SELECT r.root, e.dst AS node, r.hops + 1 AS hops
      FROM r JOIN e ON e.src = r.node WHERE r.hops < $HarmHops)
    SELECT node,
      CAST(SUM(CASE WHEN d > 0 THEN 1000000 // d ELSE 0 END) AS BIGINT) AS h_micro,
      CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reached
    FROM (SELECT root, node, MIN(hops) AS d FROM r GROUP BY root, node)
    GROUP BY node ORDER BY h_micro DESC, node LIMIT $HarmTopK"""

  // The landmark BFS label frame is shared by qg_harmonic and qg_ecc —
  // materialize once per (session, sf).
  private def landmarkBfs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Memo.cached(s, s"landmarkBfs:$dir") {
      val e = tradeEdges(s, dir) // memoized: already distinct + materialized
      landmarkDistances(e,
        e.filter(col("src") <= 8).select(col("src").as("node")), HarmHops,
        prepared = true)
    }

  /** Bench warm-up hooks: force the shared graph memos onto their own
    * timed lines (trade graph feeds every qg_* binding; the landmark BFS
    * feeds harmonic/ecc/betweenness) instead of charging the build to
    * whichever binding runs first.
    */
  def warmTradeGraph(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    tradeEdges(s, dir).count()
    weightedTradeE0(s, dir).count(): Unit
  }
  def warmLandmarkBfs(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = landmarkBfs(s, dir).count(): Unit

  /** Harmonic centrality from a SAMPLED source set (Boldi & Vigna 2014,
    * the centrality that stays well-defined on disconnected graphs):
    * H(v) = Σ_s 1/d(s, v) over sources s ≠ v that reach v, here in exact
    * micro-floors ⌊10⁶/d⌋. Exact closeness/harmonic needs all-pairs BFS;
    * the standard scale treatment fixes a deterministic landmark sample
    * S and sums over it — error bounds are Hoeffding-style in |S|, and
    * the work is |S| simultaneous BFS frontiers, NOT all-pairs.
    *
    * The per-source labels ride the [[reachability]] loop with a
    * composite (root, node) key: per hop one frontier⋈edges hash join +
    * distinct + anti-join against visited, frontier checkpointed, visited
    * a union of materialized frontiers. Frontier size is bounded by
    * |S|·|nodes| in the worst case and in practice by |S|·(hop
    * neighborhood); everything is equi-keyed on node ids.
    *
    * Output: (node, h_micro, n_reached) for the HarmTopK most central
    * nodes, h desc / node asc.
    */
  private val qHarmonic = GraftQuery(
    "qg_harmonic",
    (s, dir) => landmarkBfs(s, dir)
      .groupBy(col("node"))
      .agg(sum(when(col("d") > 0, expr("1000000L div d")).otherwise(0L))
          .as("h_micro"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_reached"))
      .orderBy(col("h_micro").desc, col("node"))
      .limit(HarmTopK),
    Some(harmonicSql))

  /** Per-landmark eccentricity (within the hop budget) + the diameter
    * LOWER bound max ecc — the "how wide is this graph" readout landmark
    * BFS gives for free (Magnien et al.'s bound technique: any observed
    * distance lower-bounds the diameter). Reads the memoized
    * [[landmarkBfs]] frame — zero new graph traversals on a warm suite.
    * Bounded-hop caveat: ecc is itself truncated at maxHops, so the
    * bound is conservative on both axes; the trade graph's observed
    * diameter (≤ 4 hops at every test SF) sits inside the budget.
    */
  private val qEcc = GraftQuery(
    "qg_ecc",
    (s, dir) => {
      val ecc = landmarkBfs(s, dir)
        .groupBy(col("root"))
        .agg(max(col("d")).as("ecc_lb"), count(lit(1)).as("n_reached"))
      ecc.crossJoin(broadcast(ecc.agg(max(col("ecc_lb")).as("diameter_lb"))))
        .select(col("root"), col("ecc_lb"), col("n_reached"),
          col("diameter_lb"))
        .orderBy(col("root"))
    },
    Some(s"""WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    r AS (
      SELECT DISTINCT src AS root, src AS node, CAST(0 AS BIGINT) AS hops
      FROM e WHERE src <= 8
      UNION
      SELECT r.root, e.dst AS node, r.hops + 1 AS hops
      FROM r JOIN e ON e.src = r.node WHERE r.hops < $HarmHops),
    d AS (SELECT root, node, MIN(hops) AS d FROM r GROUP BY root, node),
    ecc AS (SELECT root, MAX(d) AS ecc_lb, COUNT(*) AS n_reached
      FROM d GROUP BY root)
    SELECT root, CAST(ecc_lb AS BIGINT) AS ecc_lb,
      CAST(n_reached AS BIGINT) AS n_reached,
      CAST((SELECT MAX(ecc_lb) FROM ecc) AS BIGINT) AS diameter_lb
    FROM ecc ORDER BY root"""))

  // --------------------------- bounded betweenness (sampled Brandes)
  /** The per-root shortest-path DAG (root, v → w with d_w = d_v + 1,
    * both σ's attached) — the frame the backward sweep iterates; built
    * once and checkpointed (the binding memoizes it per session). Each
    * backward round joins only its level's slice of this frame against
    * the level-below δ, so per-round cost is DAG-slice-sized rather than
    * edges-sized (the per-level edge joins took 8.4 s before the DAG).
    */
  def pathDag(bfs: DataFrame, edges: DataFrame): DataFrame = bfs
    .select(col("root"), col("node").as("v"), col("d").as("dv"),
      col("sigma").as("sv"))
    .join(edges, edges("src") === col("v"))
    .select(col("root"), col("v"), col("dv"), col("sv"), col("dst").as("w"))
    .join(bfs.select(col("root"), col("node").as("w"), col("d").as("dw"),
      col("sigma").as("sw")), Seq("root", "w"))
    .filter(col("dw") === col("dv") + 1)
    .select(col("root"), col("v"), col("dv"), col("sv"), col("w"), col("sw"))
    .localCheckpoint()

  /** Bounded-distance betweenness centrality from a landmark sample —
    * Brandes' dependency accumulation (2001) restricted to shortest
    * paths from |S| deterministic sources within `maxHops` (Borgatti's
    * bounded-distance variant; sampling sources is the standard
    * estimator, Brandes & Pich 2007). Two phases, both level-synchronous
    * joins:
    *
    *  - FORWARD: per level h, path counts σ(root, v) = Σ σ of the
    *    level-(h−1) predecessors — one frontier⋈edges hash join + one
    *    (root, node) agg + anti-join against visited, per level.
    *  - BACKWARD: δ(v) = Σ_{w: succ} ⌊σ_v·(10⁶+δ_w)/σ_w⌋ walked from the
    *    deepest level up — per level one join of the level frame into
    *    edges into the (already-computed) level-below δ frame. The
    *    product rides DECIMAL(38,0); every term ≤ 10⁶+δ_w because
    *    σ_v ≤ σ_w along a DAG edge, so the emitted micro-units stay in
    *    BIGINT.
    *
    * Exact integer floors both engines share; the oracle unrolls the
    * same levels as fixed CTEs. Betweenness(v) = Σ over roots and levels
    * ≥ 1 of δ (a root's own level-0 row is excluded, per the
    * definition's s ≠ v). Work per level is frontier-sized; state is
    * O(|S|·reached), all equi-keyed — the MapReduce-standard exact
    * algorithm, never an all-pairs or per-path materialization.
    *
    * The forward phase is [[landmarkDistances]], memoized per sf and
    * shared with qg_harmonic/qg_ecc; [[pathDag]] turns it into the
    * shortest-path DAG, and this runs the backward sweep over it.
    * Output: (node, bc_micro) for every reached node; the
    * binding keeps the BcTopK most-between, bc desc / node asc.
    */
  def betweennessFromDag(dag: DataFrame, bfs: DataFrame,
      maxHops: Int): DataFrame = {
    // δ recurrence over the DAG ONLY (r8 rework): both σ's ride each DAG
    // edge (sv, sw), so the original per-level join back into the BFS
    // level frame — whose sole job was carrying zero-δ nodes forward —
    // is unnecessary: a MISSING δ row is exactly δ = 0 (coalesce at the
    // join), and the zero universe is restored once at the end from the
    // already-materialized BFS frame, so the output (every reached node,
    // bc possibly 0) is bit-identical to the two-join formulation. Cuts
    // the sweep from 2 joins + 1 agg per level to 1 join + 1 agg, and
    // the δ frames shrink to nodes with DAG out-edges. The deepest
    // level's δ needs no join at all (all successors have δ = 0).
    val zeros = bfs.filter(col("d") >= 1)
      .select(col("root"), col("node"), lit(0L).as("delta"))
    if (maxHops == 1)
      return zeros.groupBy(col("node")).agg(sum(col("delta")).as("bc_micro"))
    var delta = dag.filter(col("dv") === maxHops - 1)
      .groupBy(col("root"), col("v"))
      .agg(sum(expr(
        "(CAST(sv AS DECIMAL(38,0)) * 1000000) div sw")).as("delta"))
      .select(col("root"), col("v").as("node"), col("delta"))
    var acc = Vector(delta)
    // linear recurrence (δ_h reads only δ_{h+1}) over checkpointed
    // dag/bfs: a checkpoint every other level bounds lineage for large
    // maxHops without paying a materialization job per level
    var sinceCkpt = 0
    for (h <- (maxHops - 2) to 1 by -1) {
      delta = dag.filter(col("dv") === h)
        .join(delta.select(col("root"), col("node").as("w"),
          col("delta").as("dw")), Seq("root", "w"), "left")
        .groupBy(col("root"), col("v"))
        .agg(sum(expr(
          "(CAST(sv AS DECIMAL(38,0)) * (1000000 + coalesce(dw, 0))) div sw"))
          .as("delta"))
        .select(col("root"), col("v").as("node"), col("delta"))
      sinceCkpt += 1
      if (sinceCkpt >= 2 && h > 1) {
        delta = delta.localCheckpoint()
        sinceCkpt = 0
      }
      acc :+= delta
    }
    (acc :+ zeros).reduce(_ unionByName _)
      .groupBy(col("node")).agg(sum(col("delta")).as("bc_micro"))
  }

  private val BcTopK = 100

  private def bcLevelCtes(maxHops: Int): String = {
    val fwd = (1 to maxHops).map { h =>
      val prior = (0 until h).map(i => s"SELECT root, node FROM l$i")
        .mkString(" UNION ALL ")
      s"""c$h AS (SELECT l.root, e.dst AS node, SUM(l.sigma) AS sigma
        FROM l${h - 1} l JOIN e ON e.src = l.node GROUP BY 1, 2),
      l$h AS (SELECT c$h.root, c$h.node, c$h.sigma FROM c$h
        WHERE NOT EXISTS (SELECT 1 FROM ($prior) p
          WHERE p.root = c$h.root AND p.node = c$h.node))"""
    }.mkString(",\n    ")
    val bwd = ((maxHops - 1) to 1 by -1).map { h =>
      s"""t$h AS (SELECT v.root, v.node,
        SUM((CAST(v.sigma AS HUGEINT) * (1000000 + w.delta)) // w.sigma) AS s
        FROM l$h v JOIN e ON e.src = v.node
        JOIN d${h + 1} w ON w.root = v.root AND w.node = e.dst
        GROUP BY 1, 2),
      d$h AS (SELECT l.root, l.node, l.sigma, COALESCE(t$h.s, 0) AS delta
        FROM l$h l LEFT JOIN t$h
          ON t$h.root = l.root AND t$h.node = l.node)"""
    }.mkString(",\n    ")
    s"""$fwd,
    d$maxHops AS (SELECT root, node, sigma, CAST(0 AS HUGEINT) AS delta FROM l$maxHops),
    $bwd"""
  }

  private val betweennessSql = {
    val h = HarmHops
    val allD = (1 to h).map(i => s"SELECT node, delta FROM d$i")
      .mkString(" UNION ALL ")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    l0 AS (SELECT DISTINCT src AS root, src AS node, CAST(1 AS HUGEINT) AS sigma
      FROM e WHERE src <= 4),
    ${bcLevelCtes(h)}
    SELECT node, CAST(SUM(delta) AS BIGINT) AS bc_micro
    FROM ($allD) GROUP BY node
    ORDER BY bc_micro DESC, node LIMIT $BcTopK"""
  }

  // Betweenness's dependency sweep materializes the per-root
  // shortest-path DAG (~|S|·m rows) — the expensive phase — so its
  // landmark budget is tighter than harmonic/ecc's: the 5-root
  // SUB-SAMPLE of the same memoized BFS (a filter, zero extra traversal).
  private val BcSeedMax = 4

  private val qBetweenness = GraftQuery(
    "qg_betweenness",
    (s, dir) => {
      val bfs = landmarkBfs(s, dir).filter(col("root") <= BcSeedMax)
      val dag = Memo.cached(s, s"bcDag:$dir", checkpoint = false)(
        pathDag(bfs, tradeEdges(s, dir)))
      betweennessFromDag(dag, bfs, HarmHops)
        .orderBy(col("bc_micro").desc, col("node"))
        .limit(BcTopK)
    },
    Some(betweennessSql))

  // ------------------------------------------- local clustering coefficients
  /** Per-node local clustering coefficient distribution — Watts &
    * Strogatz's cc(v) = 2·t(v)/(d(v)·(d(v)−1)), the node-level metric
    * whose AVERAGE is a different number from [[triangleCount]]'s global
    * transitivity (average weights every node equally; transitivity
    * weights by wedge count, so hubs dominate it). Same degree-oriented
    * wedge scheme as triangleCount (each triangle enumerated exactly
    * once, from its by-(degree, id) smallest corner), except the closing
    * join KEEPS the pivot so the triangle can credit all three corners
    * via one explode — per-node triangle counts without touching the
    * quadratic unoriented wedge space.
    *
    * Output is the constant-sized decile histogram of cc over nodes with
    * degree ≥ 2 (degree-<2 nodes have no wedges — excluded, not zeroed):
    * (bucket, n_nodes, min_cc_bp, max_cc_bp) for bucket = cc_bp div 1000
    * ∈ [0, 10], ordered by bucket; cc in exact basis points
    * (10⁴·2·t div (d·(d−1))), so bucket 10 is exactly-closed
    * neighborhoods only.
    */
  def localClustering(edgesIn: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edgesIn
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dd"))
      .localCheckpoint()
    val wedges = oriented.select(col("src").as("p"), col("dst").as("x"),
        col("dd").as("dx"))
      .join(oriented.select(col("src").as("p"), col("dst").as("y"),
        col("dd").as("dy")), "p")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val tris = wedges
      .join(oriented.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y"))
      .select(explode(array(col("p"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    deg.filter(col("d") >= 2)
      .join(tris, Seq("node"), "left")
      .select(col("node"),
        expr("(10000 * 2 * coalesce(t, 0)) div (d * (d - 1))").as("cc_bp"))
      .groupBy(expr("cc_bp div 1000").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"), min(col("cc_bp")).as("min_cc_bp"),
        max(col("cc_bp")).as("max_cc_bp"))
      .orderBy(col("bucket"))
  }

  private val qLocalClustering = GraftQuery(
    "qg_local_clustering",
    (s, dir) => localClustering(coSupplierEdges(s, dir)),
    Some("""WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
    e0 AS (SELECT DISTINCT a.sk AS a, b.sk AS b
      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
    deg AS (SELECT node, COUNT(*) AS d FROM
      (SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0) GROUP BY node),
    wd AS (SELECT e0.a, e0.b, dda.d AS da, ddb.d AS db
      FROM e0 JOIN deg dda ON e0.a = dda.node JOIN deg ddb ON e0.b = ddb.node),
    o AS (SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS src,
      CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS dst,
      CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dd
      FROM wd),
    w AS (SELECT o1.src AS p, o1.dst AS x, o2.dst AS y
      FROM o o1 JOIN o o2 ON o1.src = o2.src
      WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)),
    tr AS (SELECT w.p, w.x, w.y FROM w JOIN o ON o.src = w.x AND o.dst = w.y),
    tn AS (SELECT node, COUNT(*) AS t FROM
      (SELECT p AS node FROM tr UNION ALL SELECT x FROM tr UNION ALL SELECT y FROM tr)
      GROUP BY node),
    cc AS (SELECT deg.node,
        (10000 * 2 * COALESCE(tn.t, 0)) // (deg.d * (deg.d - 1)) AS cc_bp
      FROM deg LEFT JOIN tn USING (node) WHERE deg.d >= 2)
    SELECT CAST(cc_bp // 1000 AS BIGINT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n_nodes,
      CAST(MIN(cc_bp) AS BIGINT) AS min_cc_bp,
      CAST(MAX(cc_bp) AS BIGINT) AS max_cc_bp
    FROM cc GROUP BY 1 ORDER BY bucket"""))

  // ------------------------------------------- k-truss decomposition
  /** Bounded-round k-truss peel (Cohen 2008) — the triangle-based
    * community core: the k-truss is the maximal subgraph where every
    * edge sits in ≥ k−2 triangles OF THE SUBGRAPH, i.e. the edge-level
    * strengthening of k-core (a k-core edge needs well-connected
    * endpoints; a truss edge needs well-connected NEIGHBORHOODS — the
    * standard cohesive-block detector above plain cores). Computed by
    * synchronous peeling: each round recomputes per-edge triangle
    * support over the SURVIVING edge set (the [[triangleCount]]
    * degree-oriented wedge enumeration, each triangle crediting its
    * three edges through one explode — hub fan-out stays O(√m)) and
    * drops edges with support < k−2. `rounds` bounds the peel — the
    * same bounded-iteration contract as [[labelPropagation]] and the
    * betweenness hop budget: the output is the round-`rounds` peel
    * state (equal to the true k-truss when the cascade has died out by
    * then — OpsApiSpec pins a converged hand case; on a dense binding
    * the peel may still be shrinking, which the final support column
    * makes visible: rows below k−2 mean another round would cut more).
    * One extra support pass prices the FINAL edge set, so reported
    * support is consistent with the output subgraph either way.
    *
    * Output: (a, b, support) for the surviving edges (a < b), ordered.
    */
  def kTruss(edgesIn: DataFrame, k: Int = 5, rounds: Int = 4,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def support(e: DataFrame): DataFrame = {
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val withDeg = e
        .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
        .localCheckpoint()
      val tris = oriented.select(col("src").as("p"), col("dst").as("x"),
          col("dd").as("dx"))
        .join(oriented.select(col("src").as("p"), col("dst").as("y"),
          col("dd").as("dy")), "p")
        .filter(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")))
        .join(oriented.select(col("src").as("x"), col("dst").as("y")),
          Seq("x", "y"))
      tris.select(explode(array(
          struct(least(col("p"), col("x")).as("a"), greatest(col("p"), col("x")).as("b")),
          struct(least(col("p"), col("y")).as("a"), greatest(col("p"), col("y")).as("b")),
          struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b")))).as("e"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(count(lit(1)).as("s"))
    }
    var e = edgesIn
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    for (_ <- 1 to rounds) {
      e = e.join(support(e), Seq("a", "b"), "left")
        .filter(coalesce(col("s"), lit(0L)) >= k - 2)
        .select(col("a"), col("b")).localCheckpoint()
    }
    e.join(support(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("s"), lit(0L)).as("support"))
      .orderBy(col("a"), col("b"))
  }

  private val TrussK = 5
  private val TrussRounds = 4

  /** One support-pass CTE block over edge set `$in`, yielding `sup$i`. */
  private def trussSupSql(i: Int, in: String): String = {
    val first = s"da$i.d < db$i.d OR (da$i.d = db$i.d AND e.a < e.b)"
    s"""deg$i AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM
      (SELECT a AS node FROM $in UNION ALL SELECT b FROM $in) GROUP BY node),
    o$i AS MATERIALIZED (SELECT CASE WHEN $first THEN e.a ELSE e.b END AS src,
        CASE WHEN $first THEN e.b ELSE e.a END AS dst,
        CASE WHEN $first THEN db$i.d ELSE da$i.d END AS dd
      FROM $in e JOIN deg$i da$i ON e.a = da$i.node
        JOIN deg$i db$i ON e.b = db$i.node),
    t$i AS MATERIALIZED (SELECT w.p, w.x, w.y FROM
      (SELECT o1.src AS p, o1.dst AS x, o2.dst AS y
        FROM o$i o1 JOIN o$i o2 ON o1.src = o2.src
        WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)) w
      JOIN o$i ON o$i.src = w.x AND o$i.dst = w.y),
    sup$i AS MATERIALIZED (SELECT a, b, COUNT(*) AS s FROM
      (SELECT LEAST(p, x) AS a, GREATEST(p, x) AS b FROM t$i
       UNION ALL SELECT LEAST(p, y), GREATEST(p, y) FROM t$i
       UNION ALL SELECT LEAST(x, y), GREATEST(x, y) FROM t$i) GROUP BY a, b)"""
  }

  private val trussSql: String = {
    val base = """e0 AS MATERIALIZED (SELECT DISTINCT a.sk AS a, b.sk AS b
      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk)"""
    val roundCtes = (0 until TrussRounds).map { i =>
      s"""${trussSupSql(i, s"e$i")},
      e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e
        LEFT JOIN sup$i s ON s.a = e.a AND s.b = e.b
        WHERE COALESCE(s.s, 0) >= ${TrussK - 2})"""
    }.mkString(",\n    ")
    s"""WITH ls AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
    $base,
    $roundCtes,
    ${trussSupSql(TrussRounds, s"e$TrussRounds")}
    SELECT e.a, e.b, CAST(COALESCE(s.s, 0) AS BIGINT) AS support
    FROM e$TrussRounds e LEFT JOIN sup$TrussRounds s ON s.a = e.a AND s.b = e.b
    ORDER BY e.a, e.b"""
  }

  private val qKTruss = GraftQuery(
    "qg_ktruss",
    (s, dir) => kTruss(coSupplierEdges(s, dir), k = TrussK,
      rounds = TrussRounds),
    Some(trussSql))

  // ------------------------------------------- rich-club coefficient
  /** Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) over a ladder
    * of degree thresholds (Zhou & Mondragón 2004) — do the hubs form a
    * densely wired club beyond what degree alone implies? The
    * hub-interconnection read that [[degreeDistribution]] (how many
    * hubs) and [[qAssortativity]] (one global mixing number) both miss.
    *
    * Plan: degree frame once; each edge joins its endpoints' degrees
    * (two uniform-key hash joins — the triangle-orientation shape);
    * the threshold ladder is a ≤|ks|-row Generate fanned over edges
    * and nodes, collapsing into a k-key aggregate — one pass over
    * edges regardless of how many thresholds. Exact bp integers.
    *
    * Output: (k, n_nodes, n_edges, phi_bp) ascending; NULL φ below two
    * qualifying nodes.
    */
  def richClub(edges: DataFrame, ks: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 0), "thresholds must be >= 0")
    val ksArr = ks.sorted.mkString("array(", ", ", ")")
    val deg = edges.select(col("src").as("n")).unionAll(
        edges.select(col("dst").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val ek = edges
      .join(deg.select(col("n").as("src"), col("d").as("da")), "src")
      .join(deg.select(col("n").as("dst"), col("d").as("db")), "dst")
      .select(explode(expr(ksArr)).as("k"), col("da"), col("db"))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    val nk = deg.select(explode(expr(ksArr)).as("k"), col("d"))
      .filter(col("d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        expr("""CAST((20000 * coalesce(n_edges, 0L))
          div nullif(n_nodes * (n_nodes - 1), 0L) AS BIGINT)""").as("phi_bp"))
      .orderBy(col("k"))
  }

  private val qRichClub = GraftQuery(
    "qg_rich_club",
    (s, dir) => richClub(coSupplierEdges(s, dir)),
    Some("""WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'),
    e0 AS (SELECT DISTINCT a.sk AS src, b.sk AS dst
      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
    deg AS (SELECT n, COUNT(*) AS d FROM
      (SELECT src AS n FROM e0 UNION ALL SELECT dst FROM e0) GROUP BY n),
    ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
    ek AS (SELECT ks.k, COUNT(*) AS n_edges
      FROM e0 JOIN deg a ON e0.src = a.n JOIN deg b ON e0.dst = b.n, ks
      WHERE a.d > ks.k AND b.d > ks.k GROUP BY ks.k),
    nk AS (SELECT ks.k, COUNT(*) AS n_nodes FROM deg, ks
      WHERE deg.d > ks.k GROUP BY ks.k)
    SELECT nk.k, CAST(nk.n_nodes AS BIGINT) AS n_nodes,
      CAST(COALESCE(ek.n_edges, 0) AS BIGINT) AS n_edges,
      CAST((20000 * COALESCE(ek.n_edges, 0))
        // NULLIF(nk.n_nodes * (nk.n_nodes - 1), 0) AS BIGINT) AS phi_bp
    FROM nk LEFT JOIN ek ON nk.k = ek.k ORDER BY nk.k"""))

  // ------------------------------------------------- Katz centrality
  /** Bounded-hop Katz centrality at attenuation β = 1/2 — the WALK-count
    * centrality the family still lacks: where degree reads 1-hop volume
    * and PageRank normalizes mass away from hubs, Katz credits a node
    * for EVERY walk ending at it, geometrically damped by length
    * (Katz 1953): C(v) = Σ_h β^h · walks_h(v). Truncating at `hops`
    * makes the dyadic β EXACT — each h-hop walk contributes 2^(hops−h)
    * integer units, so the whole centrality is one BIGINT per node, no
    * floats, no convergence tolerance (and truncation lifts Katz's
    * β < 1/λ_max restriction).
    *
    * Plan: walks_h comes from h successive (edges ⋈ walks_{h−1})
    * aggregations — the node-frame-sized equi-join round the engine's
    * iterative ops standardize on, per-round localCheckpoint to cut
    * lineage; the final centrality is one union of the `hops` per-hop
    * frames + a node-key sum, and top-k is TakeOrdered (no global
    * sort). Walk counts ride DECIMAL(38,0): on the symmetrized trade
    * graph walks_4 ≤ d_max⁴ — document the ~10⁹-degree headroom, loud
    * null overflow beyond.
    *
    * Output: top `topK` rows (node, katz_units) by units desc, node asc.
    */
  def katzCentrality(edges: DataFrame, hops: Int = 4,
      topK: Int = 20): DataFrame = {
    require(hops >= 1 && hops <= 16, s"hops must be in [1, 16], got $hops")
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    var w = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("w"))
      .localCheckpoint()
    var tiers = Seq(w.select(col("node"),
      (col("w") * lit(1L << (hops - 1))).as("ku")))
    for (h <- 2 to hops) {
      w = e.join(w, e("src") === w("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("w")).as("w"))
        .localCheckpoint()
      tiers :+= w.select(col("node"),
        (col("w") * lit(1L << (hops - h))).as("ku"))
    }
    tiers.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(sum(col("ku")).cast("long").as("katz_units"))
      .orderBy(col("katz_units").desc, col("node"))
      .limit(topK)
  }

  /** Top-20 Katz hubs of the symmetrized trade graph at β = 1/2, 4 hops
    * — walk-count read next to qg_pagerank's normalized-mass read and
    * qg_hits' mutual-reinforcement read of the same graph. The oracle
    * unrolls the four walk frames as fixed CTEs (every node of the
    * symmetrized graph has degree ≥ 1, so inner joins are total).
    */
  private val qKatz = GraftQuery(
    "qg_katz",
    (s, dir) => katzCentrality(tradeEdges(s, dir)),
    Some("""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
        l_suppkey * 2 + 1 AS dst FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    w1 AS (SELECT e.dst AS node, CAST(COUNT(*) AS HUGEINT) AS w
      FROM e GROUP BY 1),
    w2 AS (SELECT e.dst AS node, SUM(w1.w) AS w FROM e
      JOIN w1 ON e.src = w1.node GROUP BY 1),
    w3 AS (SELECT e.dst AS node, SUM(w2.w) AS w FROM e
      JOIN w2 ON e.src = w2.node GROUP BY 1),
    w4 AS (SELECT e.dst AS node, SUM(w3.w) AS w FROM e
      JOIN w3 ON e.src = w3.node GROUP BY 1),
    u AS (SELECT node, 8 * w AS ku FROM w1
      UNION ALL SELECT node, 4 * w FROM w2
      UNION ALL SELECT node, 2 * w FROM w3
      UNION ALL SELECT node, w FROM w4),
    k AS (SELECT node, SUM(ku) AS ku FROM u GROUP BY node)
    SELECT CAST(node AS BIGINT) AS node, CAST(ku AS BIGINT) AS katz_units
    FROM k ORDER BY katz_units DESC, node LIMIT 20"""))

  // -------------------------------- strongly connected components (SCC)
  /** Strongly connected components of a DIRECTED graph by the
    * forward-coloring / backward-confirmation peel (Orzan 2004; Slota,
    * Rathinam & Madduri 2014 — the standard distributed SCC next to
    * sequential Tarjan, which has no parallel form):
    *
    * Outer round: (1) FORWARD color fixpoint col(v) = min id over
    * {ancestors of v} ∪ {v} (min-label pushed along edge direction);
    * each color class c then contains exactly one head, the node c
    * itself (a smaller ancestor of c would have recolored the whole
    * class). (2) BACKWARD reach from each head along reversed edges
    * RESTRICTED to its own color class: a node that reaches its head
    * inside the class is mutually reachable with it, and the set so
    * confirmed is exactly SCC(c) (any member's ancestors outside the
    * SCC would have lowered its color below c). (3) Extract every
    * confirmed SCC — one per nonempty color class, so each round peels
    * MANY SCCs — remove them, repeat on the induced subgraph.
    *
    * The SCC id is provably the minimum member id (a smaller member
    * would be a smaller ancestor of the head), giving a canonical,
    * partition-independent labeling with zero extra work.
    *
    * Scale shape: every step is a node-keyed equi-join + min/exists
    * aggregation over (node, color) frames — state 16 bytes/node, no
    * pair materialization, per-round localCheckpoint. Round counts:
    * inner fixpoints are bounded by the forward/backward DIAMETER of
    * the surviving graph (directed reachability has no pointer-jump
    * shortcut — labels only move along real edges), outer rounds by
    * the peel depth; both throw loudly at their bounds rather than
    * return a partial labeling. The binding's graph is
    * supplier-domain-bounded, so frames stay small at any corpus SF.
    *
    * Output: one row per SCC — (scc = min member id, size), ordered
    * size desc, scc asc. Isolated nodes are singleton SCCs.
    */
  /** Row budget under which a graph loop operator solves the WHOLE
    * problem with one bounded driver pass instead of paying per-round
    * scheduler floors — the same filtering-literature reasoning as
    * [[MstLocalSolveEdgeBudget]] (reduce distributedly until it fits
    * one machine, then finish exactly). 2¹⁸ (node + edge) rows of two
    * longs ≈ 4 MB — a fixed, corpus-independent bound in the same class
    * as Spark's own broadcast threshold. Each operator's distributed
    * path stays the primary (unbounded-regime) implementation and is
    * pinned ≡ the local one by OpsApiSpec with localBudget = 0.
    */
  private val GraphLocalSolveRowBudget: Long = 1L << 18

  /** Bounded-size exact SCC: one iterative Tarjan pass over the
    * collected (nodes, edges), labels = minimum member id — the same
    * canonical labeling the distributed peel produces (Tarjan and the
    * peel compute the same partition; the label rule is shared).
    */
  private def sccLocal(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val ns = nodes.select(col("node")).collect().map(_.getLong(0))
    val inU = ns.toSet
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    edges.select(col("src"), col("dst")).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      // the distributed peel propagates labels only across the node
      // UNIVERSE (joins against the node frame); mirror that here
      if (inU(a) && inU(b))
        adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
    }
    val index = scala.collection.mutable.HashMap.empty[Long, Int]
    val low = scala.collection.mutable.HashMap.empty[Long, Int]
    val onStk = scala.collection.mutable.HashSet.empty[Long]
    val stk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val call = scala.collection.mutable.ArrayBuffer.empty[(Long, Iterator[Long])]
    val sccOf = scala.collection.mutable.HashMap.empty[Long, Long]
    var counter = 0
    def open(v: Long): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stk += v; onStk += v
      call += ((v, adj.getOrElse(v, Nil).iterator))
    }
    ns.foreach { root =>
      if (!index.contains(root)) {
        open(root)
        while (call.nonEmpty) {
          val (v, it) = call.last
          if (it.hasNext) {
            val w = it.next()
            if (!index.contains(w)) open(w)
            else if (onStk(w)) low(v) = math.min(low(v), index(w))
          } else {
            call.remove(call.size - 1)
            if (call.nonEmpty) {
              val p = call.last._1
              low(p) = math.min(low(p), low(v))
            }
            if (low(v) == index(v)) {
              val members = scala.collection.mutable.ArrayBuffer.empty[Long]
              var w = 0L
              do {
                w = stk.remove(stk.size - 1); onStk -= w; members += w
              } while (w != v)
              val id = members.min
              members.foreach(m => sccOf(m) = id)
            }
          }
        }
      }
    }
    spark.createDataFrame(ns.toSeq.map(n => (n, sccOf(n)))).toDF("node", "scc")
  }

  def stronglyConnectedComponents(edgesIn: DataFrame, nodesIn: DataFrame,
      maxOuter: Int = 16, maxInner: Int = 120,
      localBudget: Long = GraphLocalSolveRowBudget): DataFrame = {
    val edges0 = edgesIn.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst")).distinct().localCheckpoint()
    var nodes = Scans.rebase(nodesIn
      .select(col("node").cast("bigint").as("node")).distinct(), 8)
    var edges = edges0
    var assigned: DataFrame = null
    var outer = 0
    val boundedLocal = nodes.count() + edges0.count() <= localBudget
    if (boundedLocal) assigned = sccLocal(nodes, edges0)
    while (!boundedLocal && !nodes.isEmpty) {
      if (outer >= maxOuter) throw new IllegalStateException(
        s"stronglyConnectedComponents: peel did not finish in $maxOuter rounds")
      // (1) forward min-label color fixpoint, pointer-jump accelerated:
      // col(v) is an ANCESTOR-or-self of v, and ancestors(col(v)) ⊆
      // ancestors(v), so the label-of-label shortcut col(v) ←
      // min(col(v), col(col(v))) is sound — rounds drop from
      // O(diameter) to O(log diameter), same fixpoint (min ancestor).
      var colr = Scans.rebase(nodes.withColumn("c", col("node")), 8)
      var conv = false
      var i = 0
      while (!conv) {
        if (i >= maxInner) throw new IllegalStateException(
          s"stronglyConnectedComponents: forward fixpoint exceeded $maxInner rounds")
        val push = edges.join(colr, edges("src") === colr("node"))
          .groupBy(edges("dst").as("pn")).agg(min(col("c")).as("nc"))
        val parent = colr.select(col("node").as("pid"), col("c").as("pl"))
        val upd = Scans.rebase(
          colr.join(push, colr("node") === col("pn"), "left")
            .select(colr("node"), col("c").as("old"),
              least(col("c"), coalesce(col("nc"), col("c"))).as("c1"))
            .join(parent, col("c1") === col("pid"), "left")
            .select(col("node"), col("old"),
              least(col("c1"), coalesce(col("pl"), col("c1"))).as("c")), 8)
        conv = upd.filter(col("c") =!= col("old")).isEmpty
        colr.unpersist(blocking = false)
        colr = upd
        i += 1
      }
      // (2) backward confirmation as a DESCENDANT-min fixpoint within
      // each color class (bw(v) = min node v reaches inside the class;
      // the class head c is the class MINIMUM, so bw(v) = c ⟺ v reaches
      // c ⟺ v ∈ SCC(c)) — same label-of-label shortcut as the forward
      // pass (descendants(bw(v)) ⊆ descendants(v)), O(log diameter).
      val ecb = Scans.rebase(edges
        .join(colr.select(col("node").as("src"), col("c").as("cs")), "src")
        .join(colr.select(col("node").as("dst"), col("c").as("cd")), "dst")
        .filter(col("cs") === col("cd"))
        .select(col("src"), col("dst")), 8)
      var bw = Scans.rebase(colr.select(col("node"), col("c"),
        col("node").as("b")), 8)
      conv = false
      i = 0
      while (!conv) {
        if (i >= maxInner) throw new IllegalStateException(
          s"stronglyConnectedComponents: backward fixpoint exceeded $maxInner rounds")
        val pull = ecb.join(bw, ecb("dst") === bw("node"))
          .groupBy(ecb("src").as("pn")).agg(min(col("b")).as("nb"))
        val parent = bw.select(col("node").as("pid"), col("b").as("pb"))
        val upd = Scans.rebase(
          bw.join(pull, bw("node") === col("pn"), "left")
            .select(bw("node"), bw("c"), col("b").as("old"),
              least(col("b"), coalesce(col("nb"), col("b"))).as("b1"))
            .join(parent, col("b1") === col("pid"), "left")
            .select(col("node"), col("c"), col("old"),
              least(col("b1"), coalesce(col("pb"), col("b1"))).as("b")), 8)
        conv = upd.filter(col("b") =!= col("old")).isEmpty
        bw.unpersist(blocking = false)
        bw = upd
        i += 1
      }
      // (3) extract confirmed SCCs, peel, recurse on the rest
      val found = Scans.rebase(bw.filter(col("b") === col("c"))
        .select(col("node"), col("c").as("scc")), 8)
      assigned =
        if (assigned == null) Scans.rebase(found, 8)
        else Scans.rebaseSwap(assigned.unionByName(found), assigned, 8)
      val prevNodes = nodes
      val prevEdges = edges
      nodes = Scans.rebase(
        nodes.join(found.select(col("node")), Seq("node"), "left_anti"), 8)
      edges = Scans.rebase(edges
        .join(found.select(col("node").as("src")), Seq("src"), "left_anti")
        .join(found.select(col("node").as("dst")), Seq("dst"), "left_anti"), 8)
      Seq(prevNodes, prevEdges, colr, ecb, bw, found).foreach(
        _.unpersist(blocking = false))
      outer += 1
    }
    // Empty node universe: the peel never runs and assigned stays null —
    // return an empty (scc, size) frame, not NPE.
    val res = if (assigned == null)
      nodes.select(col("node"), col("node").as("scc")) else assigned
    res.groupBy(col("scc")).agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("scc"))
  }

  /** Supplier dominance digraph: per order, each supplier's FIRST line
    * position (min l_linenumber); s1 "beats" s2 in an order when s1's
    * first line precedes s2's. Edge s1→s2 iff s1 beats s2 in strictly
    * more than THREE TIMES the orders of the reverse (clear dominance —
    * the 1× threshold makes transactional data one giant SCC; 3× leaves
    * a dominant core plus genuine singletons). Pair generation is
    * keyed on the ORDER id, so fan-out is bounded by per-order line
    * count — never a supplier-pair scan.
    */
  private[analytics] def dominanceEdges(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
    val ol = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sp"))
      .agg(min(col("l_linenumber")).as("ln"))
      .localCheckpoint()
    val w = ol.as("x").join(ol.as("y"),
        col("x.ok") === col("y.ok") && col("x.sp") =!= col("y.sp") &&
          col("x.ln") < col("y.ln"))
      .groupBy(col("x.sp").as("s1"), col("y.sp").as("s2"))
      .agg(count(lit(1)).as("wns"))
    w.as("w1").join(w.as("w2"),
        col("w1.s1") === col("w2.s2") && col("w1.s2") === col("w2.s1"), "left")
      .filter(col("w1.wns") > lit(3L) * coalesce(col("w2.wns"), lit(0L)))
      .select(col("w1.s1").as("src"), col("w1.s2").as("dst"))
  }

  /** Dominance cycles among suppliers: SCCs of the who-ships-first
    * dominance digraph — a nontrivial SCC is a set of suppliers with a
    * cyclic (non-transitive) precedence relation, the directed-graph
    * read that CC/k-core/triangles (all undirected) cannot give. The
    * oracle computes the full transitive closure (recursive CTE),
    * takes mutually-reachable pairs, and labels each node with the min
    * of its mutual set — the definitional SCC, against which the
    * engine's peel must agree exactly.
    */
  private val qScc = GraftQuery(
    "qg_scc",
    (s, dir) => {
      val ol = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sp"))
        .agg(min(col("l_linenumber")).as("ln"))
      stronglyConnectedComponents(
        dominanceEdges(s, dir),
        ol.select(col("sp").as("node")).distinct())
    },
    Some("""WITH RECURSIVE ol AS (SELECT l_orderkey AS ok, l_suppkey AS sp,
        MIN(l_linenumber) AS ln FROM lineitem GROUP BY 1, 2),
      w AS (SELECT x.sp AS s1, y.sp AS s2, COUNT(*) AS wns FROM ol x JOIN ol y
        ON x.ok = y.ok AND x.sp <> y.sp AND x.ln < y.ln GROUP BY 1, 2),
      e AS (SELECT w1.s1 AS src, w1.s2 AS dst FROM w w1 LEFT JOIN w w2
        ON w2.s1 = w1.s2 AND w2.s2 = w1.s1
        WHERE w1.wns > 3 * COALESCE(w2.wns, 0)),
      nodes AS (SELECT DISTINCT sp AS node FROM ol),
      reach (src, dst) AS (SELECT src, dst FROM e
        UNION SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst),
      mutual AS (SELECT a.src AS u, a.dst AS v FROM reach a
        JOIN reach b ON b.src = a.dst AND b.dst = a.src),
      lbl AS (SELECT n.node, LEAST(n.node, COALESCE(MIN(m.u), n.node)) AS scc
        FROM nodes n LEFT JOIN mutual m ON m.v = n.node GROUP BY n.node)
      SELECT CAST(scc AS BIGINT) AS scc, CAST(COUNT(*) AS BIGINT) AS size
      FROM lbl GROUP BY scc ORDER BY size DESC, scc"""))

  // ------------------------------------- minimum spanning forest (MST)
  /** Minimum spanning forest by Borůvka rounds — THE distributed MST
    * (each round every component picks its cheapest outgoing edge, all
    * picks merge at once; components at least halve per round, so
    * rounds ≤ ⌈log₂ n⌉; cf. the MapReduce MST literature, e.g.
    * Karloff–Suri–Vassilvitskii MRC model).
    *
    * Determinism: edge keys are made UNIQUE by the composite
    * DECIMAL(38,0) encoding ekey = w·10¹⁴ + a·10⁷ + b (non-negative
    * node ids < 10⁷, weights in [0, 10²⁴) — loudly required in the
    * shared [[ekeyedEdges]] builder), so the MST is
    * unique and every tie is broken identically on any engine,
    * partitioning, or retry — the distinct-weights precondition of
    * Borůvka's no-cycle argument, by construction.
    *
    * Scale shape per round: two node-keyed joins stamp component ids
    * on the edge list, one pair-keyed min-agg CONTRACTS the multigraph
    * (min edge per component pair — the cycle property retires every
    * other parallel edge), one uniform-key min-agg over the contracted
    * graph picks each component's cheapest cross edge, and the merge
    * relabels components via [[resolvePickForest]] (hook-to-min +
    * pointer doubling over the pick pseudo-forest only — component-
    * domain-sized, shrinking geometrically — never the corpus edge
    * list). Chosen edges accumulate; no pair explosion anywhere.
    *
    * Tail: once the contracted graph fits
    * [[MstLocalSolveEdgeBudget]] rows it is solved EXACTLY with one
    * local Kruskal pass — the filtering/contraction MSF recipe of the
    * MapReduce-MST literature (Lattanzi–Moseley–Suri–Vassilvitskii,
    * SPAA 2011: contract distributed rounds until the remainder fits
    * one machine, finish locally). The budget is corpus-INDEPENDENT
    * (≈3 MB — broadcast-sized), so the collect is constant at any
    * scale, while the ~log₂ n tail rounds it replaces were each a full
    * multi-job scheduler floor on a few-hundred-row frame.
    *
    * Output (1 row): (n_nodes, n_components, mst_edges, total_w,
    * max_w) — the forest identity n_components = n_nodes − mst_edges
    * holds by construction and is test-pinned.
    */
  /** Deduped, bigint-cast, bounds-checked (a, b, w, ekey) edge frame —
    * the ONE construction of the unique composite key
    * ekey = w·10¹⁴ + a·10⁷ + b shared by [[minimumSpanningForest]] and
    * [[maximalMatching]], so the 1e7/1e24 invariants live in a single
    * place. b ≥ a by construction, so max(b) bounds both node ids; the
    * checkpointed frame is safe to consume from iterative loops.
    */
  private def ekeyedEdges(edgesIn: DataFrame, opName: String): DataFrame = {
    val e = edgesIn
      .select(least(col("src").cast("bigint"), col("dst").cast("bigint"))
          .as("a"),
        greatest(col("src").cast("bigint"), col("dst").cast("bigint"))
          .as("b"),
        col("w"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .withColumn("ekey", expr(
        "cast(w as decimal(38,0)) * 100000000000000 + a * 10000000 + b"))
      .localCheckpoint()
    val bd = e.agg(max(col("b")).as("mb"), min(col("a")).as("ma"),
      max(col("w").cast("decimal(38,0)")).as("mw"),
      min(col("w").cast("decimal(38,0)")).as("mnw")).head()
    if (!bd.isNullAt(0)) {
      require(bd.getLong(0) < 10000000L,
        s"$opName: node id ${bd.getLong(0)} >= 1e7 would collide in the " +
          "ekey composite (w*1e14 + a*1e7 + b) — rekey node ids below 1e7")
      require(bd.getLong(1) >= 0L,
        s"$opName: negative node id ${bd.getLong(1)} breaks the ekey " +
          "composite ordering")
      require(bd.getDecimal(2).compareTo(
          new java.math.BigDecimal(java.math.BigInteger.TEN.pow(24))) < 0,
        s"$opName: weight ${bd.getDecimal(2)} >= 1e24 overflows " +
          "DECIMAL(38,0) ekey")
      require(bd.getDecimal(3).signum() >= 0,
        s"$opName: negative weight ${bd.getDecimal(3)} breaks the ekey " +
          "composite ordering")
    }
    e
  }

  /** Resolve the Borůvka PICK pseudo-forest to merged-component labels.
    *
    * Input: (cc, partner) — every component with a cross edge points at
    * the component across its minimum-ekey pick. Under the unique ekey
    * total order the only cycles in this functional graph are MUTUAL
    * PAIRS (two components whose minimum cross edge is the same edge) —
    * a longer cycle would need each pick strictly cheaper than the next
    * all the way around. Hook-to-min breaks each mutual pair at its
    * smaller label (that member roots itself), leaving a forest;
    * pointer DOUBLING (p ← p∘p, ONE self-join per materialization)
    * then reaches every root in ⌈log₂ depth⌉ rounds — a third of the
    * joins per round of the general [[DedupOps.nearDupClusters]]
    * min-label fixpoint this replaced, on frames that are
    * component-domain-sized to begin with. The merged label is the
    * MINIMUM old label in each tree (old labels are node-id minima, so
    * the min over merged labels is the merged component's node-id
    * minimum — the invariant the oracle's min-label closure checks):
    * one tree-root groupBy + map-back join, evaluated lazily inside the
    * caller's relabel.
    *
    * Output: (oc, nc) — old label → merged label, defined for every
    * picker (components without cross edges don't appear; the caller's
    * left join + coalesce keeps their label).
    *
    * `localBudget`: when the pick frame itself fits the bounded local
    * budget (row count is already known to the caller — the frame is
    * checkpointed), the forest is resolved with one driver union-find
    * pass and returned as a broadcast mapping instead of paying the
    * doubling loop's per-round job floors — the same
    * corpus-independent-bound reasoning as [[MstLocalSolveEdgeBudget]].
    * Tests force the distributed path with localBudget = 0 and pin its
    * equivalence to the local one.
    */
  private[analytics] def resolvePickForest(picks: DataFrame,
      nPicks: Long, localBudget: Long): DataFrame = {
    if (nPicks <= localBudget) {
      val spark = picks.sparkSession
      val rows = picks.select(col("cc"), col("partner")).collect()
      val uf = new MinLabelUnionFind
      rows.foreach(row => uf.union(row.getLong(0), row.getLong(1)))
      val merged = rows.iterator.map(_.getLong(0))
        .map(x => (x, uf.find(x))).filter { case (x, nc) => nc != x }.toSeq
      return broadcast(spark.createDataFrame(merged).toDF("oc", "nc"))
    }
    val pp = picks.select(col("cc").as("c2"), col("partner").as("p2"))
    var p = Scans.rebase(
      picks.join(pp, col("partner") === col("c2"))
        .select(col("cc"),
          when(col("p2") === col("cc") && col("partner") > col("cc"),
            col("cc")).otherwise(col("partner")).as("p")), 8)
    var converged = false
    while (!converged) {
      val t = p.select(col("cc").as("x"), col("p").as("px"))
      val np = Scans.rebaseSwap(
        p.join(t, col("p") === col("x"))
          .select(col("cc"), col("p").as("old"), col("px").as("p")), p, 8)
      converged = np.filter(col("p") =!= col("old")).isEmpty
      p = np.select(col("cc"), col("p"))
    }
    val roots = p.groupBy(col("p")).agg(min(col("cc")).as("nc"))
    p.join(roots, "p").select(col("cc").as("oc"), col("nc"))
  }

  /** Contracted-graph row budget below which [[minimumSpanningForest]]
    * finishes with one local Kruskal pass instead of more distributed
    * rounds. 2¹⁶ rows × ~48 B ≈ 3 MB — broadcast-sized and
    * corpus-independent (the contracted graph shrinks geometrically;
    * the corpus never reaches the driver), so the collect is
    * constant-budget at any scale.
    */
  private val MstLocalSolveEdgeBudget: Long = 1L << 16

  def minimumSpanningForest(edgesIn: DataFrame, maxRounds: Int = 24,
      localBudget: Long = MstLocalSolveEdgeBudget): DataFrame = {
    val e = ekeyedEdges(edgesIn, "minimumSpanningForest")
    val spark = e.sparkSession
    val nodes = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node"))).distinct().localCheckpoint()
    var comp = nodes.withColumn("c", col("node"))
    val allPicks = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // the loop iterates on the CONTRACTED graph g (lo < hi component
    // pair, min ekey) — the node-level edge list is read exactly once
    // (g₀ = the deduped ekeyed pairs under identity labels); every later
    // round relabels and re-contracts g itself, which shrinks
    // geometrically, instead of re-stamping the corpus edge list
    var g = e.select(col("a").as("lo"), col("b").as("hi"), col("ekey"))
    var done = false
    var r = 0
    while (!done) {
      if (r >= maxRounds) throw new IllegalStateException(
        s"minimumSpanningForest: did not converge in $maxRounds rounds")
      val m = g.count()
      if (m == 0L) done = true
      else if (m <= localBudget) {
        // local Kruskal tail (see scaladoc): ascending-ekey pass with a
        // path-compressing union-find whose group root is always the
        // group's MINIMUM label — the same merged-label convention as
        // the distributed rounds, so the final relabel is one broadcast
        // join
        val rows = g.sort(col("ekey")).collect()
        val uf = new MinLabelUnionFind
        val chosen = scala.collection.mutable.ArrayBuffer
          .empty[java.math.BigDecimal]
        rows.foreach { row =>
          if (uf.union(row.getLong(0), row.getLong(1))) chosen += row.getDecimal(2)
        }
        val ekeyType = g.schema("ekey").dataType
        allPicks += spark.createDataFrame(
          spark.sparkContext.parallelize(
            chosen.map(org.apache.spark.sql.Row(_)).toSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("ekey", ekeyType))))
        val merged = rows.iterator
          .flatMap(row => Iterator(row.getLong(0), row.getLong(1)))
          .toSet.iterator.map((x: Long) => (x, uf.find(x)))
          .filter { case (x, nc) => nc != x }.toSeq
        val lbl = broadcast(spark.createDataFrame(merged).toDF("oc", "nc"))
        comp = comp.join(lbl, comp("c") === col("oc"), "left")
          .select(col("node"), coalesce(col("nc"), col("c")).as("c"))
        done = true
      } else {
        // distributed round: each component's min cross edge, read off
        // the CONTRACTED graph (m rows, not the corpus edge list), with
        // the partner component riding along in the min-struct
        val picks = Scans.rebase(
          g.select(col("lo").as("cc"), col("ekey"), col("hi").as("oc"))
            .unionByName(
              g.select(col("hi").as("cc"), col("ekey"), col("lo").as("oc")))
            .groupBy(col("cc"))
            .agg(min(struct(col("ekey"), col("oc"))).as("m"))
            .select(col("cc"), col("m.ekey").as("ekey"),
              col("m.oc").as("partner")), 8)
        allPicks += picks.select(col("ekey"))
        val lbl = resolvePickForest(picks, picks.count(), localBudget)
        comp = Scans.rebaseSwap(
          comp.join(lbl, comp("c") === col("oc"), "left")
            .select(col("node"), coalesce(col("nc"), col("c")).as("c")),
          comp, 8)
        // relabel + re-contract the component graph itself (cycle
        // property retires non-minimal parallel edges; merged self-loops
        // are dropped) — the corpus edge list never reappears
        g = Scans.rebaseSwap(
          g.join(lbl.select(col("oc").as("lo"), col("nc").as("nlo")),
              Seq("lo"), "left")
            .join(lbl.select(col("oc").as("hi"), col("nc").as("nhi")),
              Seq("hi"), "left")
            .select(coalesce(col("nlo"), col("lo")).as("clo"),
              coalesce(col("nhi"), col("hi")).as("chi"), col("ekey"))
            .filter(col("clo") =!= col("chi"))
            .groupBy(least(col("clo"), col("chi")).as("lo"),
              greatest(col("clo"), col("chi")).as("hi"))
            .agg(min(col("ekey")).as("ekey")),
          g, 8)
        r += 1
      }
    }
    // the accumulated picks are only read HERE (totals): one dedup union
    // at the end instead of a materialization per round
    val chosen =
      if (allPicks.isEmpty) null
      else allPicks.reduce(_ unionByName _).distinct().join(e, "ekey")
    val nN = nodes.agg(count(lit(1)).as("n_nodes"))
    val nC = comp.agg(countDistinct(col("c")).as("n_components"))
    val ch =
      if (chosen == null)
        nodes.sparkSession.range(1).select(lit(0L).as("mst_edges"),
          lit(0L).as("total_w"), lit(null).cast("bigint").as("max_w"))
      else chosen.agg(count(lit(1)).as("mst_edges"),
        sum(col("w")).cast("bigint").as("total_w"),
        max(col("w")).cast("bigint").as("max_w"))
    nN.crossJoin(broadcast(nC)).crossJoin(broadcast(ch))
  }

  // Oracle: Borůvka unrolled to a fixed round count (idempotent once
  // converged — an exhausted round picks nothing and every later frame
  // is unchanged), each round's component relabeling a from-scratch
  // min-label closure (its own recursive CTE) over the accumulated
  // forest. 24 rounds matches the engine's maxRounds (n ≤ 2²⁴ nodes;
  // sf0.01 needs ~11, sf1's ~165k nodes ~18); the final SELECT asserts
  // the LAST round picked nothing, so an under-provisioned oracle fails
  // loudly as an oracle bug instead of silently diverging from the
  // engine.
  private val MstOracleRounds = 24

  private def mstRoundSql(r: Int): String = {
    val p = r - 1
    s"""pk$r AS MATERIALIZED (SELECT DISTINCT ekey FROM (
      SELECT cc, MIN(ekey) AS ekey FROM (
        SELECT ca.c AS cc, e.ekey FROM e
          JOIN c$p ca ON e.a = ca.node JOIN c$p cb ON e.b = cb.node
          WHERE ca.c <> cb.c
        UNION ALL
        SELECT cb.c AS cc, e.ekey FROM e
          JOIN c$p ca ON e.a = ca.node JOIN c$p cb ON e.b = cb.node
          WHERE ca.c <> cb.c) GROUP BY cc)),
    ch$r AS MATERIALIZED (SELECT DISTINCT a, b, w, ekey FROM (
      SELECT a, b, w, ekey FROM ch$p
      UNION ALL SELECT e.a, e.b, e.w, e.ekey FROM e JOIN pk$r USING (ekey))),
    sy$r AS MATERIALIZED (SELECT a AS u, b AS v FROM ch$r
      UNION ALL SELECT b AS u, a AS v FROM ch$r),
    rc$r (node, lbl) AS (SELECT node, node AS lbl FROM nodes
      UNION SELECT s.v, rc.lbl FROM rc$r rc JOIN sy$r s ON s.u = rc.node),
    c$r AS MATERIALIZED (SELECT node, MIN(lbl) AS c FROM rc$r GROUP BY node)"""
  }

  private def mstSql: String = {
    val rounds = (1 to MstOracleRounds).map(mstRoundSql).mkString(",\n    ")
    val R = MstOracleRounds
    s"""WITH RECURSIVE e0 AS MATERIALIZED (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
        CAST(MIN(l_quantity) AS BIGINT) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
      ed AS MATERIALIZED (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
        MIN(w) AS w FROM e0 GROUP BY 1, 2),
      e AS MATERIALIZED (SELECT a, b, w,
        CAST(w AS HUGEINT) * 100000000000000 + a * 10000000 + b AS ekey
        FROM ed),
      nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)),
      c0 AS MATERIALIZED (SELECT node, node AS c FROM nodes),
      ch0 AS MATERIALIZED (SELECT a, b, w, CAST(0 AS HUGEINT) AS ekey FROM e WHERE FALSE),
      $rounds
      SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
        CAST((SELECT COUNT(DISTINCT c) FROM c$R) AS BIGINT) AS n_components,
        CAST((SELECT CASE WHEN (SELECT COUNT(*) FROM pk$R) = 0
            THEN COUNT(*)
            ELSE CAST('mst-oracle-underprovisioned: raise MstOracleRounds'
              AS BIGINT) END FROM ch$R) AS BIGINT) AS mst_edges,
        CAST((SELECT COALESCE(SUM(w), 0) FROM ch$R) AS BIGINT) AS total_w,
        CAST((SELECT MAX(w) FROM ch$R) AS BIGINT) AS max_w"""
  }

  /** Cheapest trade backbone: minimum spanning forest of the
    * (customer, supplier) trade graph under the min-quantity edge
    * weight — the qg_sssp weighting reused, so the two bindings read
    * the same weighted graph two ways.
    */
  private val qMst = GraftQuery(
    "qg_mst",
    (s, dir) => minimumSpanningForest(weightedTradeE0(s, dir)),
    Some(mstSql))

  // --------------------------- Weisfeiler–Leman color refinement (WL)
  /** 1-WL color refinement (Weisfeiler–Leman 1968; the expressiveness
    * ceiling of message-passing GNNs, cf. Xu et al. ICLR 2019 "How
    * Powerful are Graph Neural Networks?"): color₀(v) = degree;
    * color_{k+1}(v) = h60(color_k(v) | sorted multiset of neighbor
    * colors). The per-round color-class profile is a cheap structural
    * fingerprint of the graph (role equivalence, symmetry detection,
    * graph-isomorphism screening) and tells how fast local structure
    * individualizes — the readout behind GNN expressiveness arguments.
    *
    * Determinism: the multiset is serialized as the NUMERICALLY sorted
    * comma-joined string of neighbor colors (collect order never
    * matters), and h60 is the engine-shared md5-based 60-bit hash —
    * bit-identical in DuckDB. One edge⋈color join + one uniform-key
    * agg per round; color state 8 bytes/node.
    *
    * Output: one row per round 0..rounds — (round, n_colors, largest
    * class size), ordered by round.
    */
  def wlRefinement(edgesIn: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be in [1, 8]: $rounds")
    val edges = edgesIn.select(col("src"), col("dst")).distinct()
      .localCheckpoint()
    var colr = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("bigint").as("c")).localCheckpoint()
    def summary(df: DataFrame, r: Int) =
      df.groupBy(col("c")).agg(count(lit(1)).as("n"))
        .agg(lit(r).as("round"), count(lit(1)).as("n_colors"),
          max(col("n")).as("largest"))
    var out = summary(colr, 0)
    for (r <- 1 to rounds) {
      val nb = edges
        .join(colr.select(col("node").as("dst"), col("c").as("nc")), "dst")
        .groupBy(col("src").as("node"))
        .agg(expr(
          "array_join(transform(sort_array(collect_list(nc)), " +
            "x -> cast(x as string)), ',')").as("ns"))
      colr = colr.join(nb, "node")
        .select(col("node"),
          expr(Nlp.h60("concat(cast(c as string), '|', ns)")).as("c"))
        .localCheckpoint()
      out = out.unionByName(summary(colr, r))
    }
    out.orderBy(col("round"))
  }

  private val WlRounds = 3

  private def wlRoundSql(r: Int): String = {
    val p = r - 1
    s"""a$r AS MATERIALIZED (SELECT e.src AS node,
        string_agg(CAST(p.c AS VARCHAR), ',' ORDER BY p.c) AS ns
      FROM e JOIN c$p p ON e.dst = p.node GROUP BY 1),
    c$r AS MATERIALIZED (SELECT a$r.node,
        ${Nlp.h60Sql(s"CAST(p.c AS VARCHAR) || '|' || a$r.ns")} AS c
      FROM a$r JOIN c$p p ON a$r.node = p.node)"""
  }

  private def wlSql: String = {
    val rounds = (1 to WlRounds).map(wlRoundSql).mkString(",\n    ")
    val sums = (0 to WlRounds).map(r =>
      s"""s$r AS (SELECT $r AS round, CAST(COUNT(*) AS BIGINT) AS n_colors,
        CAST(MAX(n) AS BIGINT) AS largest
      FROM (SELECT COUNT(*) AS n FROM c$r GROUP BY c))""").mkString(",\n    ")
    val un = (0 to WlRounds).map(r => s"SELECT * FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src,
        l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      c0 AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY 1),
      $rounds,
      $sums
      SELECT * FROM ($un) ORDER BY round"""
  }

  /** WL color-class profile of the symmetrized trade graph across 3
    * refinement rounds — how fast node roles individualize.
    */
  private val qWl = GraftQuery(
    "qg_wl_refine",
    (s, dir) => wlRefinement(tradeEdges(s, dir), WlRounds),
    Some(wlSql))

  // ------------------------- maximal independent set (Luby, derandomized)
  /** Maximal independent set by Luby's algorithm with HASH-derandomized
    * priorities (Luby 1986 — THE parallel symmetry-breaking primitive;
    * greedy-by-priority is inherently sequential, Luby breaks ties
    * everywhere at once): per round, a surviving node joins the MIS iff
    * its priority beats every surviving neighbor's; winners and their
    * neighborhoods leave. With random priorities rounds are O(log n)
    * w.h.p.; priorities here are h60('mis:'‖node) id-tiebroken into a
    * unique DECIMAL — zero randomness, the same set on any engine,
    * partitioning, or retry, and the salt makes the draw independent of
    * every other hash-derandomized op. Progress is guaranteed (the
    * global minimum-priority survivor always wins); the round bound
    * throws loudly.
    *
    * MIS is the scale-out building block for anchor selection
    * (ER blocking seeds, landmark picking, graph coarsening): a set
    * that is mutually non-adjacent yet dominates the whole graph.
    *
    * Per round: two node-keyed joins restrict edges to survivors, one
    * uniform-key min-agg finds each node's best surviving neighbor,
    * one anti-join removes the closed neighborhood — loop state on
    * [[Scans.rebase]] (nested-loop stats discipline). Output: MIS
    * member ids, ordered.
    */
  /** Bounded-size exact Luby tail: the SAME local-minimum winner rounds
    * as the distributed loop, run to completion over the collected
    * (live node, pr) + live-restricted edges — the MIS is a
    * deterministic function of (graph, priorities), so the simulation
    * is member-for-member identical (OpsApiSpec pins localBudget = 0 ≡
    * default). Winners with no surviving neighbor are selected exactly
    * as the loop's mn-IS-NULL branch does.
    */
  private def misLocal(live: DataFrame, le: DataFrame): Seq[Long] = {
    val pr = live.select(col("node"), col("pr")).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    le.select(col("src"), col("dst")).collect().foreach { r =>
      adj.getOrElseUpdate(r.getLong(0),
        scala.collection.mutable.ArrayBuffer.empty) += r.getLong(1)
    }
    var liveSet = pr.keySet
    val mis = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (liveSet.nonEmpty) {
      val winners = liveSet.iterator.filter { n =>
        val p = pr(n)
        adj.getOrElse(n, Nil).forall(m =>
          !liveSet.contains(m) || pr(m).compareTo(p) > 0)
      }.toVector
      mis ++= winners
      val dead = winners.toSet ++ winners.iterator
        .flatMap(w => adj.getOrElse(w, Nil))
      liveSet = liveSet -- dead
    }
    mis.toSeq
  }

  def maximalIndependentSet(edgesIn: DataFrame, maxRounds: Int = 16,
      localBudget: Long = GraphLocalSolveRowBudget): DataFrame = {
    val e0 = edgesIn.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var live = Scans.rebase(
      edges.select(col("src").as("node")).distinct()
        .withColumn("pr", expr(
          s"cast(${Nlp.h60("concat('mis:', cast(node as string))")} " +
            "as decimal(38,0)) * 10000000000 + node")), 8)
    // live-RESTRICTED symmetric edges ride the loop as materialized
    // state (winners' closed neighborhoods leave, so this frame
    // collapses geometrically on dense graphs) — both the per-round
    // winner test and the bounded local tail read it
    var le = Scans.rebase(edges
      .join(live.select(col("node").as("src")), "src")
      .join(live.select(col("node").as("dst"), col("pr").as("pd")), "dst"), 8)
    var mis: DataFrame = null
    var r = 0
    var done = false
    while (!done) {
      val m = le.count()
      if (m == 0L || m <= localBudget) {
        // no live edges → every survivor wins (the mn-IS-NULL branch);
        // otherwise only EDGE-INCIDENT survivors (≤ 2m rows, bounded by
        // the budget) are collected for the driver pass — edge-free
        // survivors always win regardless of rounds and stay a
        // distributed anti-join, so a huge-live/small-edge frontier
        // never reaches the driver
        val tail =
          if (m == 0L) live.select(col("node"))
          else {
            val spark = live.sparkSession
            import spark.implicits._
            val inc = le.select(col("src").as("node")).distinct()
            val isolated = live.join(inc, Seq("node"), "left_anti")
              .select(col("node"))
            isolated.unionByName(
              misLocal(live.join(inc, Seq("node")), le).toDF("node"))
          }
        mis = if (mis == null) tail
          else Scans.rebaseSwap(mis.unionByName(tail), mis, 8)
        done = true
      } else {
        if (r >= maxRounds) throw new IllegalStateException(
          s"maximalIndependentSet: did not converge in $maxRounds rounds")
        val nbrMin = le.groupBy(col("src").as("mn_node"))
          .agg(min(col("pd")).as("mn"))
        val winners = Scans.rebase(
          live.join(nbrMin, live("node") === col("mn_node"), "left")
            .filter(col("mn").isNull || col("pr") < col("mn"))
            .select(col("node")), 8)
        mis = if (mis == null) winners
          else Scans.rebaseSwap(mis.unionByName(winners), mis, 8)
        val dead = winners.unionByName(
            edges.join(winners.select(col("node").as("src")), "src")
              .select(col("dst").as("node")))
          .distinct()
        live = Scans.rebaseSwap(live.join(dead, Seq("node"), "left_anti"),
          live, 8)
        le = Scans.rebaseSwap(edges
          .join(live.select(col("node").as("src")), "src")
          .join(live.select(col("node").as("dst"), col("pr").as("pd")),
            "dst"), le, 8)
        if (mis ne winners) winners.unpersist(blocking = false)
        r += 1
      }
    }
    mis.orderBy(col("node"))
  }

  private val MisOracleRounds = 16

  private def misRoundSql(r: Int): String = {
    val p = r - 1
    s"""mn$r AS MATERIALIZED (SELECT e.src AS node, MIN(lp.pr) AS mn
      FROM e JOIN l$p la ON e.src = la.node JOIN l$p lp ON e.dst = lp.node
      GROUP BY e.src),
    w$r AS MATERIALIZED (SELECT l.node FROM l$p l
      LEFT JOIN mn$r m ON l.node = m.node
      WHERE m.mn IS NULL OR l.pr < m.mn),
    s$r AS MATERIALIZED (SELECT node FROM s$p
      UNION ALL SELECT node FROM w$r),
    d$r AS MATERIALIZED (SELECT node FROM w$r
      UNION ALL SELECT e.dst FROM e JOIN w$r ON e.src = w$r.node),
    l$r AS MATERIALIZED (SELECT l.node, l.pr FROM l$p l
      WHERE l.node NOT IN (SELECT node FROM d$r))"""
  }

  private def misSql: String = {
    val rounds = (1 to MisOracleRounds).map(misRoundSql).mkString(",\n    ")
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src,
        l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS MATERIALIZED (SELECT src, dst FROM e0
        UNION ALL SELECT dst, src FROM e0),
      l0 AS MATERIALIZED (SELECT node,
          CAST(${Nlp.h60Sql("'mis:' || CAST(node AS VARCHAR)")} AS HUGEINT)
            * 10000000000 + node AS pr
        FROM (SELECT DISTINCT src AS node FROM e)),
      s0 AS MATERIALIZED (SELECT src AS node FROM e WHERE FALSE),
      $rounds
      SELECT CAST(node AS BIGINT) AS node FROM s$MisOracleRounds
      ORDER BY node"""
  }

  /** MIS over the symmetrized trade graph — the derandomized Luby draw;
    * OpsApiSpec pins independence + maximality on the result.
    */
  private val qMis = GraftQuery(
    "qg_mis",
    (s, dir) => maximalIndependentSet(tradeEdges(s, dir)),
    Some(misSql))

  // --------------------------------------- maximal matching (handshake)
  /** Maximal matching by iterated MUTUAL-BEST handshake (the classic
    * distributed symmetry-breaking matcher — Israeli–Itai 1986 family,
    * derandomized): every live node points at its minimum-priority
    * incident edge; an edge whose BOTH endpoints point at it joins the
    * matching; matched nodes leave, repeat until no live edge remains.
    * The result is maximal by construction (a surviving edge would
    * still be live) and node-disjoint (each round's winners share no
    * endpoint — a node points at ONE edge).
    *
    * This is the scale-out closure of [[MatchOps]]' one-round
    * qj_mutual_best_match: iterating mutual-best to a fixpoint yields a
    * full 1:1 assignment — THE record-linkage end-game (each customer
    * entity paired with at most one supplier entity, no entity used
    * twice), and the pair-assignment primitive dedup clustering uses to
    * pick disjoint merge pairs.
    *
    * Determinism: edge priority is the h60 hash of the unique ekey
    * composite (the [[minimumSpanningForest]] encoding — same bounds,
    * same loud require), tie-broken by ekey itself, so every engine,
    * partitioning, and retry draws the identical matching. HASHED
    * priorities (not raw weights) are load-bearing for the round bound:
    * against data weights an increasing path matches one edge per round
    * (Θ(n) rounds); against random priorities a constant fraction of
    * live edges dies per round — O(log m) rounds w.h.p.
    *
    * Per round: one symmetrize + uniform-key min-agg (node's best), two
    * node-keyed equi-joins (mutual test), two anti-joins (peel) — no
    * pair explosion; loop state on [[Scans.rebase]]. Output: the
    * matched (a, b, w) pairs, ordered.
    */
  /** Bounded-size exact handshake tail: the SAME mutual-best rounds as
    * the distributed loop (best per node by min (ph, ekey); an edge
    * both of whose endpoints point at it matches; matched nodes leave),
    * run to completion over the collected live edge list. Deterministic
    * function of (edges, hashed priorities) — matching-for-matching
    * identical to the loop (OpsApiSpec pins it with localBudget = 0).
    * Progress per pass is guaranteed (the globally minimum live edge is
    * always mutual-best), so the pass counter is a pure safety bound.
    */
  private def matchingLocal(live: DataFrame): DataFrame = {
    val spark = live.sparkSession
    val proj = live.select(col("a"), col("b"), col("w"))
    val rows = live.select(col("a"), col("b"), col("w"), col("ekey"),
      col("ph")).collect()
    val matched = scala.collection.mutable.ArrayBuffer.empty[Int]
    val dead = scala.collection.mutable.HashSet.empty[Long]
    var remaining = rows.indices.toVector
    var guard = 0
    while (remaining.nonEmpty) {
      guard += 1
      require(guard <= rows.length + 1,
        "maximalMatching: local handshake failed to progress (bug)")
      val best = scala.collection.mutable.HashMap
        .empty[Long, (Long, java.math.BigDecimal)]
      def offer(n: Long, ph: Long, ek: java.math.BigDecimal): Unit =
        best.get(n) match {
          case Some((bph, bek))
            if bph < ph || (bph == ph && bek.compareTo(ek) <= 0) => ()
          case _ => best(n) = (ph, ek)
        }
      remaining.foreach { i =>
        val r = rows(i); val ek = r.getDecimal(3); val ph = r.getLong(4)
        offer(r.getLong(0), ph, ek); offer(r.getLong(1), ph, ek)
      }
      val mm = remaining.filter { i =>
        val r = rows(i); val ek = r.getDecimal(3)
        best(r.getLong(0))._2.compareTo(ek) == 0 &&
          best(r.getLong(1))._2.compareTo(ek) == 0
      }
      matched ++= mm
      mm.foreach { i => dead += rows(i).getLong(0); dead += rows(i).getLong(1) }
      remaining = remaining.filterNot { i =>
        dead(rows(i).getLong(0)) || dead(rows(i).getLong(1))
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        matched.map(i => org.apache.spark.sql.Row(
          rows(i).get(0), rows(i).get(1), rows(i).get(2))).toSeq, 1),
      proj.schema)
  }

  def maximalMatching(edgesIn: DataFrame, maxRounds: Int = 32,
      localBudget: Long = GraphLocalSolveRowBudget): DataFrame = {
    val e0 = ekeyedEdges(edgesIn.filter(col("src") =!= col("dst")),
        "maximalMatching")
      .withColumn("ph", expr(
        Nlp.h60("concat('match:', cast(ekey as string))")))
      .localCheckpoint()
    var live = Scans.rebase(e0, 8)
    val picks = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var r = 0
    var done = false
    while (!done) {
      val m = live.count()
      if (m == 0L) done = true
      else if (m <= localBudget) {
        // matched suppliers/customers drop ALL their incident edges, so
        // the live list collapses fast — finish the tail rounds in one
        // bounded driver pass instead of three jobs per round
        picks += matchingLocal(live)
        done = true
      } else {
        if (r >= maxRounds) throw new IllegalStateException(
          s"maximalMatching: did not converge in $maxRounds rounds")
        val best = live.select(col("a").as("node"), col("ph"), col("ekey"))
          .unionByName(live.select(col("b").as("node"), col("ph"), col("ekey")))
          .groupBy(col("node"))
          .agg(min(struct(col("ph"), col("ekey"))).as("m"))
          .select(col("node"), col("m.ekey").as("bk"))
        val mm = Scans.rebase(live
          .join(best.select(col("node").as("a"), col("bk").as("ka")), "a")
          .join(best.select(col("node").as("b"), col("bk").as("kb")), "b")
          .filter(col("ekey") === col("ka") && col("ekey") === col("kb"))
          .select(col("a"), col("b"), col("w")), 8)
        picks += mm
        val mn = mm.select(col("a").as("node"))
          .unionByName(mm.select(col("b").as("node")))
        val prev = live
        live = Scans.rebase(live
          .join(mn.select(col("node").as("a")), Seq("a"), "left_anti")
          .join(mn.select(col("node").as("b")), Seq("b"), "left_anti"), 8)
        prev.unpersist(blocking = false)
        r += 1
      }
    }
    val empty = e0.select(col("a"), col("b"), col("w")).limit(0)
    picks.foldLeft(empty)(_ unionByName _)
      .select(col("a"), col("b"), col("w").cast("bigint").as("w"))
      .orderBy(col("a"))
  }

  // Oracle: the handshake unrolled to a fixed round count; the final
  // WHERE asserts no live edge survives round R, so an under-provisioned
  // oracle fails loudly as an oracle bug instead of silently returning a
  // non-maximal matching. 32 MATCHES the engine's maxRounds default
  // (like MstOracleRounds): a corpus converging anywhere inside the
  // engine's budget must also be inside the oracle's, or a correct
  // engine result would trip the oracle's convergence assert.
  private val MatchingOracleRounds = 32

  private def matchingRoundSql(r: Int): String = {
    val p = r - 1
    s"""bs$r AS MATERIALIZED (SELECT node, ekey AS bk FROM (
      SELECT node, ekey,
          ROW_NUMBER() OVER (PARTITION BY node ORDER BY ph, ekey) AS rn
        FROM (SELECT a AS node, ekey, ph FROM l$p
          UNION ALL SELECT b, ekey, ph FROM l$p)) WHERE rn = 1),
    mm$r AS MATERIALIZED (SELECT l.a, l.b, l.w FROM l$p l
      JOIN bs$r x ON l.a = x.node AND l.ekey = x.bk
      JOIN bs$r y ON l.b = y.node AND l.ekey = y.bk),
    mn$r AS MATERIALIZED (SELECT a AS node FROM mm$r
      UNION ALL SELECT b FROM mm$r),
    ac$r AS MATERIALIZED (SELECT a, b, w FROM ac$p
      UNION ALL SELECT a, b, w FROM mm$r),
    l$r AS MATERIALIZED (SELECT * FROM l$p
      WHERE a NOT IN (SELECT node FROM mn$r)
        AND b NOT IN (SELECT node FROM mn$r))"""
  }

  private def matchingSql: String = {
    val rounds = (1 to MatchingOracleRounds).map(matchingRoundSql)
      .mkString(",\n    ")
    val R = MatchingOracleRounds
    s"""WITH e0 AS MATERIALIZED (SELECT o_custkey * 2 AS src,
        l_suppkey * 2 + 1 AS dst, CAST(MIN(l_quantity) AS BIGINT) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
      ed AS MATERIALIZED (SELECT LEAST(src, dst) AS a, GREATEST(src, dst)
          AS b, MIN(w) AS w
        FROM e0 WHERE src <> dst GROUP BY 1, 2),
      l0 AS MATERIALIZED (SELECT a, b, w,
          CAST(w AS HUGEINT) * 100000000000000 + a * 10000000 + b AS ekey,
          ${Nlp.h60Sql("'match:' || CAST(CAST(w AS HUGEINT) " +
            "* 100000000000000 + a * 10000000 + b AS VARCHAR)")} AS ph
        FROM ed),
      ac0 AS MATERIALIZED (SELECT a, b, w FROM l0 WHERE FALSE),
      $rounds
      SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        CAST(w AS BIGINT) AS w
      FROM ac$R
      WHERE CASE WHEN (SELECT COUNT(*) FROM l$R) = 0 THEN TRUE
        ELSE CAST('matching-oracle-underprovisioned' AS BOOLEAN) END
      ORDER BY a"""
  }

  // ------------------------------- greedy coloring (Jones–Plassmann)
  /** Distributed greedy graph coloring, Jones–Plassmann style (Jones &
    * Plassmann 1993): per round, every uncolored node that holds the
    * MINIMUM hash priority in its uncolored neighborhood colors itself
    * with the smallest positive color absent among its already-colored
    * neighbors. Same-round winners are mutually non-adjacent (the
    * [[maximalIndependentSet]] local-minimum rule), so the greedy
    * first-fit never conflicts — a proper coloring by construction,
    * with ≤ Δ+1 colors, in O(log n / log log n) expected rounds
    * against hashed priorities. Coloring is the conflict-free
    * SCHEDULING primitive: color classes are batches safe to update
    * concurrently (each class is an independent set).
    *
    * Completes the symmetry-breaking triad: [[maximalIndependentSet]]
    * (one batch), [[maximalMatching]] (disjoint pairs), coloring (ALL
    * nodes batched).
    *
    * Per round: the MIS winner test (two node-keyed joins + uniform-key
    * min-agg), then the first-fit: winners' colored-neighbor DISTINCT
    * colors (bounded by the winner's degree), explode candidate colors
    * 1..cnt+1, one anti-join, min — all keyed on the node, no pair
    * blow-up; loop state on [[Scans.rebase]]. Output: the color
    * histogram (color, n_nodes) plus properness is test-pinned.
    */
  def greedyColoring(edgesIn: DataFrame, maxRounds: Int = 48): DataFrame =
    greedyColoringAssignment(edgesIn, maxRounds)
      .groupBy(col("color")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("color"))

  /** Bounded-size exact Jones–Plassmann: the SAME round process as the
    * distributed loop (winners = uncolored local priority minima;
    * first-fit against PREVIOUS rounds' colors only), simulated in one
    * driver pass over the collected (node, pr) + symmetrized edges —
    * JP's output is a deterministic function of (graph, priorities), so
    * the simulation is color-for-color identical to the loop (OpsApiSpec
    * pins it with localBudget = 0). Priorities are collected, never
    * recomputed, so there is exactly ONE h60 priority source.
    */
  private def coloringLocal(state: DataFrame, edges: DataFrame,
      maxRounds: Int): DataFrame = {
    val spark = state.sparkSession
    val pr = state.select(col("node"), col("pr")).collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    edges.select(col("src"), col("dst")).collect().foreach { r =>
      adj.getOrElseUpdate(r.getLong(0),
        scala.collection.mutable.ArrayBuffer.empty) += r.getLong(1)
    }
    val color = scala.collection.mutable.HashMap.empty[Long, Int]
    var uncolored = pr.keySet
    var r = 0
    while (uncolored.nonEmpty) {
      if (r >= maxRounds) throw new IllegalStateException(
        s"greedyColoringAssignment: did not converge in $maxRounds rounds")
      val winners = uncolored.iterator.filter { n =>
        val p = pr(n)
        adj.getOrElse(n, Nil).forall(m =>
          !uncolored.contains(m) || pr(m).compareTo(p) > 0)
      }.toVector
      val assignedNow = winners.map { n =>
        val used = adj.getOrElse(n, Nil).iterator
          .flatMap(m => color.get(m)).toSet
        var c = 1
        while (used.contains(c)) c += 1
        n -> c
      }
      assignedNow.foreach { case (n, c) => color(n) = c }
      uncolored = uncolored -- winners
      r += 1
    }
    spark.createDataFrame(color.toSeq).toDF("node", "color")
  }

  /** The full (node, color) assignment behind [[greedyColoring]] —
    * the loop itself; tests pin properness on it directly.
    */
  private[analytics] def greedyColoringAssignment(edgesIn: DataFrame,
      maxRounds: Int = 48,
      localBudget: Long = GraphLocalSolveRowBudget): DataFrame = {
    val e0 = edgesIn.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    // ONE loop frame (node, pr, color-nullable): the loop's wall cost is
    // Spark jobs, not rows (EXPLAINS_r9), so colored/uncolored ride one
    // materialization per round instead of two
    var state = Scans.rebase(
      edges.select(col("src").as("node")).distinct()
        .withColumn("pr", expr(
          s"cast(${Nlp.h60("concat('jp:', cast(node as string))")} " +
            "as decimal(38,0)) * 10000000000 + node"))
        .withColumn("color", lit(null).cast("int")), 8)
    if (state.count() + edges.count() <= localBudget)
      return coloringLocal(state, edges, maxRounds)
        .select(col("node"), col("color")).orderBy(col("node"))
    var r = 0
    while (!state.filter(col("color").isNull).isEmpty) {
      if (r >= maxRounds) throw new IllegalStateException(
        s"greedyColoringAssignment: did not converge in $maxRounds rounds")
      val unc = state.filter(col("color").isNull)
      val le = edges
        .join(unc.select(col("node").as("src")), "src")
        .join(unc.select(col("node").as("dst"), col("pr").as("pd")), "dst")
      val nbrMin = le.groupBy(col("src").as("mn_node"))
        .agg(min(col("pd")).as("mn"))
      val winners = Scans.rebase(
        unc.join(nbrMin, unc("node") === col("mn_node"), "left")
          .filter(col("mn").isNull || col("pr") < col("mn"))
          .select(col("node")), 8)
      // winners' colored-neighbor color sets, then first-fit as ONE
      // array expression (sorted distinct colors cs vs 1..k — the first
      // index where they disagree is the smallest absent color), instead
      // of the explode + anti-join + re-agg form: two fewer exchanges
      // per round. Arrays are degree-bounded.
      val nbrColors = edges.join(winners.select(col("node").as("src")), "src")
        .join(state.filter(col("color").isNotNull)
          .select(col("node").as("dst"), col("color")), "dst")
        .groupBy(col("src").as("node"))
        .agg(sort_array(collect_set(col("color"))).as("cs"))
      val asg = winners.join(nbrColors, Seq("node"), "left")
        .select(col("node"),
          when(col("cs").isNull, lit(1)).otherwise(coalesce(
            expr("""array_min(filter(zip_with(cs, sequence(1, size(cs)),
              (c, i) -> if(c <> i, i, cast(null as int))),
              x -> x is not null))"""),
            expr("size(cs) + 1"))).as("newc"))
      val prev = state
      state = Scans.rebaseSwap(
        state.join(asg, Seq("node"), "left")
          .select(col("node"), col("pr"),
            coalesce(col("color"), col("newc")).as("color")),
        prev, 8)
      winners.unpersist(blocking = false)
      r += 1
    }
    state.select(col("node"), col("color")).orderBy(col("node"))
  }

  // 48 matches greedyColoring's engine maxRounds default — same
  // provisioning-parity rule as MatchingOracleRounds/MstOracleRounds.
  private val ColoringOracleRounds = 48

  private def coloringRoundSql(r: Int): String = {
    val p = r - 1
    s"""mn$r AS MATERIALIZED (SELECT ge.src AS node, MIN(lp.pr) AS mn
      FROM ge JOIN u$p la ON ge.src = la.node JOIN u$p lp ON ge.dst = lp.node
      GROUP BY ge.src),
    w$r AS MATERIALIZED (SELECT l.node FROM u$p l
      LEFT JOIN mn$r m ON l.node = m.node
      WHERE m.mn IS NULL OR l.pr < m.mn),
    nc$r AS MATERIALIZED (SELECT DISTINCT w.node, c.color
      FROM w$r w JOIN ge ON ge.src = w.node JOIN col$p c ON ge.dst = c.node),
    asg$r AS MATERIALIZED (SELECT node, MIN(k) AS color FROM (
      SELECT b.node, unnest(generate_series(1, b.cnt + 1)) AS k
      FROM (SELECT w.node, COALESCE(n.cnt, 0) AS cnt FROM w$r w
        LEFT JOIN (SELECT node, COUNT(*) AS cnt FROM nc$r GROUP BY node) n
          ON w.node = n.node) b) cand
      WHERE NOT EXISTS (SELECT 1 FROM nc$r x
        WHERE x.node = cand.node AND x.color = cand.k)
      GROUP BY node),
    col$r AS MATERIALIZED (SELECT node, color FROM col$p
      UNION ALL SELECT node, color FROM asg$r),
    u$r AS MATERIALIZED (SELECT u.node, u.pr FROM u$p u
      WHERE u.node NOT IN (SELECT node FROM w$r))"""
  }

  private def coloringSql: String = {
    val rounds = (1 to ColoringOracleRounds).map(coloringRoundSql)
      .mkString(",\n    ")
    val R = ColoringOracleRounds
    s"""WITH ${SimilarityOps.knnEdgeCtes},
      ge AS MATERIALIZED (SELECT DISTINCT src, dst
        FROM (SELECT src, nbr AS dst FROM edg)),
      u0 AS MATERIALIZED (SELECT node,
          CAST(${Nlp.h60Sql("'jp:' || CAST(node AS VARCHAR)")} AS HUGEINT)
            * 10000000000 + node AS pr
        FROM (SELECT DISTINCT src AS node FROM ge)),
      col0 AS MATERIALIZED (SELECT src AS node, 1 AS color FROM ge
        WHERE FALSE),
      $rounds
      SELECT CAST(color AS INT) AS color,
        CAST(CASE WHEN (SELECT COUNT(*) FROM u$R) = 0 THEN COUNT(*)
          ELSE CAST('coloring-oracle-underprovisioned' AS BIGINT) END
          AS BIGINT) AS n_nodes
      FROM col$R GROUP BY color ORDER BY color"""
  }

  /** Color classes of the kNN near-neighbor graph (the qs_knn_graph
    * index, fourth consumer) — conflict-free merge batches over the
    * near-duplicate graph; each class can be processed concurrently
    * with no two adjacent (similar) items in one batch. The kNN graph
    * (bounded degree, hash-spread) keeps the JP dependency chains
    * short; the DENSE bipartite trade graph is the measured
    * counterexample — its alternating priority runs sequentialize JP
    * into hundreds of rounds, which is why this binding colors the
    * sparse graph. Properness and the MIS-winner rule are pinned in
    * OpsApiSpec.
    */
  private val qColoring = GraftQuery(
    "qg_coloring",
    (s, dir) => greedyColoring(SimilarityOps.knnEdgesMemo(s, dir)
      .select(col("src"), col("nbr").as("dst"))),
    Some(coloringSql))

  /** 1:1 trade assignment: each customer entity matched to at most one
    * supplier entity over the min-quantity-weighted trade graph — the
    * [[maximalMatching]] handshake on the qg_mst/qg_sssp weighting.
    */
  private val qMatching = GraftQuery(
    "qg_matching",
    (s, dir) => maximalMatching(weightedTradeE0(s, dir)),
    Some(matchingSql))

  // ---------------------------------------------- densest subgraph (peel)
  /** Densest-subgraph PEEL TRACE — Bahmani, Kumar & Vassilvitskii's
    * MapReduce algorithm (VLDB 2012): each round removes EVERY node
    * whose degree is ≤ (1+ε)·(average degree) and records the surviving
    * subgraph's size and density; the best-density round is a
    * 2(1+ε)-approximation of the densest subgraph. ε = ½ here, so the
    * peel condition is the ALL-INTEGER "keep v iff 2·deg(v)·n > 3·m₂"
    * (m₂ = symmetrized edge count; threshold (1+ε)·m₂/n without any
    * division), and density is emitted in micro-units as
    * m₂·10⁶ div 2n.
    *
    * Scale shape per round: one uniform-key degree aggregation, ONE
    * 1-row (n, m₂) scalar fetch (the kCore/pageRank sanctioned driver
    * read — it also lets exhausted rounds short-circuit to literal
    * rows), and two left-semi joins of the edge list against the
    * survivor set. Each round removes ≥ a constant fraction of nodes
    * (fewer than n·ε/(1+ε) nodes can exceed (1+ε)·average), so
    * O(log₁.₅ n) rounds empty any graph; the fixed `rounds` horizon
    * keeps the oracle a finite CTE chain, with (n = 0) rows past
    * exhaustion.
    *
    * On a near-uniform graph round 0 (the whole graph) IS the best
    * round — no node beats 1.5× average, one peel empties it, and
    * "whole graph" is the correct densest answer there. The
    * discriminating case (a planted clique on a sparse fringe, where
    * the best round isolates the clique exactly) is pinned in
    * OpsApiSpec.
    *
    * Input contract: symmetrized edge list. Output: one row per round
    * 0..rounds — (round, nodes, edges, density_micro, is_best).
    */
  def densestSubgraph(edgesIn: DataFrame, rounds: Int = 5,
      srcCol: String = "src", dstCol: String = "dst",
      prepared: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // prepared = true: edgesIn is already distinct — skip the redundant
    // full-edge-list dedup shuffle (the reachability pattern)
    val e0 = edgesIn.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    var edges = (if (prepared) e0 else e0.distinct()).localCheckpoint()
    val spark = edgesIn.sparkSession
    // ONE degree pass per round feeds everything: (m2, n) fall out of it
    // as sum/count (no separate countDistinct scan) via the sanctioned
    // 1-row scalar fetch (the kCore/pageRank pattern), so the peel
    // threshold is a LITERAL and exhausted rounds emit literal zero rows
    // with no jobs at all. BigInt for the density product — m₂·10⁶
    // outruns a long once m₂ > ~9·10¹².
    val traces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var live = true
    for (r <- 0 to rounds) {
      if (live) {
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("_d"))
          .localCheckpoint()
        val row = deg.agg(coalesce(sum(col("_d")), lit(0L)).as("_m2"),
          count(lit(1)).as("_n")).head()
        val m2 = row.getLong(0); val n = row.getLong(1)
        val dens = ((BigInt(m2) * 1000000) / (2 * math.max(n, 1L))).toLong
        traces += spark.range(1).select(lit(r.toLong).as("round"),
          lit(n).as("nodes"), lit(m2 / 2).as("edges"),
          lit(dens).as("density_micro"))
        if (n == 0) live = false
        else if (r < rounds) {
          val keep = deg
            .filter(lit(2L) * col("_d") * lit(n) > lit(3L) * lit(m2))
            .select(col("src"))
          edges = edges.join(keep, Seq("src"), "left_semi")
            .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
            .localCheckpoint()
        }
      } else
        traces += spark.range(1).select(lit(r.toLong).as("round"),
          lit(0L).as("nodes"), lit(0L).as("edges"),
          lit(0L).as("density_micro"))
    }
    val trace = traces.reduce(_ unionByName _)
    val best = trace.agg(max(col("density_micro")).as("_best"))
    // nodes > 0 guard: on an empty (or uniformly-zero-density) input
    // every exhausted round ties max at 0 — "zeros are never best"
    // (documented above, now enforced rather than assumed non-degenerate)
    trace.crossJoin(broadcast(best))
      .withColumn("is_best",
        col("density_micro") === col("_best") && col("nodes") > 0)
      .drop("_best")
      .orderBy(col("round"))
  }

  private val DensestRounds = 5

  // every peel CTE is MATERIALIZED: DuckDB inlines plain CTEs per
  // reference, and the 3-references-per-round chain re-inlines e0 3^R
  // times (the EXPLAINS_r9 3^k plan-growth finding, DuckDB edition) —
  // enough re-opened parquet scans to exhaust the fd limit
  private def densestItSql(prev: String, s: String, out: String) =
    s"""$s AS MATERIALIZED (SELECT COUNT(*) AS m2, COUNT(DISTINCT src) AS n FROM $prev),
    k$out AS MATERIALIZED (SELECT src FROM (SELECT src, COUNT(*) AS d FROM $prev
        GROUP BY src) CROSS JOIN $s WHERE 2 * d * n > 3 * m2),
    $out AS MATERIALIZED (SELECT t.src, t.dst FROM $prev t
      JOIN k$out a ON t.src = a.src JOIN k$out b ON t.dst = b.src)"""

  // Peel on the part co-purchase graph (the one derived graph in the
  // corpus with real degree heterogeneity — hub parts): baskets are
  // ≤ ~7 lines, so the intra-order pair join is bounded per order.
  private val densestSql = {
    val its = (0 until DensestRounds)
      .map(r => densestItSql(s"e$r", s"s$r", s"e${r + 1}"))
    val trace = (0 to DensestRounds).map(r =>
      s"""SELECT $r AS round, n AS nodes, m2 // 2 AS edges,
        (m2 * 1000000) // (2 * greatest(n, 1)) AS density_micro FROM s$r""")
    s"""WITH px AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e0 AS MATERIALIZED (SELECT x AS src, y AS dst FROM px UNION ALL SELECT y, x FROM px),
    ${its.mkString(",\n    ")},
    s$DensestRounds AS (SELECT COUNT(*) AS m2, COUNT(DISTINCT src) AS n
      FROM e$DensestRounds),
    tr AS (${trace.mkString("\n      UNION ALL ")}),
    bb AS (SELECT MAX(density_micro) AS best FROM tr)
    SELECT round, nodes, edges, density_micro,
      density_micro = best AND nodes > 0 AS is_best
    FROM tr, bb ORDER BY round"""
  }

  private val qDensest = GraftQuery(
    "qg_densest",
    (s, dir) =>
      // the memoized co-purchase pair-count frame IS the symmetric
      // distinct edge list (both directions, item <> co_item) — shared
      // with qj_copurchase_topk via memo_build:copurchase_pairs
      densestSubgraph(
        Relational3.copurchasePairsMemo(s, dir)
          .select(col("item").as("src"), col("co_item").as("dst")),
        DensestRounds, prepared = true),
    Some(densestSql))

  def queries: Seq[GraftQuery] =
    Seq(qPageRank, qTriangles, qLpa, qKcore, qReach, qSubtree, qSssp, qPpr,
      qLinkPredict, qDegreeDist, qModularity, qHits, qAssortativity, qWalks,
      qHarmonic, qEcc, qBetweenness, qLocalClustering, qKTruss, qRichClub,
      qKatz, qScc, qMst, qWl, qMis, qMatching, qColoring, qDensest)
}
