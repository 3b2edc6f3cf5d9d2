package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Six graph/dedup operators solve on the driver once their live input
  * fits a row budget (2^16–2^18 rows), so at sf0.01 the oracle only ever
  * sees their local solvers. Here each operator gets its query binding's
  * own sf0.01 input and must return the same rows with `localBudget = 0`
  * (every round distributed) as with the default budget.
  */
class DistributedPathSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.01"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def same(name: String, default: DataFrame,
      distributed: DataFrame): Unit = {
    val expected = rows(default)
    assert(expected.nonEmpty, s"$name: empty result on its binding input")
    assert(rows(distributed) == expected,
      s"$name: localBudget = 0 rows differ from the default's")
  }

  test("localBudget = 0 returns the default's rows on the sf0.01 binding inputs") {
    // qg_scc: supplier dominance edges over every supplier with a line
    val dom = GraphOps.dominanceEdges(spark, dir)
    val suppliers = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("node")).distinct()
    same("qg_scc", GraphOps.stronglyConnectedComponents(dom, suppliers),
      GraphOps.stronglyConnectedComponents(dom, suppliers, localBudget = 0L))
    val trade = GraphOps.tradeEdges(spark, dir)
    same("qg_mis", GraphOps.maximalIndependentSet(trade),
      GraphOps.maximalIndependentSet(trade, localBudget = 0L))
    // qg_coloring colors the kNN index
    val knn = SimilarityOps.knnEdgesMemo(spark, dir)
      .select(col("src"), col("nbr").as("dst"))
    same("qg_coloring", GraphOps.greedyColoringAssignment(knn),
      GraphOps.greedyColoringAssignment(knn, localBudget = 0L))
    // qg_mst: budget 0 runs every Borůvka round and resolvePickForest's
    // doubling loop distributed; the default ends in the Kruskal tail
    val weighted = GraphOps.weightedTradeE0(spark, dir)
    same("qg_mst", GraphOps.minimumSpanningForest(weighted),
      GraphOps.minimumSpanningForest(weighted, localBudget = 0L))
    // qg_matching: the default finishes in the local handshake tail
    same("qg_matching", GraphOps.maximalMatching(weighted),
      GraphOps.maximalMatching(weighted, localBudget = 0L))
    val simEdges = DedupOps.clusterEdgesMemo(spark, dir)
    same("qd_neardup_clusters", DedupOps.nearDupClusters(simEdges),
      DedupOps.nearDupClusters(simEdges, localBudget = 0L))
  }
}
