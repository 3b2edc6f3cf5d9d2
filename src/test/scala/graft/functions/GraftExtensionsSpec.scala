package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The session-extensions hook must give a freshly built session the
  * `graft_*` SQL functions without any per-session register() call.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions(new GraftExtensions) registers the native functions") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
          graft_simhash60(array(7L)) AS s,
          graft_minhash_affine(array(42L), 4) AS m""").collect().head
      assert(r.getDouble(0) == 11.0)
      assert(r.getLong(1) == 7L)
      assert(r.getSeq[Long](2).size == 4)
      // every graft_* SQL function resolves in an extensions-built
      // session, the one every LocalSession main and the benchmark use
      val names = Seq("graft_dot", "graft_simhash60", "graft_minhash_affine",
        "graft_nfc", "graft_idot", "graft_dot_scores", "graft_int8_pack",
        "graft_idot_packed", "graft_shingle_hashes", "graft_prefix_explode",
        "graft_span_hashes", "graft_intersect_count",
        "graft_sorted_intersect_count")
      val missing = names.filterNot(n => spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not registered: $missing")
      val c = spark.sql("SELECT graft_sorted_intersect_count(" +
        "array(1L, 2L, 3L), array(2L, 3L, 4L)) AS c").collect().head
      assert(c.getInt(0) == 2)
    } finally spark.stop()
  }
}
