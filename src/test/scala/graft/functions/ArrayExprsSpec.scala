package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions must agree EXACTLY (bit-for-bit for doubles) with
  * the SQL-composed forms they replace — that equivalence is what keeps the
  * DuckDB oracle matching.
  */
class ArrayExprsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("DotProduct == aggregate(zip_with(...)) sequential fold, bit-exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      (Seq.fill(64)(rnd.nextDouble() * 2 - 1), Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("va", "vb")
    val got = df.select(
      GraftFunctions.graft_dot(col("va"), col("vb")).as("fast"),
      expr("aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)")
        .as("slow")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("DotScores == per-row DotProduct columns, bit-exact, any C") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cents = Seq.fill(45)(Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    val df = (1 to 100).map(_ => Tuple1(Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
      .toDF("v")
    val got = df.select(
      GraftFunctions.graft_dot_scores(typedLit(cents), col("v")).as("fast"),
      array(cents.map(c => GraftFunctions.graft_dot(typedLit(c), col("v"))): _*)
        .as("slow")).collect()
    got.foreach { r =>
      val f = r.getSeq[Double](0); val s = r.getSeq[Double](1)
      assert(f.size == 45 && s.size == 45)
      f.zip(s).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b))
      }
    }
    // ragged row truncates to the shorter side, like DotProduct
    val ragged = df.limit(1).select(
      GraftFunctions.graft_dot_scores(
        typedLit(Seq(Seq(1.0, 1.0), Seq(2.0))), col("v")).as("sc"),
      col("v")).head()
    val v = ragged.getSeq[Double](1)
    assert(ragged.getSeq[Double](0) == Seq(v(0) + v(1), 2.0 * v(0)))
  }

  test("Int8Pack + Int8DotPacked == IntDot on the unpacked arrays; clamps out-of-range") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 100).map(_ =>
      (Seq.fill(64)(rnd.nextInt(255) - 127), Seq.fill(64)(rnd.nextInt(255) - 127)))
      .toDF("a", "b")
    val got = df.select(
      GraftFunctions.graft_idot_packed(
        GraftFunctions.graft_int8_pack(col("a")),
        GraftFunctions.graft_int8_pack(col("b"))).as("packed"),
      GraftFunctions.graft_idot(col("a"), col("b")).as("unpacked")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // out-of-range values clamp to ±127; ragged lengths truncate
    val edge = Seq((Seq(1000, -1000, 5), Seq(127, 127, 2, 99))).toDF("a", "b")
      .select(GraftFunctions.graft_idot_packed(
        GraftFunctions.graft_int8_pack(col("a")),
        GraftFunctions.graft_int8_pack(col("b"))).as("d")).head()
    assert(edge.getLong(0) == 127L * 127 - 127L * 127 + 5L * 2)
  }

  test("SimHash60 == per-bit majority vote composed form") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 100).map(_ => Seq.fill(rnd.nextInt(50) + 1)(rnd.nextLong() & ((1L << 60) - 1)))
    val df = rows.toDF("hs")
    val slow = "aggregate(sequence(0, 59), cast(0 as bigint), (acc, b) -> acc + " +
      "CASE WHEN 2 * size(filter(hs, h -> (h div shiftleft(cast(1 as bigint), b)) % 2 = 1)) > size(hs) " +
      "THEN shiftleft(cast(1 as bigint), b) ELSE cast(0 as bigint) END)"
    val got = df.select(
      GraftFunctions.graft_simhash60(col("hs")).as("fast"), expr(slow).as("slow")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("MinHashAffine == composed multiply-mod min over masked base hashes") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 100).map(_ => Seq.fill(rnd.nextInt(40) + 1)(rnd.nextLong() & ((1L << 60) - 1)))
    val df = rows.toDF("hs")
    val aList = (0 until 16).map(MinHashAffine.a).mkString("array(", "L, ", "L)")
    val bList = (0 until 16).map(MinHashAffine.b).mkString("array(", "L, ", "L)")
    val slow = s"transform(sequence(0, 15), i -> array_min(transform(hs, " +
      s"x -> ($aList[i] * (x & ${MinHashAffine.Mask}L) + $bList[i]) % ${MinHashAffine.P}L)))"
    val got = df.select(
      GraftFunctions.graft_minhash_affine(col("hs"), 16).as("fast"),
      expr(slow).as("slow")).collect()
    got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("IntDot == aggregate(zip_with(...)) exact integer fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (1 to 200).map { _ =>
      (Seq.fill(64)(rnd.nextInt(255) - 127), Seq.fill(64)(rnd.nextInt(255) - 127))
    }
    val df = rows.toDF("qa", "qb")
    val got = df.select(
      GraftFunctions.graft_idot(col("qa"), col("qb")).as("fast"),
      expr("aggregate(zip_with(qa, qb, (x, y) -> cast(x as bigint) * y), " +
        "cast(0 as bigint), (acc, v) -> acc + v)").as("slow")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("NfcNormalize recomposes combining marks; identity on NFC input") {
    import spark.implicits._
    // "café" with a combining acute (e + U+0301) vs precomposed U+00E9.
    val combining = "cafe\u0301 cre\u0300me"
    val precomposed = "caf\u00e9 cr\u00e8me"
    val df = Seq((combining, precomposed), ("plain ascii", "plain ascii"))
      .toDF("a", "b")
    val got = df.select(
      GraftFunctions.graft_nfc(col("a")).as("na"),
      GraftFunctions.graft_nfc(col("b")).as("nb")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1)))
    assert(got.head.getString(0) == precomposed)
    // null passes through
    val n = df.select(GraftFunctions.graft_nfc(lit(null).cast("string"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("expressions are SQL-registered and callable") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect()
    assert(r.head.getDouble(0) == 11.0)
    val i = spark.sql("SELECT graft_idot(array(1, 2), array(3, 4)) AS d, " +
      "graft_nfc('cafe\u0301') AS n").collect()
    assert(i.head.getLong(0) == 11L && i.head.getString(1) == "caf\u00e9")
  }
}
