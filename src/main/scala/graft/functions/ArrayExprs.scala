package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector/signature hot loops.
  *
  * The composable form (`aggregate(zip_with(...))` / nested array lambdas)
  * is semantically right but runs interpreted, allocates intermediate
  * arrays, and dominated the sf0.1 bench. These expressions keep the exact
  * same left-to-right fold semantics (so DuckDB-oracle doubles stay
  * bit-identical) but compile to a tight scalar loop inside whole-stage
  * codegen — the preferred extension tier when built-ins can't express the
  * operator efficiently (custom Expression beats UDF beats driver logic).
  */

/** Σ aᵢ·bᵢ over two ARRAY<DOUBLE> columns, sequential accumulation.
  *
  * Contract (shared by [[IntDot]]): mismatched lengths truncate to the
  * shorter side (the FAISS-style "caller guarantees equal dims" contract —
  * dimension checking belongs to ingestion, not the per-row hot loop), and
  * a NULL element contributes 0 — guarded explicitly in BOTH eval paths so
  * interpreted and codegen execution agree (unguarded, an UnsafeArrayData
  * null slot reads as 0 under codegen but NPEs interpreted).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
            $acc += $a.getDouble($i) * $b.getDouble($i);
          }
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ aᵢ·bᵢ over two ARRAY<INT> columns, exact BIGINT accumulation — the
  * scoring kernel for int8-scalar-quantized similarity ([[graft.analytics
  * .SimilarityOps.sqTopK]]). Kept separate from [[DotProduct]] so quantized
  * vectors ship at 4 bytes/element (at scale they'd pack to BINARY at 1;
  * the int array is the Spark-typed middle ground) and the score stays an
  * exact integer — hash-comparable across engines with no float concerns.
  */
case class IntDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_idot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getInt(i).toLong * y.getInt(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $acc = 0L;
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
            $acc += (long) $a.getInt($i) * (long) $b.getInt($i);
          }
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Pack an int8-quantized ARRAY<INT> to BINARY — 1 byte per element, the
  * storage/shuffle format [[graft.analytics.SimilarityOps.sqTopK]]'s
  * scaladoc promises: 4× less than the int-array form through scans,
  * broadcasts, and shuffles. Values clamp to [-127, 127] (the SQ8 range;
  * quantizers already emit it), NULL elements pack as 0.
  */
case class Int8Pack(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "graft_int8_pack"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = arr.getInt(i)
        out(i) = math.max(-127, math.min(127, v)).toByte
      }
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      s"""
        int $n = $a.numElements();
        byte[] $out = new byte[$n];
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i)) {
            int $v = $a.getInt($i);
            $out[$i] = (byte) java.lang.Math.max(-127, java.lang.Math.min(127, $v));
          }
        }
        ${ev.value} = $out;
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Σ aᵢ·bᵢ over two packed int8 BINARY columns (signed bytes), exact
  * BIGINT — [[IntDot]]'s twin on the 1-byte wire format, so the packed
  * path scores without ever unpacking. Mismatched lengths truncate to the
  * shorter side, same contract as the array kernels.
  */
case class Int8DotPacked(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_idot_packed"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x(i).toLong * y(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.length, $b.length);
        long $acc = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $acc += (long) $a[$i] * (long) $b[$i];
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** All C dot products of one vector against a centroid MATRIX
  * (ARRAY<ARRAY<DOUBLE>> × ARRAY<DOUBLE> → ARRAY<DOUBLE>) in a single
  * fused loop — the IVF/k-means cell-scoring kernel.
  *
  * Why this exists: building the score array as C separate
  * `graft_dot(lit(row), v)` columns embeds C independent 64-literal fold
  * expressions in the plan; past C ≈ 10–20 the generated code blows the
  * JIT/codegen method budget and whole-stage codegen degrades — measured
  * 9–10 s for the √n-sized quantizer at sf0.1 vs ~2 s with this kernel.
  * One matrix literal + one expression keeps the plan O(1) in C and the
  * inner loop compiled.
  *
  * Per-element contract matches [[DotProduct]]: truncate to the shorter
  * side, NULL elements contribute 0, sequential accumulation in array
  * order (bit-identical to the per-row fold the oracles mirror).
  */
case class DotScores(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_dot_scores"

  override def nullSafeEval(m: Any, v: Any): Any = {
    val mat = m.asInstanceOf[ArrayData]
    val vec = v.asInstanceOf[ArrayData]
    val c = mat.numElements()
    val out = new Array[Double](c)
    var k = 0
    while (k < c) {
      if (!mat.isNullAt(k)) {
        val row = mat.getArray(k)
        val n = math.min(row.numElements(), vec.numElements())
        var acc = 0.0
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i) && !vec.isNullAt(i)) acc += row.getDouble(i) * vec.getDouble(i)
          i += 1
        }
        out(k) = acc
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, v) => {
      val c = ctx.freshName("c")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val row = ctx.freshName("row")
      val out = ctx.freshName("out")
      s"""
        int $c = $m.numElements();
        double[] $out = new double[$c];
        for (int $k = 0; $k < $c; $k++) {
          if (!$m.isNullAt($k)) {
            org.apache.spark.sql.catalyst.util.ArrayData $row = $m.getArray($k);
            int $n = java.lang.Math.min($row.numElements(), $v.numElements());
            double $acc = 0.0;
            for (int $i = 0; $i < $n; $i++) {
              if (!$row.isNullAt($i) && !$v.isNullAt($i)) {
                $acc += $row.getDouble($i) * $v.getDouble($i);
              }
            }
            $out[$k] = $acc;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 60-bit SimHash over an ARRAY<BIGINT> of token hashes: per-bit majority
  * vote (strict `2·ones > n`), bits 0..59.
  */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 60) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (2 * counts(b) > n) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val counts = ctx.freshName("counts")
      val sig = ctx.freshName("sig")
      s"""
        int $n = $a.numElements();
        int[] $counts = new int[60];
        for (int $i = 0; $i < $n; $i++) {
          long $h = $a.getLong($i);
          for (int $b = 0; $b < 60; $b++) {
            $counts[$b] += (int) (($h >>> $b) & 1L);
          }
        }
        long $sig = 0L;
        for (int $b = 0; $b < 60; $b++) {
          if (2 * $counts[$b] > $n) $sig |= (1L << $b);
        }
        ${ev.value} = $sig;
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature from an ARRAY<BIGINT> of pre-hashed shingles via a
  * multiply-mod universal family: slot i = min over x of
  * `(A(i)·(x & 30-bit mask) + B(i)) mod (2³¹−1)`.
  *
  * One base hash per shingle plus k cheap integer ops (not k md5s per
  * shingle), fully inside whole-stage codegen. The 30-bit mask keeps `A·x + B < 2⁶²`, so the identical
  * arithmetic is expressible in DuckDB BIGINT without overflow — the oracle
  * twin is exact, not approximate (companion emits the literal A/B lists).
  */
case class MinHashAffine(child: Expression, k: Int) extends UnaryExpression {
  import MinHashAffine._
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_affine"

  @transient private lazy val as: Array[Long] = Array.tabulate(k)(a)
  @transient private lazy val bs: Array[Long] = Array.tabulate(k)(b)

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val x = hs.getLong(j) & Mask
      var i = 0
      while (i < k) {
        val v = (as(i) * x + bs(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val aRef = ctx.addReferenceObj("mhA", as, "long[]")
      val bRef = ctx.addReferenceObj("mhB", bs, "long[]")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      val sig = ctx.freshName("sig")
      s"""
        int $n = $c.numElements();
        long[] $sig = new long[$k];
        java.util.Arrays.fill($sig, Long.MAX_VALUE);
        for (int $j = 0; $j < $n; $j++) {
          long $x = $c.getLong($j) & ${Mask}L;
          for (int $i = 0; $i < $k; $i++) {
            long $v = ($aRef[$i] * $x + $bRef[$i]) % ${P}L;
            if ($v < $sig[$i]) $sig[$i] = $v;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashAffine {
  val P: Long = 2147483647L     // 2^31 − 1 (Mersenne prime)
  val Mask: Long = 0x3FFFFFFFL  // base hash truncated to 30 bits
  def a(i: Int): Long = (1103515245L * (i + 1)) % P
  def b(i: Int): Long = (12345L * (2 * i + 1)) % P
  /** DuckDB list literals for the oracle twin — single source of truth. */
  def sqlListA(k: Int): String = Array.tabulate(k)(a).mkString("[", ", ", "]")
  def sqlListB(k: Int): String = Array.tabulate(k)(b).mkString("[", ", ", "]")
}

object GraftFunctions {
  /** Column-API surface. */
  def graft_dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def graft_simhash60(hs: Column): Column =
    GraftColumnBridge.column(SimHash60(GraftColumnBridge.expression(hs)))
  def graft_minhash_affine(hs: Column, k: Int): Column =
    GraftColumnBridge.column(MinHashAffine(GraftColumnBridge.expression(hs), k))
  def graft_nfc(s: Column): Column =
    GraftColumnBridge.column(NfcNormalize(GraftColumnBridge.expression(s)))
  def graft_idot(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def graft_dot_scores(m: Column, v: Column): Column =
    GraftColumnBridge.column(DotScores(
      GraftColumnBridge.expression(m), GraftColumnBridge.expression(v)))
  def graft_int8_pack(a: Column): Column =
    GraftColumnBridge.column(Int8Pack(GraftColumnBridge.expression(a)))
  def graft_idot_packed(a: Column, b: Column): Column =
    GraftColumnBridge.column(Int8DotPacked(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def graft_shingle_hashes(text: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(text), n))
  def graft_prefix_explode(hs: Column, threshold: Double): Column =
    GraftColumnBridge.column(ShinglePrefixGen(GraftColumnBridge.expression(hs), threshold))
  def graft_span_hashes(text: Column, w: Int, stride: Int): Column =
    GraftColumnBridge.column(SpanHashGen(GraftColumnBridge.expression(text), w, stride))
  def graft_intersect_count(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def graft_sorted_intersect_count(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def graft_damerau(a: Column, b: Column): Column =
    GraftColumnBridge.column(DamerauLevenshtein(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def graft_jaro_winkler(a: Column, b: Column): Column =
    GraftColumnBridge.column(JaroWinkler(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def graft_token_levenshtein(a: Column, b: Column): Column =
    GraftColumnBridge.column(TokenLevenshtein(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def graft_token_lcs(a: Column, b: Column): Column =
    GraftColumnBridge.column(TokenLcs(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def graft_chargram_clipped(a: Column, b: Column, n: Int): Column =
    GraftColumnBridge.column(CharGramClipped(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b), n))
  def graft_cdc_boundaries(t: Column, w: Int, buckets: Int): Column =
    GraftColumnBridge.column(CdcBoundaries(
      GraftColumnBridge.expression(t), w, buckets))

  /** Every `graft_*` SQL function: its name, the expression class it
    * builds (for DESCRIBE FUNCTION) and the builder. [[GraftExtensions]]
    * injects this list into every session built with it; [[register]]
    * adds it to one existing session.
    */
  private[functions] val sqlFunctions
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], es => DotProduct(es.head, es(1))),
    ("graft_simhash60", classOf[SimHash60], es => SimHash60(es.head)),
    ("graft_minhash_affine", classOf[MinHashAffine],
      es => MinHashAffine(es.head, es(1).eval().asInstanceOf[Int])),
    ("graft_nfc", classOf[NfcNormalize], es => NfcNormalize(es.head)),
    ("graft_idot", classOf[IntDot], es => IntDot(es.head, es(1))),
    ("graft_dot_scores", classOf[DotScores], es => DotScores(es.head, es(1))),
    ("graft_int8_pack", classOf[Int8Pack], es => Int8Pack(es.head)),
    ("graft_idot_packed", classOf[Int8DotPacked],
      es => Int8DotPacked(es.head, es(1))),
    ("graft_shingle_hashes", classOf[ShingleHashes],
      es => ShingleHashes(es.head, es(1).eval().asInstanceOf[Int])),
    ("graft_prefix_explode", classOf[ShinglePrefixGen],
      es => ShinglePrefixGen(es.head,
        numericLiteral(es(1), "graft_prefix_explode threshold"))),
    ("graft_span_hashes", classOf[SpanHashGen],
      es => SpanHashGen(es.head, es(1).eval().asInstanceOf[Int],
        es(2).eval().asInstanceOf[Int])),
    ("graft_intersect_count", classOf[IntersectCount],
      es => IntersectCount(es.head, es(1))),
    ("graft_sorted_intersect_count", classOf[SortedIntersectCount],
      es => SortedIntersectCount(es.head, es(1))))

  /** SQL surface: `SELECT graft_dot(a, b)` after registration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  /** Fold a foldable numeric argument expression to Double (SQL surface
    * passes thresholds as int/decimal/double literals interchangeably).
    */
  private def numericLiteral(e: Expression, what: String): Double =
    e.eval() match {
      case d: java.lang.Double => d.doubleValue()
      case f: java.lang.Float => f.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case i: java.lang.Integer => i.doubleValue()
      case l: java.lang.Long => l.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $other")
    }
}
