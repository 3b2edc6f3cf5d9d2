package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd Catalyst expression.
  *
  * Text corpora mix precomposed ("é" U+00E9) and combining ("e"+U+0301)
  * forms of the same glyph; every downstream fingerprint / dedup / shingle
  * hash treats them as different bytes unless normalization runs first, so
  * a curation pipeline applies NFC before anything content-addressed
  * (Dolma and C4 both normalize up front). Spark has no built-in for this
  * (`lower`/`trim` are form-preserving), and a Scala UDF would leave
  * whole-stage codegen — hence the custom-Expression tier, same as
  * [[DotProduct]].
  *
  * Fast path: `Normalizer.isNormalized` is O(n) with no allocation and is
  * true for virtually all real text (all-ASCII text trivially so); only
  * rows that actually need recomposition pay for `normalize`.
  *
  * Oracle twin: DuckDB's `nfc_normalize(text)`.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nfc needs a STRING argument, got ${child.dataType.sql}")
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(s: Any): Any =
    NfcNormalize.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NfcNormalize {
  /** Static entry shared by interpreted eval and generated code. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** Content-defined chunk boundaries as a native codegen'd expression: the
  * hot loop of [[graft.analytics.DedupOps.contentChunkStats]] — for every
  * position i in [w, len], test whether md5 of the trailing w-byte window
  * marks a boundary (first digest byte < `buckets`), and emit the boundary
  * END positions (1-based, matching SQL `substring` indexing) as an
  * ARRAY<INT>.
  *
  * Semantics contract: on ASCII text this is EXACTLY
  * `filter(sequence(w, len), i -> substring(md5(substring(t, i-w+1, w)), 1, 2) < hex(buckets))`
  * — the first two hex chars of an md5 are the hex of its first byte, and
  * fixed-width lowercase hex ordering is numeric ordering (pinned in
  * StringExprsSpec against the composed form). On non-ASCII input the
  * native kernel windows BYTES where the composed form windows
  * CHARACTERS — the same documented ASCII assumption as the frame-
  * sampling oracle. The win over the composed form is ~5×: one compiled
  * pass per row, a thread-local MessageDigest, and no per-position
  * UTF8String/hex-string allocations (higher-order-function lambdas also
  * evaluate interpreted, which is what made the composed form the
  * suite's slowest query).
  */
case class CdcBoundaries(child: Expression, w: Int, buckets: Int)
    extends UnaryExpression {
  require(w >= 1 && buckets >= 1 && buckets <= 255,
    s"need w >= 1 and 1 <= buckets <= 255, got w=$w buckets=$buckets")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_cdc_boundaries"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_cdc_boundaries needs a STRING argument, got ${child.dataType.sql}")

  override def nullSafeEval(s: Any): Any =
    CdcBoundaries.boundaries(s.asInstanceOf[UTF8String], w, buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CdcBoundaries.boundaries($c, $w, $buckets)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CdcBoundaries {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static entry shared by interpreted eval and generated code. */
  def boundaries(s: UTF8String, w: Int, buckets: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = s.getBytes
    val n = b.length
    val out = new scala.collection.mutable.ArrayBuffer[Int]
    if (n >= w) {
      val digest = md.get()
      var i = w
      while (i <= n) {
        digest.reset()
        digest.update(b, i - w, w)
        if ((digest.digest()(0) & 0xFF) < buckets) out += i
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.toArray)
  }
}

/** Unrestricted Damerau–Levenshtein distance (Lowrance & Wagner 1975) as a
  * native codegen'd Catalyst expression — edit distance where an adjacent
  * transposition costs 1 instead of levenshtein's 2, the metric the record-
  * linkage literature prefers for human-typed keys (~80% of typos are
  * single insert/delete/substitute/TRANSPOSE; Damerau 1964). Spark ships
  * only `levenshtein`; a Scala UDF would leave whole-stage codegen and box
  * both strings per pair inside the blocking join's verify step — hence
  * the custom-Expression tier, same rationale as [[NfcNormalize]].
  *
  * This is the FULL (unrestricted) variant with the last-occurrence
  * alphabet table, not the restricted OSA recurrence: DL("CA","ABC") = 2
  * (CA → AC → ABC), where OSA gives 3 — pinned in StringExprsSpec because
  * the two are routinely confused. Matches DuckDB's `damerau_levenshtein`
  * (verified on the discriminating cases), which is the oracle twin.
  *
  * Cost: O(|a|·|b|) time and space per pair, computed on code points
  * (supplementary planes count as one edit unit). Intended use is the
  * verify step AFTER blocking — bounded fan-in, short keys — never a
  * corpus cross join.
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_damerau"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_damerau needs two STRING arguments, got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshtein.distance(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.DamerauLevenshtein.distance($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object DamerauLevenshtein {
  private def codePoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val out = new Array[Int](str.codePointCount(0, str.length))
    var i = 0
    var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      out(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** Static entry shared by interpreted eval and generated code. */
  def distance(a: UTF8String, b: UTF8String): Int = {
    val s = codePoints(a)
    val t = codePoints(b)
    val n = s.length
    val m = t.length
    if (n == 0) return m
    if (m == 0) return n
    val inf = n + m
    // (n+2) x (m+2) DP table with the Lowrance–Wagner "infinite" border,
    // flattened row-major; h(i)(j) = d[(i) * (m + 2) + (j)]
    val w = m + 2
    val d = new Array[Int]((n + 2) * w)
    d(0) = inf
    var i = 0
    while (i <= n) { d((i + 1) * w) = inf; d((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= m) { d(j + 1) = inf; d(w + j + 1) = j; j += 1 }
    // last row index (1-based) where each code point occurred in `s`
    val last = new java.util.HashMap[Integer, Integer]()
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val k = { val v = last.get(Integer.valueOf(t(j - 1))); if (v == null) 0 else v.intValue() }
        val l = db
        val cost = if (s(i - 1) == t(j - 1)) { db = j; 0 } else 1
        var best = d(i * w + j) + cost                     // substitute / match
        val ins = d((i + 1) * w + j) + 1                   // insert into s
        if (ins < best) best = ins
        val del = d(i * w + j + 1) + 1                     // delete from s
        if (del < best) best = del
        val tr = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1) // transpose block
        if (tr < best) best = tr
        d((i + 1) * w + j + 1) = best
        j += 1
      }
      last.put(Integer.valueOf(s(i - 1)), Integer.valueOf(i))
      i += 1
    }
    d((n + 1) * w + m + 1)
  }
}

/** Token-level Levenshtein distance on two STRING ARRAYS as a native
  * codegen'd Catalyst expression — the word-error-rate (WER) kernel:
  * insertions/deletions/substitutions counted over whole tokens, not
  * characters. Spark's built-in `levenshtein` is character-only, and no
  * fixed-width character re-encoding of tokens preserves unit edit cost
  * (a 2-char token code makes one substitution cost 1–2 edits depending
  * on shared halves), so the array-level distance needs its own
  * expression — the same custom-Expression rationale as
  * [[DamerauLevenshtein]].
  *
  * Oracle twin: DuckDB `levenshtein` over a per-pair token→SINGLE-BYTE
  * remap (each distinct token mapped to one printable-ASCII char).
  * DuckDB's levenshtein counts BYTES, not code points — measured:
  * chr(4000) vs 'ab' scores 3 — so the remap must stay single-byte,
  * and the oracle enforces its vocabulary budget with a loud guard
  * (see qml_wer in EvalOps). Equal to token-level distance by
  * construction inside that budget.
  *
  * Cost: O(|a|·|b|) time, O(min) space (two-row DP over interned token
  * ids — equality checks are int compares after one hash pass). Intended
  * for bounded candidate/reference pairs, never a corpus cross join.
  */
case class TokenLevenshtein(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_token_levenshtein"
  private def ok(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ArrayType(StringType, _) => true
    case _ => false
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_token_levenshtein needs two ARRAY<STRING> arguments, got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def nullSafeEval(a: Any, b: Any): Any =
    TokenLevenshtein.distance(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TokenLevenshtein.distance($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object TokenLevenshtein {
  /** Intern both token arrays against one shared map so equality becomes
    * an int compare; nulls inside the arrays intern like a distinct
    * sentinel token (id −1 ≠ every real id, and ≠ itself is NOT wanted —
    * two nulls are the SAME token, so they get one shared id).
    */
  private[functions] def internPair(a: ArrayData, b: ArrayData)
      : (Array[Int], Array[Int]) = {
    val map = new java.util.HashMap[UTF8String, Integer]()
    var nullId = -1
    def code(arr: ArrayData): Array[Int] = {
      val out = new Array[Int](arr.numElements())
      var i = 0
      while (i < out.length) {
        if (arr.isNullAt(i)) {
          if (nullId < 0) { nullId = map.size() + 1000000000 }
          out(i) = nullId
        } else {
          val s = arr.getUTF8String(i)
          var id = map.get(s)
          if (id == null) { id = Integer.valueOf(map.size()); map.put(s.clone(), id) }
          out(i) = id.intValue()
        }
        i += 1
      }
      out
    }
    (code(a), code(b))
  }

  /** Static entry shared by interpreted eval and generated code. */
  def distance(a: ArrayData, b: ArrayData): Int = {
    val (s, t) = internPair(a, b)
    val n = s.length
    val m = t.length
    if (n == 0) return m
    if (m == 0) return n
    // two-row DP; prev(j) = d[i-1][j], cur(j) = d[i][j]
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      j = 1
      while (j <= m) {
        val cost = if (s(i - 1) == t(j - 1)) 0 else 1
        var best = prev(j - 1) + cost
        val ins = cur(j - 1) + 1
        if (ins < best) best = ins
        val del = prev(j) + 1
        if (del < best) best = del
        cur(j) = best
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    prev(m)
  }
}

/** Token-level LONGEST COMMON SUBSEQUENCE length as a native codegen'd
  * Catalyst expression — the kernel under ROUGE-L (Lin, ACL 2004 wksp
  * §3.1: the LCS-based variant that credits in-order matches without
  * requiring them contiguous, where ROUGE-N credits only exact n-gram
  * hits). Same interning discipline as [[TokenLevenshtein]] (one shared
  * hash pass, then int-compare DP) and the same custom-Expression
  * rationale: no Spark builtin computes sequence LCS, and a Scala UDF
  * would box both token arrays per pair.
  *
  * Cost: O(|a|·|b|) time, O(min-side) space via the two-row max DP.
  * Intended for bounded candidate/reference pairs, never a corpus
  * cross join.
  */
case class TokenLcs(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_token_lcs"
  private def ok(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ArrayType(StringType, _) => true
    case _ => false
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_token_lcs needs two ARRAY<STRING> arguments, got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def nullSafeEval(a: Any, b: Any): Any =
    TokenLcs.lcs(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TokenLcs.lcs($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object TokenLcs {
  /** Static entry shared by interpreted eval and generated code. Interns
    * through [[TokenLevenshtein]]'s shared-map discipline (two nulls are
    * the same token).
    */
  def lcs(a: ArrayData, b: ArrayData): Int = {
    val (s0, t0) = TokenLevenshtein.internPair(a, b)
    // LCS is symmetric — keep the DP rows on the SHORTER side so the
    // O(min-side) space claim holds whichever argument is longer
    val (s, t) = if (t0.length <= s0.length) (s0, t0) else (t0, s0)
    val n = s.length
    val m = t.length
    if (n == 0 || m == 0) return 0
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      var j = 1
      while (j <= m) {
        cur(j) =
          if (s(i - 1) == t(j - 1)) prev(j - 1) + 1
          else if (prev(j) >= cur(j - 1)) prev(j)
          else cur(j - 1)
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    prev(m)
  }
}

/** Jaro–Winkler similarity as a native codegen'd Catalyst expression —
  * the record-linkage community's standard name-comparison score (Jaro
  * 1989; Winkler 1990: a common-prefix boost because human-keyed names
  * corrupt the tail far more often than the head). Spark ships no Jaro
  * variant at all; a Scala UDF would box both strings per blocked pair
  * inside the match verify step — the same custom-Expression rationale
  * as [[DamerauLevenshtein]].
  *
  * Semantics are pinned BIT-EXACTLY to DuckDB's
  * `jaro_winkler_similarity` (the oracle twin), verified on 30k random
  * pairs: either side empty → 0.0 (even both-empty, unlike some
  * references); match window ⌊max(l₁,l₂)/2⌋−1 with greedy first-free
  * matching; transpositions = ⌊mismatched aligned pairs / 2⌋;
  * jaro = (m/l₁ + m/l₂ + (m−t)/m) / 3 evaluated in exactly that
  * left-to-right IEEE order; prefix boost `sim + ℓ·0.1·(1−sim)` with
  * ℓ ≤ 4 applied only when jaro > 0.7. Every step is a correctly-
  * rounded IEEE-754 operation on integer-derived doubles, so equal
  * inputs give bit-identical doubles in both engines — no rounding
  * column needed for the hash gate.
  *
  * Cost: O(|a|·|b|) worst case on code points, O(window) typical.
  * Intended AFTER blocking (bounded fan-in, short keys), never a
  * corpus cross join.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_jaro_winkler"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_jaro_winkler needs two STRING arguments, got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.similarity(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.JaroWinkler.similarity($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

object JaroWinkler {
  private def codePoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val out = new Array[Int](str.codePointCount(0, str.length))
    var i = 0
    var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      out(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** Static entry shared by interpreted eval and generated code. */
  def similarity(a: UTF8String, b: UTF8String): Double = {
    val s = codePoints(a)
    val t = codePoints(b)
    val l1 = s.length
    val l2 = t.length
    if (l1 == 0 || l2 == 0) return 0.0
    var window = (if (l1 > l2) l1 else l2) / 2 - 1
    if (window < 0) window = 0
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = if (i - window > 0) i - window else 0
      val hi = if (i + window + 1 < l2) i + window + 1 else l2
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!m2(j) && s(i) == t(j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var trans = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s(i) != t(k)) trans += 1
        k += 1
      }
      i += 1
    }
    trans /= 2
    var sim = (m / l1.toDouble + m / l2.toDouble + (m - trans) / m.toDouble) / 3.0
    if (sim > 0.7) {
      var l = 0
      val lim = { val x = if (l1 < l2) l1 else l2; if (x < 4) x else 4 }
      while (l < lim && s(l) == t(l)) l += 1
      sim += l * 0.1 * (1.0 - sim)
    }
    sim
  }
}
