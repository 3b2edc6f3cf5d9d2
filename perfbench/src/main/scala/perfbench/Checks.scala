package perfbench

/** Output checks. Each returns the operations it found wrong; a run adds
  * them to `failed` and never drops them.
  */
object Checks {

  /** Reply bookkeeping for one set of requests: each sent id must get
    * exactly one reply, and that reply must be the expected kind.
    */
  final case class ReplyCheck(missing: Seq[String], duplicated: Seq[String],
      wrong: Seq[String], unexpected: Seq[String]) {
    def failed: Int = missing.size + duplicated.size + wrong.size + unexpected.size
  }

  /** `got` holds (request id, reply was as expected) in arrival order. */
  def replies(sent: collection.Set[String], got: Seq[(String, Boolean)]): ReplyCheck = {
    val byId = got.groupBy(_._1)
    ReplyCheck(
      missing = sent.iterator.filterNot(byId.contains).toVector.sorted,
      duplicated = byId.collect { case (id, rs) if rs.size > 1 && sent(id) => id }.toVector.sorted,
      wrong = byId.collect { case (id, rs) if sent(id) && rs.exists(!_._2) => id }.toVector.sorted,
      unexpected = byId.keys.filterNot(sent).toVector.sorted)
  }

  /** Entities whose observed counter differs from the expected one; an
    * entity missing on either side counts as different.
    */
  def counters(expected: collection.Map[String, Long],
      observed: collection.Map[String, Long]): Seq[String] =
    (expected.keySet ++ observed.keySet).toVector.sorted
      .filter(k => expected.get(k) != observed.get(k))

  /** Expected per-entity counters after a set of chains: one +1 per hop. */
  def hopCounts(chains: Iterable[Seq[String]]): Map[String, Long] =
    chains.iterator.flatten.toVector.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  /** Order-insensitive digest of a result: the row count and the wrapping
    * sum of a hash of each row's canonical text, doubles rounded to
    * `digits` significant digits so summation order cannot move it.
    */
  def digest(rows: Iterator[Any], digits: Int = 6): (Long, Long) = {
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      n += 1
      sum += scala.util.hashing.MurmurHash3.stringHash(canonical(r, digits)).toLong * 0x9E3779B97F4A7C15L
    }
    (n, sum)
  }

  def canonical(v: Any, digits: Int): String = v match {
    case null => "null"
    case d: Double => roundSig(d, digits)
    case f: Float => roundSig(f.toDouble, digits)
    case r: org.apache.spark.sql.Row => r.toSeq.map(canonical(_, digits)).mkString("(", ",", ")")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k, digits) + "->" + canonical(x, digits) }.sorted.mkString("{", ",", "}")
    case xs: collection.Seq[_] => xs.map(canonical(_, digits)).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def roundSig(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(digits)).stripTrailingZeros.toString
}
