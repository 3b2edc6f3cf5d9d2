package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-key streaming Holt double-exponential (level + trend) monitor —
  * the trend-aware companion to [[EwmaProcessor]]'s level-only smoother,
  * at the DYADIC smoothing pair α = β = ½ that keeps both recurrences
  * integer-exact:
  *
  *   l' ← (x + l + b) >> 1            (level: ½x + ½(l + b))
  *   b' ← ((l' − l) + b) >> 1         (trend: ½Δlevel + ½b)
  *
  * Arithmetic right-shift, NOT integer division: the trend term is
  * signed, and `div` truncates toward zero on negatives while `>> 1`
  * floors — the JVM and DuckDB agree on two's-complement `>> 1`, so
  * stream, batch fold, and oracle are bit-identical. Initialization is
  * the standard l₁ = x₁, b₁ = 0 on each key's first-ever event.
  *
  * TWO longs of state per entity regardless of event volume. Rows of one
  * micro-batch are applied in (event-time, event_id) order; stream ≡
  * batch under the same batch-monotone feed contract as every twin.
  *
  * Input: (key, us, event_id, cents). Output: (key, us, level, trend,
  * forecast = level + trend) for every row.
  */
final class HoltProcessor
    extends KeyedFold[Long, (Long, Long, Long, Long), (Long, Long), Option[(Long, Long)],
      (Long, Long, Long, Long, Long)](
      "lb", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      Ordering.by(r => (r._2, r._3))) {

  // None until the key's first event seeds (l, b) = (x, 0); a batch
  // slice is never empty, so the fold always ends seeded
  protected def load(stored: Option[(Long, Long)]): Option[(Long, Long)] = stored
  protected def store(acc: Option[(Long, Long)]): (Long, Long) = acc.get

  protected def step(key: Long, acc: Option[(Long, Long)], row: (Long, Long, Long, Long),
      emit: ((Long, Long, Long, Long, Long)) => Unit): Option[(Long, Long)] = {
    val cents = row._4
    val (l, b) = acc match {
      case None => (cents, 0L)
      case Some((l0, b0)) =>
        val l1 = (cents + l0 + b0) >> 1
        (l1, ((l1 - l0) + b0) >> 1)
    }
    emit((key, row._2, l, b, l + b))
    Some((l, b))
  }
}
