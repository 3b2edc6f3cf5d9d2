package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-key streaming EWMA level monitor — the smoothed companion to
  * [[CusumProcessor]]'s drift detector, at the DYADIC smoothing constant
  * α = ½ that keeps the whole recurrence integer-exact:
  *
  *   s ← (s + x) div 2        (floor; s starts at 0)
  *
  * A geometric-memory level estimate with no window buffer: like CUSUM,
  * ONE long of state per entity regardless of event volume. α = ½ is
  * the one smoothing constant where EWMA needs no float and no scale
  * factor — each event's weight halves per subsequent event, and the
  * floor loses < 1 cent per step (both engines floor identically, so
  * the oracle hash-matches bit-exactly).
  *
  * Rows of one micro-batch are applied in (event-time, event_id) order;
  * stream ≡ batch under the same batch-monotone feed contract as every
  * twin (StreamingExtrasSpec pins a mid-key batch split).
  *
  * Input: (key, us, event_id, cents). Output: (key, us, s) for each row
  * whose post-update smoothed level exceeds `h`.
  */
final class EwmaProcessor(h: Long)
    extends KeyedFold[Long, (Long, Long, Long, Long), Long, Long, (Long, Long, Long)](
      "s", Encoders.scalaLong, Ordering.by(r => (r._2, r._3))) {

  protected def load(stored: Option[Long]): Long = stored.getOrElse(0L)
  protected def store(acc: Long): Long = acc

  protected def step(key: Long, acc: Long, row: (Long, Long, Long, Long),
      emit: ((Long, Long, Long)) => Unit): Long = {
    val s = Math.floorDiv(acc + row._4, 2L)
    if (s > h) emit((key, row._2, s))
    s
  }
}
