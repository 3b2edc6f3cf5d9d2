package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-key streaming token-bucket admission audit — the third
  * constant-state monitor next to [[CusumProcessor]] (drift) and
  * [[EwmaProcessor]] (level): a bucket of capacity `cap` refills at
  * `rate` units per second of EVENT time and each event spends its cost;
  * an event whose cost exceeds the available tokens is REJECTED (tokens
  * unchanged — the standard strict-bucket policy). All integer: refill =
  * rate · ⌊Δus / 10⁶⌋.
  *
  * State is TWO longs per entity — (tokens, last event-time µs) —
  * regardless of event volume. Rows of one micro-batch are applied in
  * (event-time, event_id) order; stream ≡ batch under the
  * batch-monotone feed contract every twin documents.
  *
  * Input: (key, us, event_id, cost). Output: (key, us, cost, avail) for
  * each REJECTED row, where avail is the post-refill balance the event
  * saw — identical row set to the batch fold.
  */
final class RateLimitProcessor(cap: Long, rate: Long)
    extends KeyedFold[Long, (Long, Long, Long, Long), (Long, Long), (Long, Long), (Long, Long, Long, Long)](
      "s", Encoders.product[(Long, Long)], Ordering.by(r => (r._2, r._3))) {

  // (tokens, last event-time µs); tokens -1 = no prior event
  protected def load(stored: Option[(Long, Long)]): (Long, Long) = stored.getOrElse((-1L, 0L))
  protected def store(acc: (Long, Long)): (Long, Long) = acc

  protected def step(key: Long, acc: (Long, Long), row: (Long, Long, Long, Long),
      emit: ((Long, Long, Long, Long)) => Unit): (Long, Long) = {
    val (tok, lastUs) = acc
    val (_, us, _, cost) = row
    val avail =
      if (tok < 0L) cap
      else math.min(cap, tok + rate * ((us - lastUs) / 1000000L))
    if (avail >= cost) (avail - cost, us)
    else { emit((key, us, cost, avail)); (avail, us) }
  }
}
