package graft.streaming

import org.apache.spark.sql.Encoders

/** Running OHLC bar state, keyed by the (series, bucket) composite the
  * caller encodes into the grouping key: open/close carry their
  * (us, event_id) coordinates so the min/max-by-arrival-order semantics
  * match the batch struct-ordering aggregation EXACTLY however the rows
  * are split into micro-batches — open only moves if an earlier-ordered
  * row arrives, close only if a later-ordered one does (late data
  * included, same as batch).
  */
final case class OhlcState(n: Long, oUs: Long, oId: Long, oCents: Long,
    high: Long, low: Long, cUs: Long, cId: Long, cCents: Long)

/** Input: (key, us, event_id, cents). Output after each batch touching
  * the key: (key, n, open_cents, high_cents, low_cents, close_cents).
  */
final class OhlcProcessor
    extends KeyedFold[String, (String, Long, Long, Long), OhlcState, OhlcState,
      (String, Long, Long, Long, Long, Long)](
      "ohlc", Encoders.product[OhlcState], KeyedFold.arrival) {

  // null until the key's first row opens the bar
  protected def load(stored: Option[OhlcState]): OhlcState = stored.orNull
  protected def store(acc: OhlcState): OhlcState = acc

  protected def step(key: String, s: OhlcState, row: (String, Long, Long, Long),
      emit: ((String, Long, Long, Long, Long, Long)) => Unit): OhlcState = {
    val (_, us, id, cents) = row
    if (s == null) OhlcState(1L, us, id, cents, cents, cents, us, id, cents)
    else {
      val open =
        if (us < s.oUs || (us == s.oUs && id < s.oId)) (us, id, cents)
        else (s.oUs, s.oId, s.oCents)
      val close =
        if (us > s.cUs || (us == s.cUs && id > s.cId)) (us, id, cents)
        else (s.cUs, s.cId, s.cCents)
      OhlcState(s.n + 1, open._1, open._2, open._3,
        math.max(s.high, cents), math.min(s.low, cents),
        close._1, close._2, close._3)
    }
  }

  override protected def finish(key: String,
      s: OhlcState): Iterator[(String, Long, Long, Long, Long, Long)] =
    Iterator.single((key, s.n, s.oCents, s.high, s.low, s.cCents))
}
