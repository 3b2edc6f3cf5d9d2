package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-entity latest-wins row maintainer backing
  * [[graft.analytics.CdcOps.mergeStream]] — the streaming half of the
  * changelog MERGE: state is the (ts, tie) stamp of each entity's current
  * row, and an input row is emitted (and the stamp advanced) only when it
  * is NEWER than the state — out-of-order stale updates are suppressed,
  * which is exactly what makes the emitted stream's per-key last row agree
  * with the batch [[graft.analytics.CdcOps.changelogState]] no matter how
  * the log was chopped into batches (StreamingExtrasSpec pins it).
  * Tombstones ('delete') flow through like any change (downstream state
  * stores need to see them); the batch-equivalence reduction drops keys
  * whose final emitted op is a delete, mirroring the batch filter.
  *
  * State is 16 bytes per entity regardless of row width — the row itself
  * rides on the output, not in state.
  *
  * Input: (entity, etype, value, ts_us, tie, op).
  * Output: (entity, etype, value, ts_us, op).
  */
final class MergeStateProcessor
    extends KeyedFold[Long, (Long, String, Double, Long, Long, String), (Long, Long),
      Option[(Long, Long)], (Long, String, Double, Long, String)](
      "stamp", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      Ordering.by(r => (r._4, r._5))) {

  // a new key's first row is always newer, so the fold always ends stamped
  protected def load(stored: Option[(Long, Long)]): Option[(Long, Long)] = stored
  protected def store(acc: Option[(Long, Long)]): (Long, Long) = acc.get

  protected def step(key: Long, acc: Option[(Long, Long)],
      row: (Long, String, Double, Long, Long, String),
      emit: ((Long, String, Double, Long, String)) => Unit): Option[(Long, Long)] = {
    val (_, et, v, ts, tie, op) = row
    if (acc.forall(c => c._1 < ts || (c._1 == ts && c._2 < tie))) {
      emit((key, et, v, ts, op))
      Some((ts, tie))
    } else acc
  }
}
