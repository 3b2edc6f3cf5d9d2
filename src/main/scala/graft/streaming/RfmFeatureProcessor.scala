package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-user RFM feature maintainer — the streaming half of
  * [[graft.analytics.EventsQueries]]'s qe_rfm segmentation: state is the
  * user's live (last-event-micros, event count, value cents) triple,
  * each input row folds max/+1/+cents, and the updated triple is
  * emitted after every batch that touches the user. The last emitted
  * row per user is IDENTICAL to the batch per-user feature frame over
  * everything seen so far, however the stream is chopped into
  * micro-batches (max and + are associative/commutative —
  * StreamingExtrasSpec pins the equivalence). Quintile SCORING stays a
  * batch/periodic step over the emitted feature frame: NTILE is a
  * global-ordering readout, meaningless per-increment.
  *
  * State is 24 bytes per live user, exact integer units, cross-run
  * deterministic. Input: (user, tsMicros, cents). Output:
  * (user, lastMicros, f, m).
  */
final class RfmFeatureProcessor
    extends KeyedFold[Long, (Long, Long, Long), (Long, Long, Long), (Long, Long, Long),
      (Long, Long, Long, Long)](
      "rfm", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
      KeyedFold.arrival) {

  protected def load(stored: Option[(Long, Long, Long)]): (Long, Long, Long) =
    stored.getOrElse((Long.MinValue, 0L, 0L))
  protected def store(acc: (Long, Long, Long)): (Long, Long, Long) = acc

  protected def step(key: Long, acc: (Long, Long, Long), row: (Long, Long, Long),
      emit: ((Long, Long, Long, Long)) => Unit): (Long, Long, Long) =
    (math.max(acc._1, row._2), acc._2 + 1, acc._3 + row._3)

  override protected def finish(key: Long, acc: (Long, Long, Long)): Iterator[(Long, Long, Long, Long)] =
    Iterator.single((key, acc._1, acc._2, acc._3))
}
