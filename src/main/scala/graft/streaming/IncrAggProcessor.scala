package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-key running COUNT/SUM maintainer backing
  * [[graft.analytics.CdcOps.incrementalAggStream]] — the streaming half
  * of the materialized-view delta rule: state is the key's live
  * (count, sum) pair, each input applies its signed delta (insert →
  * +1/+v, delete → −1/−v), and the updated pair is emitted after every
  * batch that touches the key. The last emitted row per key — dropping
  * keys whose live count is ≤ 0 — is IDENTICAL to the batch
  * [[graft.analytics.CdcOps.incrementalAgg]] over everything seen so
  * far, however the changelog is chopped into micro-batches
  * (StreamingExtrasSpec pins it): integer addition is associative and
  * commutative, so batching cannot change the total.
  *
  * Values are exact integer units (cents — the caller scales), never
  * floats: state is 16 bytes per key and cross-run deterministic.
  *
  * Input: (key, dCnt, dUnits). Output: (key, cnt, units).
  */
final class IncrAggProcessor
    extends KeyedFold[Long, (Long, Long, Long), (Long, Long), (Long, Long), (Long, Long, Long)](
      "agg", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), KeyedFold.arrival) {

  protected def load(stored: Option[(Long, Long)]): (Long, Long) = stored.getOrElse((0L, 0L))
  protected def store(acc: (Long, Long)): (Long, Long) = acc

  protected def step(key: Long, acc: (Long, Long), row: (Long, Long, Long),
      emit: ((Long, Long, Long)) => Unit): (Long, Long) =
    (acc._1 + row._2, acc._2 + row._3)

  override protected def finish(key: Long, acc: (Long, Long)): Iterator[(Long, Long, Long)] =
    Iterator.single((key, acc._1, acc._2))
}
