package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-entity attribute change detector backing
  * [[graft.analytics.CdcOps.scd2Stream]] — the streaming half of the SCD2
  * build: state is ONE value per entity (the last seen attribute), and a
  * row is emitted only when the attribute differs from it, i.e. the LAG
  * collapse of the batch [[graft.analytics.CdcOps.scd2]] evaluated
  * incrementally. Validity-interval closing stays a batch/query-time
  * concern (it needs the NEXT change); the emitted change stream is
  * exactly the batch collapse's row set, which the spec pins.
  *
  * Input rows must arrive per-key in (ts, tie) order ACROSS batches (the
  * usual CDC-source contract); within a batch they are sorted before the
  * scan, so intra-batch disorder is fine.
  *
  * Input: (entity, attr, ts_us, tie). Output: (entity, attr, from_us).
  */
final class Scd2ChangeProcessor
    extends KeyedFold[Long, (Long, String, Long, Long), String, Option[String], (Long, String, Long)](
      "lastAttr", Encoders.STRING, Ordering.by(r => (r._3, r._4))) {

  // a batch slice is never empty, so the fold always ends with an attribute
  protected def load(stored: Option[String]): Option[String] = stored
  protected def store(acc: Option[String]): String = acc.get

  protected def step(key: Long, acc: Option[String], row: (Long, String, Long, Long),
      emit: ((Long, String, Long)) => Unit): Option[String] =
    if (acc.contains(row._2)) acc
    else { emit((key, row._2, row._3)); Some(row._2) }
}
