package graft.streaming

import org.apache.spark.sql.Encoders

/** Per-key streaming CUSUM drift monitor — the `transformWithState` twin
  * the batch qe_cusum_alerts scaladoc promises: the clamped recurrence
  * s ← max(0, s + x − k) is the one sequence pattern the declarative
  * surface cannot express, and in the streaming plane it is the
  * canonical CONSTANT-STATE monitor: ONE long of state per entity
  * regardless of event volume (the dual of the MG/HLL sketch twins'
  * constant-bytes-per-window story).
  *
  * Rows of one micro-batch are applied in (event-time, event_id) order
  * — the handler sorts its batch slice, so stream ≡ batch holds
  * whenever the FEED delivers each key's rows batch-monotonically (a
  * single-partition source split at any boundaries, the
  * StreamingExtrasSpec harness); arrivals straddling batches out of
  * order are the at-least-once replay caveat every twin documents.
  *
  * Input: (key, us, event_id, cents). Output: (key, us, s) for each
  * row whose post-update statistic exceeds `h` — identical row set to
  * the batch fold.
  */
final class CusumProcessor(k: Long, h: Long)
    extends KeyedFold[Long, (Long, Long, Long, Long), Long, Long, (Long, Long, Long)](
      "s", Encoders.scalaLong, Ordering.by(r => (r._2, r._3))) {

  protected def load(stored: Option[Long]): Long = stored.getOrElse(0L)
  protected def store(acc: Long): Long = acc

  protected def step(key: Long, acc: Long, row: (Long, Long, Long, Long),
      emit: ((Long, Long, Long)) => Unit): Long = {
    val s = math.max(0L, acc + row._4 - k)
    if (s > h) emit((key, row._2, s))
    s
  }
}
