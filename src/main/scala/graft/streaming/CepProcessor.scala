package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.TTLConfig

/** Per-user pattern-matching DFA backing
  * [[graft.analytics.EventsQueries.cepStream]] — the complex-event-
  * processing stage machine for chain patterns `s1+ s2+ ... s(n-1)+ sn`
  * over an entity's event stream (the canonical Flink-CEP shape, run
  * here on `transformWithState`; the reference's runtime is the Flink
  * family this library mirrors).
  *
  * Key = entity id; state = (p, count) where `p` is the highest pattern
  * stage whose run is currently open (0 = no active partial match) and
  * `count` is the cumulative number of completed matches. Transitions on
  * an event of stage `q` (1-based; -1 = not a pattern stage):
  *  - q == 1        → p' = 1 (start or extend a stage-1 run)
  *  - q == p        → p' = p (absorb a repeat of the open stage)
  *  - q == p + 1    → accept if q is the final stage (count++, p' = 0),
  *                    else p' = q
  *  - anything else → p' = 0 (strict contiguity; the run is broken)
  * For chain patterns with distinct stage symbols this DFA emits exactly
  * the leftmost non-overlapping match count of the equivalent regex —
  * the batch operator's `regexp_count` — pinned in StreamingExtrasSpec
  * with a match split across micro-batches.
  *
  * Rows are processed in (ts, event_id) order within a batch (the same
  * in-batch FIFO restore as the stateflow pipeline); cross-batch order
  * is the source's append order, as with every streaming twin. State is
  * two ints per entity — O(users), TTL-boundable.
  *
  * Input: (user, tsMicros, eventId, stage). Output: (user, count) after
  * each batch touching the user.
  */
final class CepProcessor(finalStage: Int, stateTtl: TTLConfig = TTLConfig.NONE)
    extends KeyedFold[Long, (Long, Long, Long, Int), (Int, Long), (Int, Long), (Long, Long)](
      "cep", Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong),
      Ordering.by(r => (r._2, r._3)), stateTtl) {

  protected def load(stored: Option[(Int, Long)]): (Int, Long) = stored.getOrElse((0, 0L))
  protected def store(acc: (Int, Long)): (Int, Long) = acc

  protected def step(key: Long, acc: (Int, Long), row: (Long, Long, Long, Int),
      emit: ((Long, Long)) => Unit): (Int, Long) =
    CepDfa.step(finalStage, acc, row._4)

  override protected def finish(key: Long, acc: (Int, Long)): Iterator[(Long, Long)] =
    Iterator.single((key, acc._2))
}

/** The pure transition function of [[CepProcessor]], factored out so the
  * DFA ≡ regexp_count equivalence is property-testable without a Spark
  * session (CepDfaSpec runs it against java.util.regex on random event
  * strings).
  */
object CepDfa {
  /** One event: `(p, count)` -> next state. `q` is the event's 1-based
    * pattern stage, or any value < 1 for a non-pattern event.
    */
  def step(finalStage: Int, state: (Int, Long), q: Int): (Int, Long) = {
    val (p, count) = state
    if (q >= 1 && q == p + 1) {          // advance (incl. stage 1 from idle)
      if (q == finalStage) (0, count + 1) else (q, count)
    }
    else if (q == 1) (1, count)          // restart at an opening event
    else if (q == p && p >= 1) (p, count) // absorb a repeat of the open stage
    else (0, count)                      // contiguity broken
  }

  /** Fold a whole event sequence from the empty state. */
  def count(finalStage: Int, stages: Iterator[Int]): Long =
    stages.foldLeft((0, 0L))((s, q) => step(finalStage, s, q))._2
}
