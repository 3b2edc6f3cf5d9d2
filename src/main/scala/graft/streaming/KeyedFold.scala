package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The one keyed-state loop of the streaming plane: the stateful invoke
  * ([[StateflowPipeline.StatefulInvokeProcessor]]) and every single-
  * `ValueState` streaming twin are instances of it. Per key and
  * micro-batch the contract is fixed:
  *
  *  1. read the key's `ValueState` once (`load`, `None` for a new key);
  *  2. sort the key's batch slice by `order` — the rows' FIFO or
  *     event-time order, restored after the groupByKey shuffle;
  *  3. pass the fold value through `step` row by row; a step may emit;
  *  4. write the state back once (`store`);
  *  5. emit `finish` for the key.
  *
  * A row for which `passThrough` answers is emitted as it is and is not
  * folded; a key whose slice holds only such rows never reads or writes
  * its state (steps 1, 4 and 5 are skipped).
  *
  * `S` is the stored state and `A` the value carried between rows — the
  * deserialized sketch for the byte-array states, `S` itself otherwise.
  * The state's name, encoder and TTL are constructor arguments, so a
  * fold keeps the checkpoint layout of the processor it replaced.
  */
abstract class KeyedFold[K, I, S, A, O](stateName: String, stateEncoder: Encoder[S],
    order: Ordering[I], stateTtl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[K, I, O] {

  @transient private var state: ValueState[S] = _

  protected def load(stored: Option[S]): A
  protected def step(key: K, acc: A, row: I, emit: O => Unit): A
  protected def store(acc: A): S
  protected def finish(key: K, acc: A): Iterator[O] = Iterator.empty
  protected def passThrough(row: I): Option[O] = None

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](stateName, stateEncoder, stateTtl)

  final override def handleInputRows(key: K, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] = {
    val out = Vector.newBuilder[O]
    val emit = (o: O) => { out += o; () }
    val folded = rows.filter(passThrough(_).map(emit).isEmpty)
    // a stable sort under the all-equal arrival order is the identity
    val slice = if (order eq KeyedFold.Arrival) folded else folded.toVector.sorted(order).iterator
    if (slice.hasNext) {
      var acc = load(if (state.exists()) Some(state.get()) else None)
      slice.foreach(r => acc = step(key, acc, r, emit))
      state.update(store(acc))
      out ++= finish(key, acc)
    }
    out.result().iterator
  }

  /** `rows` grouped by `key` through this fold, for `Dataset.transform`. */
  def byKey(key: I => K)(implicit keyEnc: Encoder[K], outEnc: Encoder[O]): Dataset[I] => Dataset[O] =
    _.groupByKey(key).transformWithState(this, KeyedFold.timeMode(stateTtl), OutputMode.Append())
}

object KeyedFold {
  private object Arrival extends Ordering[Any] {
    def compare(x: Any, y: Any): Int = 0
  }

  /** Keeps a key's batch slice in arrival order: every row compares equal. */
  def arrival[I]: Ordering[I] = Arrival.asInstanceOf[Ordering[I]]

  /** The clock a state with `ttl` needs: a TTL'd state expires on
    * processing time; without a TTL the operator is time-agnostic.
    */
  def timeMode(ttl: TTLConfig): TimeMode =
    if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
}
