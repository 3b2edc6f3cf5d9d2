package graft.streaming

import java.util.concurrent.TimeUnit

import scala.concurrent.duration._

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import graft.exec.FunctionExecutor
import graft.model._
import graft.routing.Routing

/** The dataflow topology of the reference job
  * (StateFlowFlinkJob.java:27-150), re-expressed as one linear streaming
  * transformation from wire events (`Dataset[Array[Byte]]`, protobuf
  * `Event`s as on the Kafka topics) to `Dataset[WireRoute]`:
  *
  * {{{
  * events → mapPartitions, per source partition:
  *            decode, Routing.ingress
  *              Pong, flow RETURN, unlisted op → egress-routed at ingress
  *              "<op>-create" → stateless invoke (bounded-concurrency
  *                window, mirrors AsyncDataStream at
  *                StateFlowFlinkJob.java:86-87) → rekey (…:88-95),
  *                or egress-routed if the create failed
  *            stamp the arrival sequence
  *        → groupByKey(routeName, key)
  *        → per-key ValueState invoke (InvokeStatefulLambda.java) on the
  *          INTERNAL rows; every other row passes through untouched
  *        → egress-routed replies → Dataset[WireRoute]
  * }}}
  *
  * The plan scans its source once: one task per source partition routes
  * every event and one shuffle feeds the keyed operator, as the
  * reference's side outputs meet again in one union before its `keyBy`.
  * Every row between operators is a flat [[WireRoute]] whose event stays
  * in its protobuf bytes, as the reference's events cross its loop
  * (KafkaSerializeProto.java); each operator decodes only the events it
  * invokes or routes. The Kafka feedback cycle (topic `internal`,
  * StateFlowFlinkJob.java:143-147) is the sink's job —
  * [[StateflowPipeline.start]] takes it as a per-batch function, which
  * [[graft.streaming.LoopHarness]] (tests) and `KafkaSupport` supply.
  */
object StateflowPipeline {

  /** The create path's window: requests in flight per source partition,
    * and each request's deadline from submission. Constants, as the
    * reference hard-codes its AsyncDataStream capacity (1000) and timeout
    * (2 s) (StateFlowFlinkJob.java:84-87).
    */
  private[streaming] val StatelessConcurrency = 128
  private[streaming] val StatelessTimeout: FiniteDuration = 2.seconds

  /** A route on its way through the keyed operator, with its ingress sequence. */
  final case class Sequenced(direction: Int, routeName: String, key: String,
      event: Array[Byte], seq: Long)

  /** Per-key stateful invoke on Spark 4's transformWithState — the direct
    * analogue of the reference's KeyedProcessFunction with
    * `ValueState<ByteString>` (InvokeStatefulLambda.java:35-116). State is
    * an opaque byte blob, initialized empty on first touch (:75-77) and
    * overwritten wholesale with each executor reply (:109). Each reply
    * leaves egress-routed (EgressRouter.java:32-47).
    *
    * Per-key FIFO: the groupByKey shuffle loses arrival order, so rows
    * carry an ingress sequence (Kafka (partition,offset) analogue) and
    * are re-sorted inside the group — Flink's keyed-order guarantee (the
    * reference relies on it for read-modify-write state). Per key and
    * micro-batch the state is read once, threaded through the sorted
    * invokes and written once.
    *
    * Routes answered before the keyed operator (egress-routed at ingress
    * or by a failed create) pass through as they are: only INTERNAL rows
    * are invoked, so a key that holds none never touches the store.
    */
  final class StatefulInvokeProcessor(executor: FunctionExecutor,
      stateTtl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, Sequenced, WireRoute] {

    @transient private var state: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Array[Byte]]("operatorState", Encoders.BINARY, stateTtl)

    override def handleInputRows(key: String, rows: Iterator[Sequenced],
        timerValues: TimerValues): Iterator[WireRoute] = {
      val (invokes, answered) = rows.toVector.partition(_.direction == RouteDirection.INTERNAL)
      val passed = answered.map(r => WireRoute(r.direction, r.routeName, r.key, r.event))
      if (invokes.isEmpty) passed.iterator
      else {
        var blob = if (state.exists()) state.get() else Array.emptyByteArray
        val replies = invokes.sortBy(_.seq).map { r =>
          val reply = executor.invoke(
            EventRequestReply(ProtoCodec.decodeEvent(r.event), blob, r.routeName))
          blob = reply.state
          egress(reply.event)
        }
        state.update(blob)
        (passed ++ replies).iterator
      }
    }
  }

  /** `route` as a plan row. */
  private def wire(route: Route): WireRoute =
    WireRoute(route.direction, route.routeName, route.key, ProtoCodec.encode(route.eventValue))

  /** Route operator output to the client or back into the loop (R6). */
  private def egress(event: Event): WireRoute = wire(Routing.egress(event))

  /** Ingress routing of one wire event. Routing leaves the event of an
    * INTERNAL route unchanged, so the route keeps the original bytes. The
    * events answered here carry replies — Pong, flow RETURN, and a
    * FailedInvocation for an operator missing from `knownOperators` — so
    * egress sends them to the CLIENT: the INTERNAL rows of the result are
    * exactly those still to invoke.
    *
    * The reference builds one side output per operator from the
    * `--operators` CLI list (StateFlowFlinkJob.java:56-66); an event for
    * an unlisted operator has no output tag and kills the job. With a
    * known-operator set configured, we keep the validation but degrade
    * gracefully: the event short-circuits to the client as a
    * FailedInvocation reply instead of crashing the stream.
    */
  private def ingress(knownOperators: Option[Set[String]])(bytes: Array[Byte]): WireRoute = {
    val event = ProtoCodec.decodeEvent(bytes)
    val route = Routing.ingress(event)
    if (route.direction != RouteDirection.INTERNAL) egress(route.eventValue)
    else if (knownOperators.exists(ops => !ops.contains(route.routeName.stripSuffix("-create"))))
      egress(event.withReply(Reply.FailedInvocation))
    else WireRoute(route.direction, route.routeName, route.key, bytes)
  }

  /** Bounded-concurrency stateless invoke: the reference hides Lambda
    * latency with async unordered I/O, capacity 1000, per-request timeout
    * 2 s (AsyncDataStream.unorderedWait, StateFlowFlinkJob.java:84-87).
    * Spark has no async operator; this is a sliding-window completion loop
    * inside mapPartitions: up to [[StatelessConcurrency]] requests in flight
    * at once, each with its OWN [[StatelessTimeout]] deadline measured from
    * submission, and results emitted as they complete (unordered — matching
    * unorderedWait).
    * One stuck request neither blocks the rest of the window nor inflates
    * anyone else's budget; it times out alone and yields a
    * FailedInvocation reply (the reference's AsyncDataStream would fail the
    * job on timeout — a clean per-request failure reply is the graceful
    * engine-level equivalent).
    */
  private def invokeStateless(executor: FunctionExecutor)(events: Iterator[Event]): Iterator[Event] = {
    val timeoutNs = StatelessTimeout.toNanos
    new Iterator[Event] {
      private val cs =
        new java.util.concurrent.ExecutorCompletionService[Event](StatelessPool.pool)
      // in-flight future → (event, absolute deadline); every deadline is
      // submission + timeout, so insertion order is deadline order
      private val pending =
        new java.util.LinkedHashMap[java.util.concurrent.Future[Event], (Event, Long)]()
      private val ready = scala.collection.mutable.Queue.empty[Event]

      private def refill(): Unit =
        while (pending.size < StatelessConcurrency && events.hasNext) {
          val e = events.next()
          val f = cs.submit(() =>
            executor.invoke(EventRequestReply(e, Array.emptyByteArray, e.funAddress.fullName)).event)
          pending.put(f, (e, System.nanoTime() + timeoutNs))
        }

      private def collectOne(): Unit =
        while (ready.isEmpty && !pending.isEmpty) {
          // the oldest request's deadline bounds how long we may block
          val oldest = pending.entrySet().iterator().next()
          val (oldestEvent, deadline) = oldest.getValue
          val f = cs.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
          if (f != null) {
            val entry = pending.remove(f)
            // null = late completion of an already-timed-out request: drop
            if (entry != null)
              ready += (try f.get() catch {
                case scala.util.control.NonFatal(_) =>
                  entry._1.withReply(Reply.FailedInvocation)
              })
          } else if (System.nanoTime() >= deadline) {
            oldest.getKey.cancel(true)
            pending.remove(oldest.getKey)
            ready += oldestEvent.withReply(Reply.FailedInvocation)
          }
        }

      override def hasNext: Boolean = {
        refill()
        if (ready.isEmpty) collectOne()
        ready.nonEmpty
      }

      override def next(): Event = {
        if (!hasNext) throw new NoSuchElementException("exhausted")
        val e = ready.dequeue()
        refill()
        e
      }
    }
  }

  /** Assemble the full topology. Works on both streaming and batch
    * Datasets; `config` carries the reference's tuning surface.
    */
  def eventsToEgress(events: Dataset[Array[Byte]], executor: FunctionExecutor,
      config: JobConfig = JobConfig()): Dataset[WireRoute] = {
    val spark = events.sparkSession
    import spark.implicits._
    // the state store coordinator, which a batch transformWithState also
    // reports to, is registered by the session's StreamingQueryManager
    spark.streams

    events.mapPartitions { rows =>
      // route names for the create path (StateFlowFlinkJob.java:57-66);
      // the creates wait for the rest of the partition, then go through
      // the window together
      val creates = scala.collection.mutable.ArrayBuffer.empty[Event]
      val direct = rows.map(ingress(config.knownOperators)).filter { r =>
        val create = r.direction == RouteDirection.INTERNAL && r.routeName.endsWith("-create")
        if (create) creates += ProtoCodec.decodeEvent(r.event)
        !create
      }
      // A1 async stateless invoke + A2 rekey; a failed create is a reply
      // for the client, not an entity to invoke
      def created =
        invokeStateless(executor)(creates.iterator)
          .map(e => if (e.reply.contains(Reply.FailedInvocation)) egress(e) else wire(Routing.rekeyCreated(e)))
      // The ingress sequence is attached BEFORE the keyBy shuffle (per
      // source partition, monotonic in arrival order — the (partition,
      // offset) stand-in) so the processor can restore per-key FIFO after
      // the shuffle. monotonically_increasing_id is rejected in streaming
      // plans; this is its exact construction.
      var seq = org.apache.spark.TaskContext.getPartitionId().toLong << 40
      (direct ++ created).map { r => seq += 1; Sequenced(r.direction, r.routeName, r.key, r.event, seq) }
    }
      // K1 keyBy + P1 stateful invoke + R6 egress routing. State is
      // namespaced per OPERATOR × key, like the reference (one
      // InvokeStatefulLambda instance — hence one ValueState namespace —
      // per operator name): two operators invoked with the same entity key
      // must not share a state blob. routeName is "ns/name" (no NUL),
      // so the composite is collision-free.
      .groupByKey(r => r.routeName + "\u0000" + r.key)
      // a TTL'd state expires on processing time; without a TTL the
      // operator is time-agnostic
      .transformWithState(new StatefulInvokeProcessor(executor, config.stateTtl),
        if (config.stateTtl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** Start the job: the topology over `events` with keyed state on the
    * RocksDB store (the reference's RocksDB-backed keyed state), the
    * checkpoint at `checkpoint` and the pacing of `config.trigger`; `sink`
    * writes each micro-batch's routes — the reference's two producers
    * (StateFlowFlinkJob.java:127-147), whose INTERNAL write closes the
    * feedback loop. Local checkpoint files go through [[ForkFreeLocalFs]]
    * and each state commit writes a RocksDB changelog file, because a
    * micro-batch is one EventFlow hop and its fixed cost sets hop latency.
    * The sink must execute its batch Dataset: a batch that runs no job
    * commits no state store, and Spark then fails the query.
    */
  def start(events: Dataset[Array[Byte]], executor: FunctionExecutor, checkpoint: String,
      config: JobConfig)(sink: Dataset[WireRoute] => Unit): StreamingQuery = {
    val conf = events.sparkSession.conf
    conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // a commit appends one changelog file; snapshots move to maintenance
    conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    ForkFreeLocalFs.register(conf)
    val writer = eventsToEgress(events, executor, config)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
    config.trigger.foreach(writer.trigger)
    writer.foreachBatch((batch: Dataset[WireRoute], _: Long) => sink(batch)).start()
  }
}

/** Tuning surface of the reference job (StateFlowFlinkJob.java:34-40,
  * 56) as explicit parameters:
  *  - `trigger`: micro-batch pacing. `None` = as-fast-as-possible, the
  *    analogue of `execution.buffer-timeout=0` (:36); a
  *    `Trigger.ProcessingTime` adds deliberate batching latency.
  * The create path's window is fixed, as in the reference (see
  * `StateflowPipeline.StatelessConcurrency`).
  *
  * MIGRATION: checkpoints written while the plan scanned its source three
  * times per batch list that source three times in every `offsets/<n>`
  * file, and Spark refuses to restart them ("There are [3] sources in the
  * checkpoint offsets and now there are [1]"). The state layout did not
  * change: rewrite each offsets file to keep its first three lines (the
  * version, the batch metadata and one source offset; for Kafka, the
  * lowest offset per partition of the three, since replay is at-least-once
  * but a skip loses events), delete its `.crc` sidecar and restart, or
  * start from a fresh checkpoint.
  */
final case class JobConfig(
    trigger: Option[Trigger] = None,
    /** The reference's `--operators` list (StateFlowFlinkJob.java:56):
      * when set, events for unlisted operators return FailedInvocation
      * instead of entering the stateful path.
      */
    knownOperators: Option[Set[String]] = None,
    /** Bounds per-entity state volume: entities idle longer than the TTL
      * are dropped from the store — idle entities are never cleaned up
      * otherwise, so state grows with every key ever seen. NONE =
      * reference semantics (state lives forever).
      *
      * MIGRATION CLIFF: switching between NONE and a TTL flips the
      * operator's TimeMode (None ↔ ProcessingTime), which Spark validates
      * against the checkpoint's operator metadata — an existing
      * deployment cannot toggle this against its old checkpointLocation;
      * plan a state rebuild (fresh checkpoint) for the switch.
      */
    stateTtl: TTLConfig = TTLConfig.NONE)

/** Shared daemon thread pool for the stateless-invoke path. It grows on
  * demand, so every request of a window is in flight from submission,
  * when its deadline starts: threads are bounded by
  * `StatelessConcurrency` × running tasks (512 at 128 and
  * `local[4]`), plus timed-out calls that ignore their interrupt; idle
  * threads exit after 60 s.
  */
private object StatelessPool {
  lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-stateless-invoke")
      t.setDaemon(true)
      t
    })
}
