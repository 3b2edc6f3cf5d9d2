package graft.streaming

import java.util.concurrent.TimeUnit

import scala.concurrent.duration._

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import graft.exec.FunctionExecutor
import graft.model._
import graft.routing.Routing

/** The dataflow topology of the reference job
  * (StateFlowFlinkJob.java:27-150), re-expressed as one declarative
  * streaming transformation `Dataset[Event] → Dataset[Route]`:
  *
  * {{{
  * events ─ map(Routing.ingress) ─┬─ EGRESS routes ──────────────────────┐
  *                                ├─ "<op>-create" → stateless invoke    │
  *                                │    (bounded-concurrency mapPartitions,│
  *                                │     mirrors AsyncDataStream at       │
  *                                │     StateFlowFlinkJob.java:86-87)    │
  *                                │   → rekey (…:88-95) ─┐               │
  *                                └─ direct INTERNAL ────┴ union         │
  *                                      → groupByKey(key)               │
  *                                      → per-key ValueState invoke      │
  *                                        (InvokeStatefulLambda.java)    │
  *                                      → replies ───────────────────────┤
  *                                                 union → map(egress) ──┴→ Dataset[Route]
  * }}}
  *
  * Flink side outputs become filters on one routed stream; the Kafka
  * feedback cycle (topic `internal`, StateFlowFlinkJob.java:143-147) is the
  * sink's job — [[StateflowPipeline.start]] takes it as a per-batch
  * function, which [[graft.streaming.LoopHarness]] (tests) and
  * `KafkaSupport` supply.
  */
object StateflowPipeline {

  /** Per-key stateful invoke on Spark 4's transformWithState — the direct
    * analogue of the reference's KeyedProcessFunction with
    * `ValueState<ByteString>` (InvokeStatefulLambda.java:35-116). State is
    * an opaque byte blob, initialized empty on first touch (:75-77) and
    * overwritten wholesale with each executor reply (:109).
    *
    * Per-key FIFO: the groupByKey shuffle loses arrival order, so rows
    * carry an ingress sequence (Kafka (partition,offset) analogue) and
    * are re-sorted inside the group — Flink's keyed-order guarantee (the
    * reference relies on it for read-modify-write state).
    */
  final class StatefulInvokeProcessor(executor: FunctionExecutor,
      stateTtl: TTLConfig = TTLConfig.NONE)
      extends KeyedFold[String, (Route, Long), Array[Byte], Array[Byte], Event](
        "operatorState", Encoders.BINARY, Ordering.by(_._2), stateTtl) {

    protected def load(stored: Option[Array[Byte]]): Array[Byte] =
      stored.getOrElse(Array.emptyByteArray)
    protected def store(acc: Array[Byte]): Array[Byte] = acc

    protected def step(key: String, acc: Array[Byte], row: (Route, Long),
        emit: Event => Unit): Array[Byte] = {
      val reply = executor.invoke(EventRequestReply(row._1.eventValue, acc, row._1.routeName))
      emit(reply.event)
      reply.state
    }
  }

  /** Bounded-concurrency stateless invoke: the reference hides Lambda
    * latency with async unordered I/O, capacity 1000, per-request timeout
    * 2 s (AsyncDataStream.unorderedWait, StateFlowFlinkJob.java:84-87).
    * Spark has no async operator; this is a sliding-window completion loop
    * inside mapPartitions: up to `concurrency` requests in flight at once,
    * each with its OWN `timeout` deadline measured from submission, and
    * results emitted as they complete (unordered — matching unorderedWait).
    * One stuck request neither blocks the rest of the window nor inflates
    * anyone else's budget; it times out alone at ~`timeout` and yields a
    * FailedInvocation reply (the reference's AsyncDataStream would fail the
    * job on timeout — a clean per-request failure reply is the graceful
    * engine-level equivalent).
    */
  private def invokeStateless(executor: FunctionExecutor, concurrency: Int, timeout: FiniteDuration)(
      routes: Iterator[Route]): Iterator[Event] = {
    // concurrency <= 0 would make refill() never submit → routes silently dropped
    require(concurrency > 0, s"concurrency must be positive, got $concurrency")
    require(timeout > Duration.Zero, s"timeout must be positive, got $timeout")
    val timeoutNs = timeout.toNanos
    new Iterator[Event] {
      private val cs =
        new java.util.concurrent.ExecutorCompletionService[Event](StatelessPool.pool)
      // in-flight future → (route, absolute deadline)
      private val pending =
        new java.util.HashMap[java.util.concurrent.Future[Event], (Route, Long)]()
      private val ready = scala.collection.mutable.Queue.empty[Event]

      private def refill(): Unit =
        while (pending.size < concurrency && routes.hasNext) {
          val r = routes.next()
          val f = cs.submit(() => {
            val op = r.eventValue.funAddress.fullName
            executor.invoke(EventRequestReply(r.eventValue, Array.emptyByteArray, op)).event
          })
          pending.put(f, (r, System.nanoTime() + timeoutNs))
        }

      private def collectOne(): Unit =
        while (ready.isEmpty && !pending.isEmpty) {
          // earliest in-flight deadline bounds how long we may block
          var minF: java.util.concurrent.Future[Event] = null
          var minR: Route = null
          var minDl = Long.MaxValue
          val it = pending.entrySet().iterator()
          while (it.hasNext) {
            val en = it.next()
            if (en.getValue._2 < minDl) {
              minF = en.getKey; minR = en.getValue._1; minDl = en.getValue._2
            }
          }
          val waitNs = minDl - System.nanoTime()
          val f =
            if (waitNs > 0) cs.poll(waitNs, TimeUnit.NANOSECONDS) else cs.poll()
          if (f != null) {
            val entry = pending.remove(f)
            // null = late completion of an already-timed-out request: drop
            if (entry != null)
              ready += (try f.get() catch {
                case scala.util.control.NonFatal(_) =>
                  entry._1.eventValue.withReply(Reply.FailedInvocation)
              })
          } else if (System.nanoTime() >= minDl) {
            minF.cancel(true)
            pending.remove(minF)
            ready += minR.eventValue.withReply(Reply.FailedInvocation)
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

  /** Route names for the create path (StateFlowFlinkJob.java:57-66). */
  private def isCreate(r: Route): Boolean = r.routeName.endsWith("-create")

  /** Assemble the full topology. Works on both streaming and batch
    * Datasets; `config` carries the reference's tuning surface.
    */
  def eventsToEgress(events: Dataset[Event], executor: FunctionExecutor,
      config: JobConfig = JobConfig()): Dataset[Route] = {
    val spark = events.sparkSession
    import spark.implicits._

    val routed: Dataset[Route] = events.map(Routing.ingress)

    val internalAll = routed.filter(_.direction == RouteDirection.INTERNAL)

    // The reference builds one side output per operator from the
    // `--operators` CLI list (StateFlowFlinkJob.java:56-66); an event for
    // an unlisted operator has no output tag and kills the job. With a
    // known-operator set configured, we keep the validation but degrade
    // gracefully: the event short-circuits to the client as a
    // FailedInvocation reply instead of crashing the stream.
    // EGRESS straight-throughs (Ping→Pong, flow RETURN): M1 passthrough
    val ingressEgressBase = routed.filter(_.direction == RouteDirection.EGRESS)
      .map(_.eventValue)

    val (internal, ingressEgress) = config.knownOperators match {
      case Some(ops) =>
        val known = (r: Route) => ops.contains(r.routeName.stripSuffix("-create"))
        (internalAll.filter(r => known(r)),
          ingressEgressBase.union(internalAll.filter(r => !known(r))
            .map(_.eventValue.withReply(Reply.FailedInvocation))))
      case None => (internalAll, ingressEgressBase)
    }

    // create path: A1 async stateless invoke + A2 rekey
    val created = internal.filter(isCreate _)
      .mapPartitions(invokeStateless(executor, config.statelessConcurrency, config.statelessTimeout))
      .map(Routing.rekeyCreated)

    // U1 union + K1 keyBy + P1 stateful invoke. The ingress sequence is
    // attached BEFORE the keyBy shuffle (per source partition, monotonic in
    // arrival order — the (partition, offset) stand-in) so the processor
    // can restore per-key FIFO after the shuffle.
    val replies = internal.filter((r: Route) => !isCreate(r)).union(created)
      .mapPartitions { it =>
        // partition-stamped arrival sequence (monotonically_increasing_id
        // is rejected in streaming plans; this is its exact construction)
        var seq = org.apache.spark.TaskContext.getPartitionId().toLong << 40
        it.map { r => seq += 1; (r, seq) }
      }
      // state is namespaced per OPERATOR × key, like the reference (one
      // InvokeStatefulLambda instance — hence one ValueState namespace —
      // per operator name): two operators invoked with the same entity key
      // must not share a state blob. routeName is "ns/name" (no NUL),
      // so the composite is collision-free.
      .transform(new StatefulInvokeProcessor(executor, config.stateTtl)
        .byKey(t => t._1.routeName + "\u0000" + t._1.key))

    // U2 union + R6 egress routing
    ingressEgress.union(replies).map(Routing.egress)
  }

  /** Start the job: the topology over `events` with keyed state on the
    * RocksDB store (the reference's RocksDB-backed keyed state), the
    * checkpoint at `checkpoint` and the pacing of `config.trigger`; `sink`
    * writes each micro-batch's routes — the reference's two producers
    * (StateFlowFlinkJob.java:127-147), whose INTERNAL write closes the
    * feedback loop. Local checkpoint files go through [[ForkFreeLocalFs]]
    * and each state commit writes a RocksDB changelog file, because a
    * micro-batch is one EventFlow hop and its fixed cost sets hop latency.
    */
  def start(events: Dataset[Event], executor: FunctionExecutor, checkpoint: String,
      config: JobConfig)(sink: Dataset[Route] => Unit): StreamingQuery = {
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
    writer.foreachBatch((batch: Dataset[Route], _: Long) => sink(batch)).start()
  }
}

/** Tuning surface of the reference job (StateFlowFlinkJob.java:34-40,
  * 84-87) as explicit parameters:
  *  - `trigger`: micro-batch pacing. `None` = as-fast-as-possible, the
  *    analogue of `execution.buffer-timeout=0` (:36); a
  *    `Trigger.ProcessingTime` adds deliberate batching latency.
  *  - `statelessConcurrency` / `statelessTimeout`: the AsyncDataStream
  *    capacity-1000 / 2 s settings for the create path (:84-87).
  */
final case class JobConfig(
    trigger: Option[Trigger] = None,
    statelessConcurrency: Int = 128,
    statelessTimeout: FiniteDuration = 2.seconds,
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

/** Shared daemon thread pool for the stateless-invoke path. */
private object StatelessPool {
  lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(64, r => {
      val t = new Thread(r, "graft-stateless-invoke")
      t.setDaemon(true)
      t
    })
}
