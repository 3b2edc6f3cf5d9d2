package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.model.Event
import graft.streaming.LoopHarness

/** A metric as printed and as written to the artifact. An end-to-end
  * metric may also carry the workload's own name for the same figure,
  * printed beside the name every workload shares.
  */
final case class Metric(name: String, value: Double, unit: String, alias: String = "")

/** What a workload hands back to [[Main]]: its end-to-end figures under
  * the names every workload shares, and every per-layer figure of a
  * traced run.
  */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Seq[Metric],
    layers: Seq[Metric], params: Seq[(String, Any)],
    extra: Seq[(String, Any)], spans: Vector[Span])

/** Everything one run shares: the session, the seed, the window and, in a
  * traced run, the listeners and the span buffer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean) {
  val spans: Option[Spans] = if (traced) Some(new Spans) else None
  val counters: Option[SparkCounters] =
    if (traced) Some(new SparkCounters) else None
  val progress: Option[ProgressLog] = if (traced) Some(new ProgressLog) else None
  counters.foreach(spark.sparkContext.addSparkListener)
  progress.foreach(spark.streams.addListener)

  /** Delivers every listener event posted so far. */
  def drainListeners(): Unit =
    if (traced) org.apache.spark.GraftSparkShims.drainListenerBus(spark.sparkContext)
}

object Setup {
  /** Runs the workload's one set-up and times it, in seconds. */
  def timed[T](build: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = build
    (out, (System.nanoTime() - t0) / 1e9)
  }
}

/** The single generator thread's view of one LoopHarness: it sends, and
  * it reads the client replies once per completed micro-batch, when the
  * query's last progress shows a new batch id.
  */
final class Client(val h: LoopHarness) {
  private var lastBatch = -1L
  private var seen = 0

  /** (batch id, time the reader saw it complete) in completion order. */
  val batches = mutable.ArrayBuffer.empty[(Long, Long)]

  /** (wall-clock ms, rows) of every generator send, to tell generator
    * rows from feedback rows in each batch's input.
    */
  val sends = mutable.ArrayBuffer.empty[(Long, Int)]

  def send(events: Seq[Event]): Unit = if (events.nonEmpty) {
    sends += ((System.currentTimeMillis(), events.size))
    h.send(events: _*)
  }

  /** New client replies if a batch completed since the last call, stamped
    * with the time they were read; empty otherwise.
    */
  def poll(): Seq[Event] = {
    h.query.exception.foreach(e => throw new IllegalStateException("streaming query failed", e))
    val p: StreamingQueryProgress = h.query.lastProgress
    if (p == null || p.batchId == lastBatch) Seq.empty
    else {
      lastBatch = p.batchId
      batches += ((p.batchId, System.nanoTime()))
      readNew()
    }
  }

  /** Waits, up to `maxMs`, until the engine has taken the offsets of the
    * batch after the one just read, or has gone idle. Data sent after this
    * enters the batch after that one, whatever the reader's timing.
    *
    * The next batch reads its offsets and writes them to the log within
    * tens of ms of the last one's progress, and only then reports
    * "Processing new data". A status read that early may still be the
    * finished batch's, so the wait first lets [[OffsetsTakenMs]] pass.
    */
  def awaitNextBatchStarted(maxMs: Long): Unit = {
    val seenAt = batches.lastOption.map(_._2).getOrElse(System.nanoTime())
    val deadline = seenAt + maxMs * 1000000L
    val earliest = seenAt + Client.OffsetsTakenMs * 1000000L
    val seen = lastBatch
    var done = false
    while (!done && System.nanoTime() < deadline) {
      val st = h.query.status.message
      val p = h.query.lastProgress
      done = (st == "Processing new data" && System.nanoTime() >= earliest) ||
        st == "Waiting for data to arrive" || (p != null && p.batchId > seen)
      if (!done) LockSupport.parkNanos(200000L)
    }
  }

  /** Drains the loop (feedback included) and returns what is left unread;
    * the batches it ran are not counted as completions seen by [[poll]].
    */
  def drain(): Seq[Event] = {
    h.drain()
    Option(h.query.lastProgress).foreach(p => lastBatch = p.batchId)
    readNew()
  }

  private def readNew(): Seq[Event] = {
    val all = h.clientReplies
    val fresh = all.drop(seen)
    seen = all.size
    fresh
  }

  def lastBatchId: Long = lastBatch

  /** Times between consecutive batch completions seen inside [w0, w1], in ms. */
  def intervalsMs(w0: Long, w1: Long): Seq[Double] = {
    val in = batches.map(_._2).filter(t => t >= w0 && t <= w1).toSeq
    in.zip(in.drop(1)).map { case (a, b) => (b - a) / 1e6 }
  }

  /** Batch completions seen inside [w0, w1], as (first, last) times and
    * the batch ids strictly after the first; rates are measured over whole
    * batches between the two.
    */
  def windowBatches(w0: Long, w1: Long): Option[(Long, Long, Seq[Long])] = {
    val in = batches.filter { case (_, t) => t >= w0 && t <= w1 }
    if (in.size < 2) None else Some((in.head._2, in.last._2, in.tail.map(_._1).toSeq))
  }
}

object Client {
  /** How long after a batch's progress appears the next batch is taken to
    * have read its offsets, at the earliest.
    */
  val OffsetsTakenMs = 150L
}

/** What the traced layers need from one edge of the measured window. */
final case class Edge(counters: Map[String, Long], batchId: Long,
    exec: Option[ExecLayer.Snap], gcMs: Long)

object Edge {
  def take(ctx: Ctx, batchId: Long, metered: Option[graft.exec.MeteredExecutor]): Edge = {
    ctx.drainListeners()
    Edge(ctx.counters.map(_.snap()).getOrElse(Map.empty), batchId,
      metered.map(ExecLayer.snap), Host.gcMs())
  }
}

/** Per-layer figures of the streaming workloads, from the progress
  * reports of the measured batches.
  */
object StreamLayers {
  /** Every per-layer figure of the batches between two edges, whose
    * spans it also records. The query's first batch took in `firstRows`
    * generator events and nothing else.
    */
  def window(ctx: Ctx, h: LoopHarness, d: Client, from: Edge, to: Edge, firstRows: Int): Seq[Metric] = {
    val all = ctx.progress.map(_.of(h.query.runId)).getOrElse(Vector.empty)
    val ps = all.filter(p => p.batchId > from.batchId && p.batchId <= to.batchId)
    ctx.spans.foreach(s => ps.foreach(p => batchSpans(s, p).foreach(s.add)))
    val stream = apply(all, ps, d.sends.toSeq, firstRows)
    val planning = stream.find(_.name == "streaming.queryPlanning_ms").map(_.value).getOrElse(0.0)
    CommonLayers(SparkCounters.diff(from.counters, to.counters), ps.size, planning,
      (to.gcMs - from.gcMs).toDouble) ++ stream ++
      from.exec.zip(to.exec).toSeq.flatMap { case (a, b) => ExecLayer(a, b) }
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Generator rows each batch took in: the sends made after the previous
    * batch started reading its offsets and before this one did.
    */
  private def generatorRows(all: Seq[StreamingQueryProgress], ps: Seq[StreamingQueryProgress],
      sends: Seq[(Long, Int)]): Seq[Double] =
    ps.map { p =>
      val to = startMs(p)
      val from = all.filter(_.batchId < p.batchId).lastOption.map(startMs).getOrElse(Long.MinValue)
      sends.collect { case (t, n) if t >= from && t < to => n.toDouble }.sum
    }

  /** How many times the plan scans the source: Spark counts input rows
    * once per scan, so the first batch, which holds exactly the set-up
    * send of `firstRows` events, reads as a multiple of it.
    */
  def sourceScans(all: Seq[StreamingQueryProgress], firstRows: Int): Double =
    all.headOption.filter(_ => firstRows > 0)
      .map(p => math.max(1L, math.round(p.numInputRows.toDouble / firstRows)).toDouble)
      .getOrElse(1.0)

  /** `ps` are the measured batches, `all` every batch of the query, whose
    * first batch took in `firstRows` generator events and nothing else.
    */
  def apply(all: Seq[StreamingQueryProgress], ps: Seq[StreamingQueryProgress],
      sends: Seq[(Long, Int)], firstRows: Int): Seq[Metric] = {
    val scans = sourceScans(all, firstRows)
    import scala.jdk.CollectionConverters._
    val n = ps.size
    def phase(k: String) = med(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val rows = ps.map(_.numInputRows.toDouble)
    val ops = ps.flatMap(_.stateOperators.headOption)
    def custom(k: String): Seq[Double] =
      ops.map(o => Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0))
    Seq(
      Metric("streaming.batches", n, "count"),
      Metric("streaming.batch_ms_p50", phase("triggerExecution"), "ms"),
      Metric("streaming.latestOffset_ms", phase("latestOffset"), "ms"),
      Metric("streaming.queryPlanning_ms", phase("queryPlanning"), "ms"),
      Metric("streaming.addBatch_ms", phase("addBatch"), "ms"),
      Metric("streaming.walCommit_ms", phase("walCommit"), "ms"),
      Metric("streaming.commitOffsets_ms", phase("commitOffsets"), "ms"),
      Metric("streaming.input_rows_per_batch", med(rows), "rows"),
      Metric("streaming.source_scans", scans, "count"),
      Metric("streaming.feedback_rows_per_batch",
        med(rows.zip(generatorRows(all, ps, sends)).map { case (r, g) => math.max(0.0, r / scans - g) }), "rows"),
      Metric("state.rows_total", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows"),
      Metric("state.rows_updated_per_batch", med(ops.map(_.numRowsUpdated.toDouble)), "rows"),
      Metric("state.commit_ms_per_batch", med(ops.map(_.commitTimeMs.toDouble)), "ms"),
      Metric("state.memory_bytes", ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      Metric("state.partitions", ops.lastOption.map(_.numShufflePartitions.toDouble).getOrElse(0.0), "count"),
      Metric("state.rocksdbCommitFlushLatency", med(custom("rocksdbCommitFlushLatency")), "ms"),
      Metric("state.rocksdbCommitCheckpointLatency", med(custom("rocksdbCommitCheckpointLatency")), "ms"),
      Metric("state.rocksdbTotalBytesWritten", custom("rocksdbTotalBytesWritten").sum, "bytes"),
      Metric("state.rocksdbSstFileSize", custom("rocksdbSstFileSize").lastOption.getOrElse(0.0), "bytes"),
      Metric("state.rocksdbGetLatency", med(custom("rocksdbGetLatency")), "ms"))
  }

  /** Child spans of one batch, laid out in the order a micro-batch runs
    * its phases, from the batch's start time and phase durations.
    */
  def batchSpans(spans: Spans, p: StreamingQueryProgress): Seq[Span] = {
    val start = spans.fromEpochMs(startMs(p).toDouble)
    def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val id = s"batch-${p.batchId}"
    val total = d("triggerExecution")
    var t = start
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .filter(k => p.durationMs.containsKey(k)).map { k =>
        val s = Span(k, s"$id/$k", id, t, t + d(k)); t += d(k); s
      }
    Span("batch", id, "", start, start + total,
      Map("batch_id" -> p.batchId, "input_rows" -> p.numInputRows)) +: phases
  }
}

/** The per-layer figures every workload reports under the same names, per
  * unit of work: a micro-batch on the streaming workloads, a pass over the
  * query list on analytics_midfield.
  */
object CommonLayers {
  def apply(spark: Map[String, Double], units: Double, planningMs: Double, gcMs: Double): Seq[Metric] = {
    def per(k: String) = if (units > 0) spark.getOrElse(k, 0.0) / units else 0.0
    Seq(
      Metric("spark.jobs", per("jobs"), "count"),
      Metric("spark.stages", per("stages"), "count"),
      Metric("spark.tasks", per("tasks"), "count"),
      Metric("spark.task_run_ms", per("task_run_ms"), "ms"),
      Metric("spark.task_cpu_ms", per("task_cpu_ms"), "ms"),
      Metric("spark.shuffle_write_bytes", per("shuffle_write_bytes"), "bytes"),
      Metric("sql.planning_ms", planningMs, "ms"),
      Metric("jvm.gc_ms", if (units > 0) gcMs / units else 0.0, "ms"))
  }
}

/** The function-call layer as seen through MeteredExecutor, between two
  * snapshots of its accumulators.
  */
object ExecLayer {
  final case class Snap(invocations: Long, nanos: Long, buckets: Vector[Long])

  def snap(m: graft.exec.MeteredExecutor): Snap =
    Snap(m.invocations.value, m.totalNanos.value, m.buckets.map(_.value.longValue).toVector)

  def apply(a: Snap, b: Snap): Seq[Metric] = {
    val n = b.invocations - a.invocations
    val buckets = b.buckets.zip(a.buckets).map { case (x, y) => x - y }
    // upper edge of the log2(us) bucket holding the 99th percentile call
    val p99 = if (n <= 0) 0.0 else {
      val target = math.ceil(0.99 * n - 1e-9).toLong
      val i = buckets.scanLeft(0L)(_ + _).tail.indexWhere(_ >= target)
      (if (i < 0) 1L << 20 else 1L << (i + 1)).toDouble
    }
    Seq(
      Metric("exec.invocations", n.toDouble, "count"),
      Metric("exec.call_us_mean", if (n > 0) (b.nanos - a.nanos) / 1e3 / n else 0.0, "us"),
      Metric("exec.call_us_p99_upper", p99, "us"))
  }
}
