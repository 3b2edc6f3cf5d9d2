package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed step at a layer boundary; times are ms since the run began.
  * Spans of one request share its event id.
  */
final case class Span(name: String, id: String, parent: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] =
    Map("name" -> name, "id" -> id, "parent" -> parent, "start_ms" -> startMs,
      "end_ms" -> endMs) ++ attrs
}

/** Spans kept in memory for the traced run and written when it ends.
  * Only requests marked with [[follow]] get request and fn_call spans, so
  * a traced run keeps a bounded sample of them.
  */
final class Spans {
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis().toDouble
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val followed = ConcurrentHashMap.newKeySet[String]()

  def ms(nanos: Long): Double = (nanos - t0Nanos) / 1e6
  def fromEpochMs(epochMs: Double): Double = epochMs - t0EpochMs

  def follow(id: String): Unit = followed.add(id)
  def follows(id: String): Boolean = followed.contains(id)
  def followedCount: Int = followed.size

  def add(s: Span): Unit = buf.add(s)
  def all: Vector[Span] = buf.asScala.toVector.sortBy(_.startMs)
}

/** Cumulative Spark scheduler counters from a SparkListener; a layer's
  * share is the difference of two snapshots.
  */
final class SparkCounters extends SparkListener {
  private val c = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    .map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_run_ms").addAndGet(m.executorRunTime)
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snap(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

object SparkCounters {
  /** `to - from`, with CPU time turned into ms. */
  def diff(from: Map[String, Long], to: Map[String, Long]): Map[String, Double] =
    to.map { case (k, v) =>
      val d = (v - from.getOrElse(k, 0L)).toDouble
      if (k == "task_cpu_ns") "task_cpu_ms" -> d / 1e6 else k -> d
    }
}

/** Every progress report of the streaming queries, kept past the 100
  * batches `recentProgress` holds.
  */
final class ProgressLog extends StreamingQueryListener {
  private val buf = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = buf.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(runId: java.util.UUID): Vector[StreamingQueryProgress] =
    buf.asScala.filter(_.runId == runId).toVector.sortBy(_.batchId)
}

/** Planning time of every SQL execution (the sum of its
  * QueryPlanningTracker phases), with a span per execution.
  */
final class PlanningLog(spans: Spans) extends QueryExecutionListener {
  val executions = new AtomicLong
  val planningMs = new AtomicLong
  @volatile var parent: String = ""

  private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    executions.incrementAndGet()
    planningMs.addAndGet(phases.values.map(_.durationMs).sum)
    if (phases.nonEmpty) {
      val p0 = phases.values.map(_.startTimeMs).min.toDouble
      val p1 = phases.values.map(_.endTimeMs).max.toDouble
      val id = s"$parent/${executions.get}"
      val endMs = spans.fromEpochMs(p1) + durationNs / 1e6
      spans.add(Span("sql_execution", id, parent, spans.fromEpochMs(p0), endMs,
        Map("action" -> funcName, "ok" -> ok)))
      spans.add(Span("planning", id + "/planning", id, spans.fromEpochMs(p0), spans.fromEpochMs(p1),
        phases.map { case (k, v) => s"${k}_ms" -> v.durationMs }))
      spans.add(Span("execution", id + "/execution", id, spans.fromEpochMs(p1), endMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, ok = false)
}
