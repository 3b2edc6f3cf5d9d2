package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The local session every analytics main (Verify, Bench, Explain, GenSf)
  * runs in, and the listener Bench and Explain count work with.
  * `graft.streaming.GraftJob` builds its own session: spark-submit
  * supplies its master.
  */
object LocalSession {

  /** `local[$SPARK_GRAFT_CPUS]` (`defaultCpus` when unset) with one
    * shuffle partition per core, the UTC session zone, no UI and log
    * level WARN. `graftSql` adds the library's deployment hook — the
    * graft_* SQL functions and the RewriteIntersectCount optimizer rule
    * of [[graft.functions.GraftExtensions]] — and codegen headroom for
    * wide rows: the 2·reps-column bootstrap aggregate (130 fields) would
    * fall off whole-stage codegen at the default maxFields=100. `conf`
    * entries are set last.
    *
    * Spark's own SPARK_LOCAL_DIRS places shuffle spill and evicted memo
    * blocks (on tmpfs, for example: see SPARK_GRAFT_MEMO_SER in Memo).
    *
    * spark.sql.join.preferSortMergeJoin=false was A/B-tested in Bench
    * (r15) and rejected: at sf0.1 every sampled static plan stayed
    * BHJ/SMJ (the SHJ size band [10MB, threshold×partitions] is empty at
    * this scale) and two back-to-back A/Bs read -3.7% then +3.7%.
    */
  def apply(defaultCpus: Int, graftSql: Boolean = true,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val sql =
      if (!graftSql) Nil
      else Seq("spark.sql.codegen.maxFields" -> "200",
        "spark.sql.extensions" -> "graft.functions.GraftExtensions")
    val spark = (Seq("spark.sql.shuffle.partitions" -> cpus,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false") ++ sql ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Jobs started, stages completed with their tasks, and executor run
    * time of ended tasks, since a [[Counter]] was registered. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long) {
    def -(o: Counts): Counts =
      Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs)
  }

  /** A listener that keeps [[Counts]]. The listener bus delivers events
    * asynchronously, so `counts()` drains it first: work done by an action
    * that has returned is counted exactly.
    */
  final class Counter private[LocalSession] (sc: SparkContext) extends SparkListener {
    private val jobs, stages, tasks, taskRunMs = new AtomicLong(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) taskRunMs.addAndGet(m.executorRunTime)
    }

    def counts(): Counts = {
      org.apache.spark.GraftSparkShims.drainListenerBus(sc)
      Counts(jobs.get(), stages.get(), tasks.get(), taskRunMs.get())
    }
  }

  /** A new [[Counter]], registered on `spark`'s context. */
  def counter(spark: SparkSession): Counter = {
    val c = new Counter(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    c
  }
}
