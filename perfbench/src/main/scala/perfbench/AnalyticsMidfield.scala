package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.analytics.{Memo, Tables}

/** A fixed list of analytics queries, run in an order the seed permutes,
  * each written to the noop sink, with the memo cleared before every pass.
  * No streaming code runs here.
  *
  * Each query is timed on its second and third executions in the session,
  * right after the untimed one that checks its output: code generation and
  * JIT for that query are then done, while a short run's later passes
  * would still fall along a warm-up curve whose shape varies from run to
  * run. The faster of the two counts, as in the suite's own bench, which
  * keeps the minimum over passes because host noise only ever adds time.
  * The pass time is the sum of these per-query times.
  */
object AnalyticsMidfield {
  val TimedRuns = 2


  /** Fixed-cost queries from the middle of the analytics suite (0.5 to 2 s
    * each at sf0.1), one per module.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "qe_user_event_deltas", "qm_video_neardup", "qs_pq_topk",
    "qstat_exact_variance", "qt_readability")

  /** (rows, digest) per query as recorded in the digest file. */
  def expectedDigests(path: Option[String]): Map[String, (Long, Long)] =
    path.filter(p => Files.exists(Paths.get(p))).map { p =>
      Json.read(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)) match {
        case m: collection.Map[_, _] => m.collect {
          case (q: String, v: collection.Map[_, _]) =>
            val f = v.asInstanceOf[collection.Map[String, Any]]
            q -> (f("rows").asInstanceOf[Long], f("digest").asInstanceOf[Long])
        }.toMap
        case _ => Map.empty[String, (Long, Long)]
      }
    }.getOrElse(Map.empty)

  def run(ctx: Ctx, dir: String, expected: Map[String, (Long, Long)]): Outcome = {
    val spark = ctx.spark
    val qs = graft.SparkEntry.queries
    val order = Gen.permutation(Queries.size, ctx.seed).toSeq.map(Queries)

    // set-up: count the five large tables, the suite bench's own warm-up
    val (_, setup) = Setup.timed {
      Seq(Tables.lineitem _, Tables.orders _, Tables.documents _, Tables.embeddings _,
        Tables.events _).foreach { t =>
        t(spark, dir).groupBy().count().write.format("noop").mode("overwrite").save()
      }
    }

    val planLog = ctx.spans.map(s => new PlanningLog(s))
    planLog.foreach(spark.listenerManager.register)
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    val digests = mutable.LinkedHashMap.empty[String, scala.util.Try[(Long, Long)]]
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    var checkNs = 0L
    var errors = 0
    // one pass: each query first runs untimed for its check (row count and
    // rounded digest of the collected rows), then twice timed into the noop
    // sink, keeping the faster; the memo is cleared before every execution,
    // so none reuses another's work
    order.foreach { q =>
      Memo.clear()
      val c0 = System.nanoTime()
      digests(q) = scala.util.Try(Checks.digest(qs(q)(spark, dir).collect().iterator))
      checkNs += System.nanoTime() - c0
      val runs = (0 until TimedRuns).map { r =>
        Memo.clear()
        ctx.drainListeners()
        val k0 = ctx.counters.map(_.snap())
        val e0 = planLog.map(l => (l.executions.get, l.planningMs.get))
        val gc0 = Host.gcMs()
        planLog.foreach(_.parent = s"$q#$r")
        val t0 = System.nanoTime()
        val ok = scala.util.Try(qs(q)(spark, dir).write.format("noop").mode("overwrite").save()).isSuccess
        val t1 = System.nanoTime()
        if (!ok) errors += 1
        ctx.spans.foreach(s => s.add(Span("query", s"$q#$r", "", s.ms(t0), s.ms(t1), Map("ok" -> ok))))
        ctx.drainListeners()
        for (a <- k0; b <- ctx.counters.map(_.snap()); (x0, p0) <- e0; l <- planLog) {
          val m = perQuery.getOrElseUpdate(q, mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0))
          SparkCounters.diff(a, b).foreach { case (k, v) => m(k) += v / TimedRuns }
          m("executions") += (l.executions.get - x0).toDouble / TimedRuns
          m("planning_ms") += (l.planningMs.get - p0).toDouble / TimedRuns
          m("gc_ms") += (Host.gcMs() - gc0).toDouble / TimedRuns
        }
        if (ok) Some((t1 - t0) / 1e6) else None
      }.flatten
      if (runs.nonEmpty) times += q -> runs.min
      samples += q -> runs
    }
    planLog.foreach(spark.listenerManager.unregister)
    val passes = Seq(times.map(_._2).sum / 1e3)
    val checkS = checkNs / 1e9
    val wrong = digests.toSeq.collect {
      case (q, scala.util.Success(d)) if !expected.get(q).contains(d) => q
      case (q, scala.util.Failure(_)) => q
    }

    // one request of this workload is one pass over the query list
    val dist = Stats.dist(passes.map(_ * 1e3).toSeq)
    val wall = dist.p50 / 1e3
    val perQueryMin = times.toMap
    val throughput = times.size / passes.sum
    val attempted = ((1 + TimedRuns) * order.size).toLong
    val failed = (wrong.size + errors).toLong

    val layers: Seq[Metric] = if (!ctx.traced) Seq.empty else {
      // per pass: the sum over queries of one timed execution each
      val total = perQuery.values.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
      val keys = Seq("planning_ms" -> "ms", "executions" -> "count", "jobs" -> "count",
        "stages" -> "count", "tasks" -> "count", "task_run_ms" -> "ms", "task_cpu_ms" -> "ms",
        "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes")
      CommonLayers(total, 1.0, total.getOrElse("planning_ms", 0.0), total.getOrElse("gc_ms", 0.0)) ++
        keys.map { case (k, unit) => Metric(s"analytics.$k", total.getOrElse(k, 0.0), unit) } ++
        perQuery.toSeq.flatMap { case (q, m) =>
          keys.map { case (k, unit) => Metric(s"analytics.$q.$k", m(k), unit) } :+
            Metric(s"analytics.$q.wall_ms", times.collect { case (`q`, t) => t }.headOption.getOrElse(0.0), "ms")
        }
    }

    Outcome(attempted, failed,
      endToEnd = Seq(
        Metric("setup_s", setup, "s"),
        Metric("throughput_per_s", throughput, "1/s", "queries_per_s"),
        Metric("latency_p50_ms", dist.p50, "ms"),
        Metric("latency_p99_ms", dist.p99, "ms"),
        Metric("analytics_wall_s", wall, "s")),
      layers = layers,
      params = Seq("queries" -> Queries, "order" -> order, "data_dir" -> Paths.get(dir).getFileName.toString,
        "sink" -> "noop", "memo" -> "Memo.clear() before every pass"),
      extra = dist.fields("pass_latency") ++ Seq(
        "query_wall_ms_min" -> perQueryMin,
        "query_wall_ms_samples" -> samples.toMap,
        "passes_s" -> passes.toSeq,
        "check_pass_s" -> checkS,
        "digests" -> digests.toSeq.collect { case (q, scala.util.Success((r, d))) =>
          q -> Map("rows" -> r, "digest" -> d) }.toMap,
        "checks" -> Map("queries" -> order.size, "digest_mismatches" -> wrong.sortBy(identity),
          "errors_in_timed_passes" -> errors)),
      spans = ctx.spans.map(_.all).getOrElse(Vector.empty))
  }
}
