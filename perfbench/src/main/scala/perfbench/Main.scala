package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Runs one workload once and reports it.
  *
  * {{{
  * perfbench.Main --workload flow_chain|request_mix|analytics_midfield
  *   --seed N --seconds S --trace 0|1 [--artifact FILE] [--data DIR]
  *   [--digests FILE]
  * }}}
  *
  * Prints one `metric <name> <value> <unit>` line per figure, writes the
  * whole run (header, parameters, metrics, checks, spans) to the artifact
  * file, and ends stdout with one JSON line: `correct`, `attempted`,
  * `failed` and every end-to-end metric, or with `--trace 1` every
  * per-layer metric.
  */
object Main {

  val Workloads: Seq[String] = Seq("flow_chain", "request_mix", "analytics_midfield")

  val FlowParams = FlowChain.Params(chains = 1024, hops = 4, entities = 1000, warmupS = 5.0)
  val MixParams = RequestMix.Params(rate = 75, tickMs = 200, entities = 5000,
    zipfS = 1.0, delayMs = 2.0, warmupS = 4.0)

  /** The artifact text: one JSON object whose last field, `spans`, holds
    * one span per line so that committed traces diff line by line.
    */
  def render(body: ListMap[String, Any], spans: Seq[Span]): String = {
    val lines = spans.map(s => Json.write(ListMap(s.toMap.toSeq.sortBy(_._1): _*)))
    Json.write(body).dropRight(1) + ",\"spans\":[\n" + lines.mkString(",\n") + "\n]}\n"
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"

    val steal0 = Host.stealSnap()
    val load0 = Host.loadavg()
    val t0 = System.nanoTime()
    val spark = Session.create()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val outcome =
      try {
        val ctx = new Ctx(spark, seed, seconds, traced)
        workload match {
          case "flow_chain" => FlowChain.run(ctx, FlowParams)
          case "request_mix" => RequestMix.run(ctx, MixParams)
          case "analytics_midfield" =>
            AnalyticsMidfield.run(ctx, need("data"), AnalyticsMidfield.expectedDigests(opts.get("digests")))
        }
      } finally spark.stop()
    val stealPct = Host.stealPct(steal0, Host.stealSnap())

    // set-up also pays for the session; the run's peak RSS and its
    // failed share are end-to-end figures of every workload
    val endToEnd = outcome.endToEnd.map(m =>
      if (m.name == "setup_s") m.copy(value = m.value + sessionS) else m) ++ Seq(
      Metric("failed_ratio", outcome.failed.toDouble / outcome.attempted, "ratio"),
      Metric("rss_peak_mb", Host.rssPeakMb(), "MB"))

    (endToEnd ++ outcome.layers).foreach { m =>
      println(s"metric ${m.name} ${m.value} ${m.unit}")
      if (m.alias.nonEmpty) println(s"metric ${m.alias} ${m.value} ${m.unit}")
    }
    println(s"checks attempted=${outcome.attempted} failed=${outcome.failed}")

    val header = ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> Host.nproc,
      "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"),
      "source_digest" -> sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "conf" -> Session.describe(spark),
      "params" -> ListMap(outcome.params: _*),
      "session_s" -> sessionS,
      "loadavg_start" -> load0, "loadavg_end" -> Host.loadavg(),
      "steal_pct" -> stealPct)
    def metricMap(ms: Seq[Metric]) =
      ListMap(ms.map(m => m.name -> ListMap("value" -> m.value, "unit" -> m.unit)): _*)
    opts.get("artifact").foreach { path =>
      val body = ListMap[String, Any](
        "header" -> header,
        "correct" -> (outcome.failed == 0), "attempted" -> outcome.attempted,
        "failed" -> outcome.failed,
        "end_to_end" -> metricMap(endToEnd),
        "aliases" -> ListMap(endToEnd.filter(_.alias.nonEmpty).map(m => m.alias -> m.name): _*),
        "per_layer" -> metricMap(outcome.layers),
        "detail" -> ListMap(outcome.extra: _*))
      val text = render(body, outcome.spans)
      val p = Paths.get(path)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    }
    println(Json.write(ListMap(
      "correct" -> (outcome.failed == 0), "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "metrics" -> metricMap(if (traced) outcome.layers else endToEnd))))
  }
}

/** The one session every workload runs in: local[nproc] with as many
  * shuffle (and so state-store) partitions as cores.
  */
object Session {
  def create(): SparkSession = {
    val n = Host.nproc.toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.maxFields", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def describe(spark: SparkSession): ListMap[String, Any] = {
    def conf(k: String) = spark.conf.getOption(k).getOrElse("")
    ListMap(
      "master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> conf("spark.sql.shuffle.partitions"),
      "state_partitions" -> conf("spark.sql.shuffle.partitions"),
      "spark.sql.streaming.stateStore.providerClass" -> conf("spark.sql.streaming.stateStore.providerClass"),
      "spark.sql.extensions" -> conf("spark.sql.extensions"))
  }
}
