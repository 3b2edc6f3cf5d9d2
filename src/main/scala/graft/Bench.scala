package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** A run slower than the artifact by more than this on the common-row
    * total is refused even if flag-clean — run-to-run spread on this box
    * is ±3–7%, so 3% rejects the degraded-but-clean reruns (the r13
    * driver capture overwrote a 316.6 s artifact with a 355.6 s one
    * started at loadavg 4.26) while tolerating ordinary jitter. */
  val SlowerTolerance = 1.03

  /** A run whose hypervisor-steal share of active CPU ticks exceeds this
    * (percent) is "steal-dirty": its wall-clock carries host contention
    * the code did not cause. Calibration: the r14 contended capture ran
    * at 41% steal, every gate-accepted artifact since measured < 1%
    * (r15's final capture: 0.31%). */
  val StealDirtyPct = 2.0

  /** Pure refresh-gate decision (unit-tested in BenchGateSpec): None =
    * accept, Some(reason) = refuse and write to <out>.rejected.
    * Rules, in order:
    *   1. broken: a query green in the artifact failed every pass here;
    *   2. coverage: this run has fewer query rows than the artifact;
    *   3. noise: more >=1s noisy flags AND not a strictly-better
    *      common-row total;
    *   4. slower (r14, symmetric to 3): common-row total worse than the
    *      artifact's by > SlowerTolerance, regardless of flags — a
    *      flag-clean-but-degraded rerun must not clobber a faster one.
    *      r16 (closing r14 verdict task 2): the refusal reason now
    *      carries the steal forensics the builder used to do by hand —
    *      a steal-dirty slower run (> StealDirtyPct of active ticks) is
    *      attributed to host contention; a steal-CLEAN slower run is
    *      surfaced loudly as a possible code regression, because clean
    *      steal removes the innocent explanation.
    * force bypasses all four.
    * `stealPct` is the run's hypervisor-steal share of active CPU ticks
    * in percent (0.0 when /proc/stat is unavailable — treated as clean). */
  def refreshVerdict(force: Boolean, broken: Seq[String],
      newRows: Int, oldRows: Option[Int],
      noisier: Boolean, newNoisyMajor: Int, oldNoisyMajor: Int,
      commonRows: Int, newCommonTotal: Double, oldCommonTotal: Double,
      stealPct: Double = 0.0)
      : Option[String] = {
    val betterTotal = commonRows > 0 && newCommonTotal < oldCommonTotal
    if (force) None
    else if (broken.nonEmpty)
      Some(s"${broken.size} queries failed every pass that the artifact has green (${broken.take(3).mkString(", ")}…)")
    else if (oldRows.exists(newRows < _))
      Some(s"this run covers $newRows queries vs the existing artifact's ${oldRows.get}")
    else if (noisier && !betterTotal)
      Some(f"this run has $newNoisyMajor >=1s noisy flags vs the existing artifact's $oldNoisyMajor and its common-row total ($newCommonTotal%.1f s over $commonRows rows) does not beat the artifact's ($oldCommonTotal%.1f s)")
    else if (commonRows > 0 && newCommonTotal > oldCommonTotal * SlowerTolerance) {
      val base = f"this run's common-row total ($newCommonTotal%.1f s over $commonRows rows) is >${(SlowerTolerance - 1) * 100}%.0f%% worse than the artifact's ($oldCommonTotal%.1f s)"
      if (stealPct > StealDirtyPct)
        Some(base + f" under $stealPct%.1f%% hypervisor steal — steal-dirty, host contention rather than evidence of a code regression")
      else
        Some(base + f" with CLEAN steal ($stealPct%.2f%% of active ticks) — POSSIBLE CODE REGRESSION: no host-contention alibi, bisect before forcing")
    }
    else None
  }

  /** Rows entering the gate's common-row total (unit-tested in
    * BenchGateSpec). memo_build:* rows are EXCLUDED (r15 ADVICE): they
    * are shared-prefix cost ATTRIBUTION, and an attribution split —
    * moving seconds between a memo row and its first consumer — must not
    * flip the accept/refuse decision. They stay in the artifact and in
    * "value"; this is gate arithmetic only. Failed rows (0.0 on either
    * side) are excluded so a broken rerun cannot manufacture a
    * "strictly better" total (r13 review). */
  def gateCommonNames(names: Seq[String], newTimes: Map[String, Double],
      oldTimes: Map[String, Double]): Seq[String] =
    names.filter(n => !n.startsWith("memo_build:") &&
      oldTimes.getOrElse(n, 0.0) > 0.0 && newTimes.getOrElse(n, 0.0) > 0.0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Host timing variance in this environment is 40-60% across a session
    // (established rounds 1-4), so a single-shot measurement can overstate a
    // query by >2x. Run each query REPS times and report the min: min is the
    // noise-robust estimator of the plan's actual cost (noise is strictly
    // additive here — GC pauses, host contention — never negative).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val spark = LocalSession(defaultCpus = 4)
    // untimed warm-up: JIT + codegen + parquet footer reads, so the first
    // timed query (alphabetically q01) doesn't absorb JVM startup cost
    locally {
      import graft.analytics.Tables
      Seq(Tables.lineitem _, Tables.orders _, Tables.documents _,
          Tables.embeddings _, Tables.events _).foreach { t =>
        t(spark, sfDir).groupBy().count().write.format("noop").mode("overwrite").save()
      }
    }
    // noop sink: materializes every output column (count() would let
    // Catalyst prune the projection and under-report expression cost)
    //
    // Rep policy (r6): reps are INTERLEAVED at the pass level — run the whole
    // suite once, then again — rather than back-to-back per query. Back-to-back
    // reps share one host-contention window, so min-of-N could not shave a
    // transient stall that covered both reps (r4/r5 artifacts overstated some
    // queries 10x that way). With pass-level interleaving the two samples of a
    // query are ~minutes apart, so a contention burst lands on at most one.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "" }
    // (steal ticks, active ticks) from /proc/stat — the r14 verdict's
    // "freeze the steal forensics into the instrument": every accepted or
    // refused artifact now records how much of the run's CPU the
    // hypervisor stole, so a slow capture is attributable without the
    // manual bracketed reads r15 did by hand. active = everything but
    // idle+iowait (fields: user nice system idle iowait irq softirq steal).
    def stealSnap(): (Long, Long) = try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f.lift(3).getOrElse(0L) + f.lift(4).getOrElse(0L)
      (f.lift(7).getOrElse(0L), f.sum - idle)
    } catch { case _: Throwable => (0L, 0L) }
    // Executor task-time per query (r15 verdict task 2: make the core-
    // scaling probe legible). At sf0.1 wall-clock is fixed-cost-dominated
    // and 8-core ≈ 32-core totals read as "bench ignores the core count";
    // task-time alongside wall-clock separates the two regimes per query:
    // tasktime/wall ≈ average task concurrency — ≫1 means the query DOES
    // use the cores and its wall floor is elsewhere; ≈1 means genuinely
    // serial or overhead-bound. The listener bus is drained before each
    // snapshot (GraftSparkShims) so attribution is exact.
    val counter = LocalSession.counter(spark)
    def taskSecondsSnap(): Double = counter.counts().taskRunMs / 1e3
    // local iteration aid: SPARK_GRAFT_ONLY=q1,q2 times just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    // Shared-memo warm-ups (r8): heavy memoized prefixes are built ONCE per
    // pass on their own timed line, so their cost stops landing on whichever
    // consumer binding runs first (the "first-consumer lottery" — r7 verdict).
    // The build still counts toward the suite total; it is attribution, not
    // hiding. A warm-up runs only when at least one of its consumers is in
    // the query set.
    val warmups: Seq[(String, String => Boolean, (SparkSession, String) => Unit)] =
      Seq(
        ("memo_build:neardup_clusters",
          Set("qd_neardup_clusters", "qd_cluster_canonical",
            "qd_cluster_weights", "qd_cluster_stats"),
          (s, d) => graft.analytics.DedupOps.warmNearDupClusters(s, d)),
        // r14: the clusters path runs on the budgeted edge build, so the
        // exact pair list (qd_simhash's answer, qd_cc_stars's input)
        // gets its own attribution line
        ("memo_build:simhash_pairs",
          Set("qd_simhash", "qd_cc_stars"),
          (s, d) => graft.analytics.DedupOps.warmSimhashPairs(s, d)),
        ("memo_build:trade_graph",
          (n: String) => n.startsWith("qg_"),
          (s, d) => graft.analytics.GraphOps.warmTradeGraph(s, d)),
        ("memo_build:landmark_bfs",
          Set("qg_betweenness", "qg_harmonic", "qg_ecc"),
          (s, d) => graft.analytics.GraphOps.warmLandmarkBfs(s, d)),
        ("memo_build:graph_ann_index",
          Set("qs_knn_graph", "qs_graph_ann", "qs_ann_recall",
            "qs_graph_ann_rounds"),
          (s, d) => graft.analytics.SimilarityOps.warmGraphAnnIndex(s, d)),
        ("memo_build:copurchase_pairs",
          Set("qj_copurchase_topk", "qj_assoc_rules", "qg_densest"),
          (s, d) => graft.analytics.Relational3.warmCopurchasePairs(s, d)))
    val activeWarmups = warmups.filter { case (_, consumes, _) =>
      names.exists(q => consumes(q._1)) }
    // per query: list of (wall seconds, executor task seconds) per pass
    val samples = scala.collection.mutable.Map.empty[String, List[(Double, Double)]].withDefaultValue(Nil)
    // Contention guard (r7): min-of-2 cannot shave a stall that covers
    // both samples, and this host idles at loadavg ~2. If any pass STARTS
    // under ambient load > 1.5, grant ONE extra pass so every query gets
    // at least one sample from a calmer window; queries whose samples
    // still disagree > 2x are flagged `noisy` in the artifact so a reader
    // knows the min may not be reproducible under load.
    val passLoads = scala.collection.mutable.ListBuffer.empty[String]
    val passSteals = scala.collection.mutable.ListBuffer.empty[Double]
    var stealAcc = 0L; var activeAcc = 0L
    var target = reps
    var pass = 0
    while (pass < target) {
      pass += 1
      graft.analytics.Memo.clear() // each pass pays shared-intermediate builds once
      val la0 = loadavg()
      val st0 = stealSnap()
      val la0n = la0.split(" ").headOption
        .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.0)
      if (la0n > 1.5 && target == reps && reps > 1) {
        System.err.println(f"[bench] pass $pass starts at loadavg $la0n%.2f > 1.5 — adding one extra pass")
        target = reps + 1
      }
      activeWarmups.foreach { case (wname, _, build) =>
        spark.sparkContext.setJobDescription(wname)
        val k0 = taskSecondsSnap()
        val t0 = System.nanoTime()
        try {
          build(spark, sfDir)
          samples(wname) = ((System.nanoTime() - t0) / 1e9, taskSecondsSnap() - k0) :: samples(wname)
        } catch {
          case e: Throwable => System.err.println(s"[bench] $wname failed (pass $pass): $e")
        }
      }
      names.foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(name)
        val k0 = taskSecondsSnap()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          samples(name) = ((System.nanoTime() - t0) / 1e9, taskSecondsSnap() - k0) :: samples(name)
        } catch {
          case e: Throwable => System.err.println(s"[bench] $name failed (pass $pass): $e")
        }
      }
      spark.sparkContext.setJobDescription(null)
      val st1 = stealSnap()
      val (ds, da) = (st1._1 - st0._1, st1._2 - st0._2)
      stealAcc += ds; activeAcc += da
      passSteals += (if (da > 0) 100.0 * ds / da else 0.0)
      passLoads += s"$la0 -> ${loadavg()}"
    }
    // a query that failed every pass reports 0.0 (its stderr line is the flag)
    val allNames = activeWarmups.map(_._1) ++ names.map(_._1)
    val results = allNames.map { name =>
      name -> (samples(name) match { case Nil => 0.0; case ts => ts.map(_._1).min })
    }
    // executor task seconds from the SAME pass that produced the min wall
    // sample, so tasktime/wall reads as that pass's average concurrency
    val resultsTask = allNames.map { name =>
      name -> (samples(name) match { case Nil => 0.0; case ts => ts.minBy(_._1)._2 })
    }
    def p50(ts: List[Double]): Double = ts match {
      case Nil => 0.0
      case _ => ts.sorted.apply((ts.size - 1) / 2) // lower median
    }
    val resultsP50 = allNames.map(name => name -> p50(samples(name).map(_._1)))
    // noisy = PERSISTENTLY unstable: the UPPER median pass is > 2x the
    // best pass. The previous max-based rule flagged any query with ONE
    // bad pass, so a single GC pause / concurrent stage turned ~17
    // sub-second queries into flags per run (measured r10) and the
    // refresh gate could never accept a full-coverage artifact; with
    // min-over-N reporting a lone outlier carries no signal — the
    // MAJORITY of passes slow does. Upper median, not the reported
    // lower-median p50: at 2 samples the lower median EQUALS the min and
    // the rule could never fire (at even sizes generally it under-reads);
    // upper median degrades to the old max-based rule at 2 samples and
    // to true one-outlier tolerance at 3+.
    val noisyNames = allNames.filter { name =>
      val ts = samples(name).map(_._1)
      ts.size >= 2 && ts.sorted.apply(ts.size / 2) > 2 * ts.min
    }
    val noisy = noisyNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    def obj(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalP50 = resultsP50.map(_._2).sum
    val loads = passLoads.map(s => "\"" + s + "\"").mkString("[", ",", "]")
    val runStealPct = if (activeAcc > 0) 100.0 * stealAcc / activeAcc else 0.0
    val steals = passSteals.map(v => f"$v%.3f").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","value_p50":$totalP50,"reps":$pass,"policy":"min-over-$pass-interleaved-passes; p50 alongside; memo_build:* rows are shared-prefix warm-ups charged once per pass and excluded from the gate's common-row total; refresh refuses to overwrite a less-noisy artifact, where noise counts only queries >= 1s and a strictly-better common-row total wins regardless; a run >3% slower on the common-row total is refused even if flag-clean, with the refusal attributed via /proc/stat steal (SPARK_GRAFT_BENCH_FORCE=1 overrides); queries_tasktime is executor task seconds from each query's min-wall pass (tasktime/wall ~ average concurrency)","loadavg_per_pass":$loads,"steal_pct_per_pass":$steals,"steal_pct":${f"$runStealPct%.3f"},"noisy":$noisy,"queries":${obj(results)},"queries_p50":${obj(resultsP50)},"queries_tasktime":${obj(resultsTask)},"sf":"$sfDir"}"""
    println(line)
    // Also persist the full JSON in-repo: the driver captures only the tail
    // of stdout, which truncated BENCH_r02.json mid-line. A committed file
    // keeps every per-query number auditable regardless of stdout capture.
    // Default is cwd-relative (the sbt project root), not an absolute path.
    //
    // Refresh gate (r8, amended r13): a noisier OR narrower rerun must
    // not clobber a cleaner committed artifact (r7 shipped a 96-noisy-
    // flag refresh over a 9-flag one; an r8 single-query filtered run
    // clobbered a 313-row artifact because it had fewer noisy flags).
    // Checks before overwriting:
    //   1. coverage: this run must have at least as many query rows;
    //   2. noise: this run must not have more noisy flags, where only
    //      flags on queries >= 1s count toward the gate (a sub-second
    //      query that doubles under a GC pause carries no signal —
    //      r11/r12 both saw strictly-faster full runs refused over
    //      sub-second flags); AND
    //   3. a run whose common-row total is strictly better than the
    //      existing artifact's is accepted even if noisier (coverage
    //      check 1 still applies — faster-but-narrower still loses).
    // Otherwise keep the existing file and write to <out>.rejected;
    // SPARK_GRAFT_BENCH_FORCE=1 overrides.
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")).toAbsolutePath
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    val existingTxt: Option[String] =
      if (java.nio.file.Files.exists(out)) scala.util.Try {
        new String(java.nio.file.Files.readAllBytes(out),
          java.nio.charset.StandardCharsets.UTF_8)
      }.toOption
      else None
    // ONE parser per artifact field (r13 review: the earlier comma-
    // counting duplicates could drift from these — the r8 colon-count
    // bug in this exact spot is the precedent). Names may contain
    // colons; values are plain doubles.
    val existingTimes: Option[Map[String, Double]] = existingTxt.flatMap { txt =>
      """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt).map { g =>
        """"([^"]+)":([-0-9.eE]+)""".r.findAllMatchIn(g.group(1))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    val existingNoisyNames: Option[Seq[String]] = existingTxt.flatMap { txt =>
      """"noisy":\[([^\]]*)\]""".r.findFirstMatchIn(txt).map { g =>
        """"([^"]+)"""".r.findAllMatchIn(g.group(1)).map(_.group(1)).toSeq
      }
    }
    val oldTimes = existingTimes.getOrElse(Map.empty)
    val resultTimes = results.toMap
    val newNoisyMajor = noisyNames.count(n => resultTimes.getOrElse(n, 0.0) >= 1.0)
    val oldNoisyMajor = existingNoisyNames.getOrElse(Seq.empty)
      .count(n => oldTimes.getOrElse(n, 0.0) >= 1.0)
    // common-row comparison EXCLUDES failed rows (a query that errored
    // every pass reports 0.0): a 0.0 on either side would read as a
    // phantom speedup/slowdown and let a broken rerun manufacture a
    // "strictly better" total (r13 review)
    val commonNames = gateCommonNames(results.map(_._1), resultTimes, oldTimes)
    val newCommonTotal = commonNames.map(resultTimes).sum
    val oldCommonTotal = commonNames.map(oldTimes).sum
    val betterTotal = commonNames.nonEmpty && newCommonTotal < oldCommonTotal
    val existingRows: Option[Int] = existingTimes.map(_.size)
    val noisier = existingNoisyNames.isDefined && newNoisyMajor > oldNoisyMajor
    // a query that failed every pass here but was green in the artifact
    // means this RUN is broken, not the artifact stale — refuse
    val broken = results.collect { case (n, t)
      if t == 0.0 && oldTimes.getOrElse(n, 0.0) > 0.0 => n }
    val verdict = refreshVerdict(force, broken, results.size, existingRows,
      noisier, newNoisyMajor, oldNoisyMajor,
      commonNames.size, newCommonTotal, oldCommonTotal, runStealPct)
    val target0 = verdict match {
      case Some(reason) =>
        System.err.println(s"[bench] REFUSING refresh: $reason — keeping $out, writing ${out}.rejected")
        java.nio.file.Paths.get(out.toString + ".rejected")
      case None =>
        if (noisier && betterTotal)
          System.err.println(f"[bench] accepting noisier run: common-row total $newCommonTotal%.1f s beats the artifact's $oldCommonTotal%.1f s over ${commonNames.size} rows")
        out
    }
    System.err.println(s"[bench] writing full results to $target0")
    try {
      java.nio.file.Files.write(target0,
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] FAILED to write $target0: $e")
        e.printStackTrace()
    }
    spark.stop()
  }
}
