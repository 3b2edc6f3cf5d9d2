package graft

/** Ad-hoc plan inspection + timing: runMain graft.Explain <sfDir> <query>[,query2] [--plan] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',')
    val showPlan = args.contains("--plan")
    val spark = LocalSession(defaultCpus = 32)
    // job/stage/task census (r16): for iteration-shaped queries the final
    // plan hides the per-round work (it executes during construction), so
    // the load-bearing before/after evidence is the JOB COUNT, not the
    // plan dump. Counters are monotonic; we print deltas per query.
    val counter = LocalSession.counter(spark)
    names.foreach { name =>
      if (showPlan) {
        println(s"===== $name plan =====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      // Time construction + execution, like Bench: iterative queries do
      // eager work (localCheckpoint, convergence counts) during
      // construction, so timing only the final write undercounts them.
      val c0 = counter.counts()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val c = counter.counts() - c0
      println(f"===== $name: $dt%.2f s, jobs=${c.jobs}, stages=${c.stages}, tasks=${c.tasks}")
    }
    spark.stop()
  }
}
