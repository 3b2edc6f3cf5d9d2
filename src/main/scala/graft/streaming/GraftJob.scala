package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.exec.{FunctionExecutor, HttpFunctionExecutor, LocalCounterExecutor}

/** Deployable entry point — the analogue of the reference's
  * `StateFlowFlinkJob.main` (CLI with an `--operators` list +
  * hard-coded Kafka address, StateFlowFlinkJob.java:27-56):
  *
  * {{{
  * spark-submit --class graft.streaming.GraftJob <jar> \
  *   --bootstrap broker:9092 --checkpoint s3://ckpt/path \
  *   --operators global/Account,global/Cart \
  *   --endpoint https://fn.example/invoke --trigger-ms 0
  * }}}
  *
  * `--endpoint` selects the HTTP function backend (the Lambda deployment
  * shape); without it the in-JVM counter entity runs (smoke deployments).
  * `--operators` enables the reference's operator validation — events for
  * unlisted operators return FailedInvocation.
  *
  * The keyed state has as many partitions as `spark.sql.shuffle.partitions`,
  * and every hop runs one task per partition. Unless the submit sets it
  * (`--conf spark.sql.shuffle.partitions=N`), the job uses the cluster's
  * default parallelism (its cores) rather than Spark's 200. The first
  * checkpoint fixes the count: a job restarted on an existing checkpoint
  * keeps the count that checkpoint was written with.
  */
object GraftJob {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val bootstrap = opts.getOrElse("--bootstrap", "localhost:9092")
    val checkpoint = opts.getOrElse("--checkpoint", "/tmp/graft-checkpoint")
    val executor: FunctionExecutor = opts.get("--endpoint")
      .map(new HttpFunctionExecutor(_))
      .getOrElse(new LocalCounterExecutor)
    val config = JobConfig(
      trigger = opts.get("--trigger-ms").map(ms => Trigger.ProcessingTime(ms.toLong)),
      knownOperators = opts.get("--operators").map(_.split(',').toSet))
    KafkaSupport.start(session(), bootstrap, executor, checkpoint, config)
      .awaitTermination()
  }

  /** The job's session, with one state partition per core unless the
    * submit chose a count. */
  private[streaming] def session(): SparkSession = {
    val spark = SparkSession.builder().appName("graft-stateflow").getOrCreate()
    if (!spark.sparkContext.getConf.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    spark
  }
}
