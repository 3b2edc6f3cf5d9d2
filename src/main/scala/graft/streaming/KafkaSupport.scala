package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.exec.FunctionExecutor
import graft.model._

/** Production Kafka wiring — the deployment shape of the reference job:
  * source topics `internal` + `client_request` (StateFlowFlinkJob.java:
  * 47-54), sinks `client_reply` (:134-142) and `internal` (:127-132,
  * 143-147, the feedback loop), protobuf values with the record key set to
  * `event_id` bytes (KafkaSerializeProto.java:24-30), at-least-once
  * end-to-end (checkpointed source offsets + Spark's at-least-once Kafka
  * sink ≙ CheckpointingMode.AT_LEAST_ONCE + Semantic.AT_LEAST_ONCE).
  * `internal` carries only in-flight hops: a flow that reaches its
  * `RETURN` node goes to `client_reply` in the same batch
  * ([[graft.routing.Routing.egress]]), where the reference writes it to
  * `internal` once more for ingress to answer.
  *
  * Needs the `spark-sql-kafka` connector on the classpath at runtime (not
  * present in this offline container — exercised there only through
  * [[LoopHarness]], which swaps the broker for a MemoryStream; the
  * topology code is identical).
  */
object KafkaSupport {

  /** S1+S2: subscribe; the pipeline scans this source once per batch, so
    * each offset range is fetched once, and decodes each protobuf value
    * once, at ingress.
    */
  def readEvents(spark: SparkSession, bootstrap: String,
      topics: String = "internal,client_request"): Dataset[Array[Byte]] = {
    import spark.implicits._
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics)
      .option("startingOffsets", "latest")
      .option("kafka.group.id", "graft-group-id")
      .load()
      .select(col("value").as[Array[Byte]])
  }

  /** S3: route → (key = route key bytes, value = the event's proto bytes,
    * topic). Egress keys every route by its event id, so the record key is
    * the `event_id` bytes (KafkaSerializeProto.java:24-30). CLIENT routes
    * go to `client_reply`, INTERNAL ones to `internal`; egress emits no
    * other direction.
    */
  def toKafkaRecords(routes: Dataset[WireRoute]): DataFrame =
    routes.select(col("key").cast("binary").as("key"), col("event").as("value"),
      when(col("direction") === RouteDirection.CLIENT, "client_reply")
        .when(col("direction") === RouteDirection.INTERNAL, "internal")
        .as("topic"))

  /** Full job: one streaming query, and one Kafka write per batch that
    * fans out to both topics by each record's `topic` column (the Spark
    * shape for the reference's side outputs; the feedback loop closes
    * through the `internal` topic re-entering the source, exactly as
    * StateFlowFlinkJob.java:143-147 + :50).
    */
  def start(spark: SparkSession, bootstrap: String, executor: FunctionExecutor,
      checkpoint: String, config: JobConfig = JobConfig()): StreamingQuery =
    StateflowPipeline.start(readEvents(spark, bootstrap), executor, checkpoint, config) { batch =>
      toKafkaRecords(batch)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .save()
    }
}
