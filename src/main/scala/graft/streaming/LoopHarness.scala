package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.exec.FunctionExecutor
import graft.model._

/** In-process stand-in for the reference's Kafka plumbing: MemoryStream
  * replaces the `internal`+`client_request` source (StateFlowFlinkJob
  * .java:47-54); the per-batch sink replaces the two FlinkKafkaProducers
  * (:127-147), closing the feedback cycle by re-adding INTERNAL events to
  * the source — exactly the reference's Kafka-loop topology with the
  * broker swapped for memory.
  *
  * Events cross the loop as protobuf bytes, as they cross the reference's
  * Kafka topics: `send` encodes, the sink decodes only the CLIENT replies
  * and feeds the INTERNAL events back as they are. Egress routes every
  * event to CLIENT or INTERNAL, so the sink runs one collect and splits it
  * on the driver.
  */
final class LoopHarness(spark: SparkSession, executor: FunctionExecutor,
    config: JobConfig = JobConfig()) {
  import spark.implicits._

  private val input = MemoryStream[Array[Byte]](spark)
  private val clientBuf = mutable.Buffer.empty[Event]

  val query: StreamingQuery = StateflowPipeline.start(input.toDS(), executor,
      Files.createTempDirectory("graft-ckpt").toString, config) { batch =>
    val (client, internal) = batch.select(col("direction"), col("event"))
      .as[(Int, Array[Byte])].collect()
      .partition(_._1 == RouteDirection.CLIENT)
    clientBuf.synchronized { clientBuf ++= client.map(r => ProtoCodec.decodeEvent(r._2)) }
    // the feedback loop: INTERNAL routes re-enter the source
    if (internal.nonEmpty) add(internal.map(_._2).toIndexedSeq)
  }

  /** MemoryStream.addData encodes with one shared encoder outside its own
    * lock, so concurrent sends and feedback writes would corrupt rows.
    */
  private def add(rows: Seq[Array[Byte]]): Unit = input.synchronized { input.addData(rows) }

  def send(events: Event*): Unit = add(events.map(ProtoCodec.encode))

  /** Block until the loop fully drains (feedback additions included). */
  def drain(): Unit = query.processAllAvailable()

  def clientReplies: Seq[Event] = clientBuf.synchronized { clientBuf.toVector }
  def clear(): Unit = clientBuf.synchronized { clientBuf.clear() }
  def stop(): Unit = query.stop()
}
