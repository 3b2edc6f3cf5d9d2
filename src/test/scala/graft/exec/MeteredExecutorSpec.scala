package graft.exec

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.streaming.LoopHarness

/** X1: executor-latency metrics must be observable on the driver after
  * distributed execution, like the reference's aws-latency histogram.
  */
class MeteredExecutorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("accumulators count every executor invocation with latency") {
    val metered = MeteredExecutor(new LocalCounterExecutor, spark.sparkContext)
    val h = new LoopHarness(spark, metered)
    try {
      val k = FunctionAddress(FunctionType("m", "Cnt", stateful = true), "mk")
      def delta(v: Long) = ByteBuffer.allocate(8).putLong(v).array()
      h.send(
        Event.request("m1", k, Request.InvokeStateful, delta(1)),
        Event.request("m2", k, Request.InvokeStateful, delta(1)),
        Event.request("m3", k, Request.GetState))
      h.drain()
      assert(metered.invocations.value == 3L)
      assert(metered.totalNanos.value > 0L)
      assert(metered.buckets.map(_.value.longValue).sum == 3L)
      assert(metered.meanMicros > 0.0)
      // histogram is consumable: p50/p99 upper bounds are positive powers
      // of two and monotone in p
      val p50 = metered.percentileMicrosUpper(0.5)
      val p99 = metered.percentileMicrosUpper(0.99)
      assert(p50 > 0 && p99 >= p50)
      assert((p50 & (p50 - 1)) == 0, s"bucket edge expected, got $p50")
    } finally h.stop()
  }

  test("LambdaEnvelope round-trips the reference's JSON+Base64 wire form") {
    val e = Event.request("env1", FunctionAddress(FunctionType("a", "B", stateful = true), "k"),
      Request.InvokeStateful, Array[Byte](1, 2, 3))
    val rr = EventRequestReply(e, Array[Byte](9, 9), "a/B")
    val json = LambdaEnvelope.encodeRequest(rr)
    assert(json.startsWith("""{"request": """"))
    val back = LambdaEnvelope.decode(json)
    assert(back.event.eventId == "env1")
    assert(back.operatorName == "a/B")
    assert(java.util.Arrays.equals(back.state, rr.state))
    val reply = LambdaEnvelope.decode(LambdaEnvelope.encodeReply(rr))
    assert(reply.event.eventId == "env1")
  }
}
