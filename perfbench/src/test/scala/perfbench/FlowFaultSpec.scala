package perfbench

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.{FunctionExecutor, LocalCounterExecutor}
import graft.model._
import graft.streaming.LoopHarness

/** Runs a few chains through the real loop with a backend that loses or
  * repeats one hop, and shows that the flow_chain counter check sees it.
  */
class FlowFaultSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val paths = Vector(Vector(0, 1, 2), Vector(1, 1, 3), Vector(2, 0))

  /** Counters per entity after the chains ran, read back with GetState. */
  private def run(exec: FunctionExecutor): (Map[String, Long], Int) = {
    val h = new LoopHarness(spark, exec)
    try {
      h.send(paths.zipWithIndex.map { case (p, i) => FlowChain.flowEvent(s"c$i", p) }: _*)
      h.drain()
      val ok = h.clientReplies.count(_.reply.contains(Reply.SuccessfulInvocation))
      val acct = FunctionType("global", "Account", stateful = true)
      h.send((0 until 4).map(e =>
        Event.request(s"g$e", FunctionAddress(acct, FlowChain.key(e)), Request.GetState)): _*)
      h.drain()
      (h.clientReplies.filter(_.eventId.startsWith("g"))
        .map(e => e.funAddress.key -> ByteBuffer.wrap(e.payload).getLong).toMap, ok)
    } finally h.stop()
  }

  private val expected = Checks.hopCounts(paths.map(_.map(FlowChain.key)))

  test("a clean backend passes the counter check") {
    val (observed, ok) = run(new LocalCounterExecutor)
    assert(ok == paths.size)
    assert(Checks.counters(expected, observed).isEmpty)
  }

  test("a lost hop fails the counter check") {
    val (observed, _) = run(new FaultyCounter(FlowChain.key(1), lose = true))
    assert(Checks.counters(expected, observed) == Seq(FlowChain.key(1)))
  }

  test("a duplicated hop fails the counter check") {
    val (observed, _) = run(new FaultyCounter(FlowChain.key(2), lose = false))
    assert(Checks.counters(expected, observed) == Seq(FlowChain.key(2)))
  }
}

/** The counter backend, except that the first EventFlow hop on `key`
  * either leaves the counter unchanged (a lost hop) or adds two (a hop
  * applied twice). Tasks get their own copy of the backend, so "first" is
  * kept JVM-wide, per instance.
  */
final class FaultyCounter(key: String, lose: Boolean) extends FunctionExecutor {
  private val inner = new LocalCounterExecutor
  private val token = java.util.UUID.randomUUID().toString
  override def invoke(req: EventRequestReply): EventRequestReply = {
    val out = inner.invoke(req)
    val hit = req.event.request.contains(Request.EventFlow) &&
      req.event.current.exists(_.currentFun.key == key) && FaultyCounter.fired.add(token)
    if (!hit) out
    else {
      val before = if (req.state == null || req.state.isEmpty) 0L else ByteBuffer.wrap(req.state).getLong
      val after = if (lose) before else before + 2
      out.copy(state = ByteBuffer.allocate(8).putLong(after).array())
    }
  }
}

object FaultyCounter {
  val fired: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
