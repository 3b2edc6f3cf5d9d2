package graft.streaming

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.{FunctionExecutor, LocalCounterExecutor}
import graft.model._

/** The StateFlow plan is one linear pass per micro-batch — source, one
  * routing `mapPartitions`, one shuffle, one keyed operator — and the rows
  * answered before the keyed operator neither touch state nor reach the
  * function backend again.
  */
class LinearPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-linear-plan-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val acct = FunctionType("global", "Account", stateful = true)
  private def delta(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()

  private def withHarness(executor: FunctionExecutor, config: JobConfig = JobConfig())(
      body: LoopHarness => Unit): Unit = {
    val h = new LoopHarness(spark, executor, config)
    try body(h) finally h.stop()
  }

  /** The progress reports of the batches that read input. */
  private def dataBatches(h: LoopHarness) = h.query.recentProgress.filter(_.numInputRows > 0).toSeq

  test("one source scan, no union and one keyed operator per micro-batch") {
    withHarness(new LocalCounterExecutor) { h =>
      val keyed = FunctionAddress(acct, "p1")
      val sent = Seq(
        Event.request("p-init", FunctionAddress(acct, ""), Request.InitClass),
        Event.request("p-inc", keyed, Request.InvokeStateful, delta(2)),
        Event.request("p-flow", Event.emptyAddress, Request.EventFlow,
          "global/Account/p2".getBytes("UTF-8"), Some(EventFlowNode(keyed, "INVOKE"))),
        Event.request("p-ret", Event.emptyAddress, Request.EventFlow, Array.emptyByteArray,
          Some(EventFlowNode(keyed, "RETURN"))),
        Event.request("p-ping", keyed, Request.Ping))
      h.send(sent: _*)
      h.drain()
      assert(h.clientReplies.map(_.eventId).toSet == sent.map(_.eventId).toSet, h.clientReplies)

      // Spark counts input rows once per scan of the source
      assert(dataBatches(h).head.numInputRows == sent.size)
      val plan = h.query.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      val names = plan.collect { case p => p.getClass.getSimpleName }
      assert(names.count(_ == "MicroBatchScanExec") == 1, plan.treeString)
      assert(!names.contains("UnionExec"), plan.treeString)
      assert(names.count(_ == "TransformWithStateExec") == 1, plan.treeString)
    }
  }

  test("rows answered at ingress pass the keyed operator without adding state") {
    val config = JobConfig(knownOperators = Some(Set("global/Account")))
    withHarness(new LocalCounterExecutor, config) { h =>
      val ghost = FunctionType("global", "Ghost", stateful = true)
      val sent = Seq(
        Event.request("n-ping1", FunctionAddress(acct, "a"), Request.Ping),
        Event.request("n-ping2", FunctionAddress(acct, "b"), Request.Ping),
        Event.request("n-ret", Event.emptyAddress, Request.EventFlow, Array.emptyByteArray,
          Some(EventFlowNode(FunctionAddress(acct, "a"), "RETURN"))),
        Event.request("n-ghost", FunctionAddress(ghost, "a"), Request.InvokeStateful, delta(1)),
        Event.request("n-inc-a", FunctionAddress(acct, "a"), Request.InvokeStateful, delta(1)),
        Event.request("n-inc-b", FunctionAddress(acct, "b"), Request.InvokeStateful, delta(1)))
      h.send(sent: _*)
      h.drain()
      val replies = h.clientReplies.map(e => e.eventId -> e.reply).toMap
      assert(replies == Map(
        "n-ping1" -> Some(Reply.Pong), "n-ping2" -> Some(Reply.Pong),
        "n-ret" -> Some(Reply.SuccessfulInvocation), "n-ghost" -> Some(Reply.FailedInvocation),
        "n-inc-a" -> Some(Reply.SuccessfulInvocation), "n-inc-b" -> Some(Reply.SuccessfulInvocation)),
        h.clientReplies)
      val batches = dataBatches(h)
      assert(batches.size == 1, batches)
      assert(batches.head.stateOperators.head.numRowsTotal == 2L, batches.head.json)
    }
  }

  test("a 3-hop flow is answered in its third batch; no batch reads a RETURN row") {
    withHarness(new LocalCounterExecutor) { h =>
      val hops = Seq("h1", "h2", "h3")
      h.send(Event.request("h-flow", Event.emptyAddress, Request.EventFlow,
        hops.tail.map(k => s"global/Account/$k").mkString("|").getBytes("UTF-8"),
        Some(EventFlowNode(FunctionAddress(acct, hops.head), "INVOKE"))))
      h.drain()
      assert(h.clientReplies.map(e => e.eventId -> e.reply) == Seq("h-flow" -> Some(Reply.SuccessfulInvocation)))
      // one row per batch, and each one a hop that reached its entity
      val batches = dataBatches(h)
      assert(batches.map(_.numInputRows) == Seq(1L, 1L, 1L), batches)
      h.send(hops.map(k => Event.request(s"get-$k", FunctionAddress(acct, k), Request.GetState)): _*)
      h.drain()
      assert(h.clientReplies.filter(_.eventId.startsWith("get-"))
        .map(e => e.funAddress.key -> ByteBuffer.wrap(e.payload).getLong).toMap == hops.map(_ -> 1L).toMap)
    }
  }

  test("a failed create goes to the client with one backend call and no state row") {
    CallLog.calls.clear()
    withHarness(new CountingExecutor(failCreateOf = "f-bad")) { h =>
      h.send(Event.request("f-bad", FunctionAddress(acct, ""), Request.InitClass))
      h.drain()
      assert(h.clientReplies.map(e => e.eventId -> e.reply) == Seq("f-bad" -> Some(Reply.FailedInvocation)))
      assert(CallLog.calls.asScala.toSeq == Seq("f-bad"))
      val batches = dataBatches(h)
      assert(batches.size == 1, batches)
      assert(batches.head.stateOperators.head.numRowsTotal == 0L, batches.head.json)
    }
  }

  test("a full stateless window has all its calls in flight at once") {
    // 128 = the create window's StatelessConcurrency; each create takes
    // 1.2 s against the 2 s deadline, so a window that queues any call
    // behind a running one makes it miss its deadline
    val n = StateflowPipeline.StatelessConcurrency
    withHarness(new SlowCreateExecutor(sleepMs = 1200)) { h =>
      h.send((1 to n).map(i => Event.request(s"w$i", FunctionAddress(acct, ""), Request.InitClass)): _*)
      h.drain()
      val replies = h.clientReplies
      assert(replies.size == n)
      assert(replies.count(_.reply.contains(Reply.SuccessfulCreateClass)) == n,
        s"${replies.count(_.reply.contains(Reply.FailedInvocation))} of $n creates failed")
    }
  }

  test("sends from several threads do not corrupt the source rows") {
    // MemoryStream.addData encodes with one shared encoder outside its own
    // lock; the load generator and the feedback sink add concurrently
    withHarness(new LocalCounterExecutor) { h =>
      val failures = new ConcurrentLinkedQueue[Throwable]()
      val senders = (0 until 4).map { t =>
        new Thread(() =>
          try (0 until 200).foreach { i =>
            h.send(Event.request(s"c$t-$i", FunctionAddress(acct, "k" * (i % 50)), Request.Ping,
              Array.fill(i % 97)(1.toByte)))
          } catch { case e: Throwable => failures.add(e) })
      }
      senders.foreach(_.start())
      senders.foreach(_.join())
      h.drain()
      assert(failures.isEmpty, failures.asScala.headOption)
      assert(h.clientReplies.map(_.eventId).toSet.size == 800)
    }
  }
}

/** Event ids of every backend call [[CountingExecutor]] received. */
object CallLog {
  val calls = new ConcurrentLinkedQueue[String]()
}

/** [[LocalCounterExecutor]] that logs each call's event id and throws on
  * the create of one event id.
  */
final class CountingExecutor(failCreateOf: String) extends FunctionExecutor {
  private val inner = new LocalCounterExecutor
  override def invoke(req: EventRequestReply): EventRequestReply = {
    CallLog.calls.add(req.event.eventId)
    if (req.event.eventId == failCreateOf && req.event.request.contains(Request.InitClass))
      throw new RuntimeException(s"create of $failCreateOf rejected")
    inner.invoke(req)
  }
}

/** [[LocalCounterExecutor]] whose creates take `sleepMs` each. */
final class SlowCreateExecutor(sleepMs: Long) extends FunctionExecutor {
  private val inner = new LocalCounterExecutor
  override def invoke(req: EventRequestReply): EventRequestReply = {
    if (req.event.request.contains(Request.InitClass)) Thread.sleep(sleepMs)
    inner.invoke(req)
  }
}
