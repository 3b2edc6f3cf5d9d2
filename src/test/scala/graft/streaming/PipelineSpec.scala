package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalCounterExecutor
import graft.model._

/** End-to-end streaming integration: MemoryStream → ingress routing →
  * create path → per-key stateful invoke → egress routing → client sink,
  * with the feedback loop closed through the harness (SURVEY.md §5.3).
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pipeline-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val acct = FunctionType("global", "Account", stateful = true)
  private def delta(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()
  private def asLong(b: Array[Byte]): Long = ByteBuffer.wrap(b).getLong

  private def withHarness(body: LoopHarness => Unit): Unit = {
    val h = new LoopHarness(spark, new LocalCounterExecutor)
    try body(h) finally h.stop()
  }

  private def counterScenario(h: LoopHarness): Unit = {
    // InitClass with empty key → create path assigns key k-init1
    h.send(Event.request("init1", FunctionAddress(acct, ""), Request.InitClass))
    h.drain()
    val created = h.clientReplies.find(_.reply.contains(Reply.SuccessfulCreateClass))
    assert(created.isDefined, s"no create reply in ${h.clientReplies}")
    val key = created.get.funAddress.key
    assert(key == "k-init1")

    // three stateful increments against the assigned key
    val keyed = FunctionAddress(acct, key)
    h.send(
      Event.request("i1", keyed, Request.InvokeStateful, delta(1)),
      Event.request("i2", keyed, Request.InvokeStateful, delta(1)),
      Event.request("i3", keyed, Request.InvokeStateful, delta(1)))
    h.drain()

    // GetState must observe counter == 3 (state persisted across batches)
    h.send(Event.request("get1", keyed, Request.GetState))
    h.drain()
    val got = h.clientReplies.find(_.eventId == "get1")
    assert(got.isDefined)
    assert(got.get.reply.contains(Reply.SuccessfulStateRequest))
    assert(asLong(got.get.payload) == 3L)
  }

  test("counter entity: init → +1 ×3 → get == 3 (transformWithState)") {
    withHarness(counterScenario)
  }

  test("ping short-circuits to Pong without touching state") {
    withHarness { h =>
      h.send(Event.request("p1", Event.emptyAddress, Request.Ping))
      h.drain()
      val pong = h.clientReplies.find(_.eventId == "p1")
      assert(pong.isDefined && pong.get.reply.contains(Reply.Pong))
    }
  }

  test("EventFlow walks a 2-hop plan through the feedback loop and returns") {
    withHarness { h =>
      // plan: invoke global/Account/ka then global/Account/kb, then RETURN.
      val first = EventFlowNode(FunctionAddress(acct, "ka"), "INVOKE")
      val plan = "global/Account/kb"
      h.send(Event.request("f1", FunctionAddress(acct, ""), Request.EventFlow,
        plan.getBytes("UTF-8"), Some(first)))
      h.drain()
      val done = h.clientReplies.find(_.eventId == "f1")
      assert(done.isDefined, s"flow did not return: ${h.clientReplies}")
      assert(done.get.reply.contains(Reply.SuccessfulInvocation))

      // each hop incremented its entity's counter exactly once
      h.send(Event.request("gka", FunctionAddress(acct, "ka"), Request.GetState))
      h.send(Event.request("gkb", FunctionAddress(acct, "kb"), Request.GetState))
      h.drain()
      assert(asLong(h.clientReplies.find(_.eventId == "gka").get.payload) == 1L)
      assert(asLong(h.clientReplies.find(_.eventId == "gkb").get.payload) == 1L)
    }
  }

  test("per-key FIFO within one batch: SetState then increments apply in order") {
    withHarness { h =>
      val k = FunctionAddress(acct, "ord1")
      // all three in ONE batch; only arrival order gives 102 (SetState
      // first), a reordering yields 100 (SetState overwrites) or 2
      h.send(
        Event.request("s1", k, Request.SetState, delta(100)),
        Event.request("o1", k, Request.InvokeStateful, delta(1)),
        Event.request("o2", k, Request.InvokeStateful, delta(1)))
      h.drain()
      h.send(Event.request("go", k, Request.GetState))
      h.drain()
      assert(asLong(h.clientReplies.find(_.eventId == "go").get.payload) == 102L)
    }
  }

  test("per-key isolation: interleaved keys accumulate independently") {
    withHarness { h =>
      val ka = FunctionAddress(acct, "x1")
      val kb = FunctionAddress(acct, "x2")
      h.send(
        Event.request("a1", ka, Request.InvokeStateful, delta(5)),
        Event.request("b1", kb, Request.InvokeStateful, delta(7)),
        Event.request("a2", ka, Request.InvokeStateful, delta(5)))
      h.drain()
      h.send(Event.request("ga", ka, Request.GetState), Event.request("gb", kb, Request.GetState))
      h.drain()
      assert(asLong(h.clientReplies.find(_.eventId == "ga").get.payload) == 10L)
      assert(asLong(h.clientReplies.find(_.eventId == "gb").get.payload) == 7L)
    }
  }

  test("per-operator state namespace: same key under two operators stays isolated") {
    // The reference runs one InvokeStatefulLambda (hence one ValueState
    // namespace) PER OPERATOR (StateFlowFlinkJob.java:101-106 inside the
    // operators loop); entity key 'u1' of global/Account and entity key
    // 'u1' of global/Cart must not share a state blob.
    withHarness { h =>
      val cart = FunctionType("global", "Cart", stateful = true)
      val accU1 = FunctionAddress(acct, "u1")
      val cartU1 = FunctionAddress(cart, "u1")
      h.send(
        Event.request("acc1", accU1, Request.InvokeStateful, delta(10)),
        Event.request("cart1", cartU1, Request.InvokeStateful, delta(3)))
      h.drain()
      h.send(
        Event.request("gacc", accU1, Request.GetState),
        Event.request("gcart", cartU1, Request.GetState))
      h.drain()
      assert(asLong(h.clientReplies.find(_.eventId == "gacc").get.payload) == 10L,
        "Account/u1 state corrupted by Cart/u1")
      assert(asLong(h.clientReplies.find(_.eventId == "gcart").get.payload) == 3L,
        "Cart/u1 state corrupted by Account/u1")
    }
  }

  test("stateless create path: one stuck request times out alone at ~2s, others complete") {
    // Mirrors AsyncDataStream.unorderedWait semantics (StateFlowFlinkJob
    // .java:86-87): per-request timeout, no head-of-line blocking. The
    // stuck request must yield FailedInvocation at ~2 s — not 2 s × batch —
    // and must not delay the other creates in the same partition.
    val h = new LoopHarness(spark, new SlowOneExecutor("slow1", 30000))
    try {
      val t0 = System.nanoTime()
      h.send(
        Event.request("slow1", FunctionAddress(acct, ""), Request.InitClass),
        Event.request("fast1", FunctionAddress(acct, ""), Request.InitClass),
        Event.request("fast2", FunctionAddress(acct, ""), Request.InitClass),
        Event.request("fast3", FunctionAddress(acct, ""), Request.InitClass))
      h.drain()
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      val replies = h.clientReplies
      assert(replies.count(_.reply.contains(Reply.SuccessfulCreateClass)) == 3,
        s"fast creates lost: $replies")
      assert(replies.find(_.eventId == "slow1").exists(_.reply.contains(Reply.FailedInvocation)),
        s"stuck request did not fail cleanly: $replies")
      // pooled-budget semantics would wait 2s × 4 = 8s+ (or the full 30s
      // sleep); per-request deadline completes the batch shortly after 2s
      assert(elapsedMs < 15000, s"batch blocked on the stuck request: ${elapsedMs}ms")
    } finally h.stop()
  }

  test("operator validation: events for unlisted operators fail cleanly") {
    // Reference parity for the --operators list (StateFlowFlinkJob.java:56
    // -66): an event addressed to an operator with no side output would
    // kill the reference job; with knownOperators set we return
    // FailedInvocation instead while listed operators work normally.
    val h = new LoopHarness(spark, new LocalCounterExecutor,
      config = JobConfig(knownOperators = Some(Set("global/Account"))))
    try {
      val ghost = FunctionType("global", "Ghost", stateful = true)
      h.send(
        Event.request("ok1", FunctionAddress(acct, "v1"), Request.InvokeStateful, delta(2)),
        Event.request("no1", FunctionAddress(ghost, "v1"), Request.InvokeStateful, delta(2)))
      h.drain()
      val ok = h.clientReplies.find(_.eventId == "ok1")
      val no = h.clientReplies.find(_.eventId == "no1")
      assert(ok.exists(_.reply.contains(Reply.SuccessfulInvocation)), s"got ${h.clientReplies}")
      assert(no.exists(_.reply.contains(Reply.FailedInvocation)), s"got ${h.clientReplies}")
    } finally h.stop()
  }

  test("EventFlow: malformed plan node degrades to FailedInvocation, not a task error") {
    val ex = new LocalCounterExecutor
    val e = Event.request("bad1", FunctionAddress(acct, "k1"), Request.EventFlow,
      "not-a-valid-node".getBytes("UTF-8"),
      Some(EventFlowNode(FunctionAddress(acct, "k1"), "INVOKE")))
    val out = ex.invoke(EventRequestReply(e, Array.emptyByteArray, "global/Account"))
    assert(out.event.reply.contains(Reply.FailedInvocation))
    // empty trailing key is preserved, not a MatchError (split limit 3)
    val ok = Event.request("ok1", FunctionAddress(acct, "k1"), Request.EventFlow,
      "global/Account/".getBytes("UTF-8"),
      Some(EventFlowNode(FunctionAddress(acct, "k1"), "INVOKE")))
    val out2 = ex.invoke(EventRequestReply(ok, Array.emptyByteArray, "global/Account"))
    assert(out2.event.current.exists(n => n.currentFun.key == "" && n.currentNodeType == "INVOKE"))
  }

  test("EventFlow soak: four interleaved 52-hop flows keep per-key FIFO and state isolation") {
    // The reference's core loop at depth (r8 soak): each flow walks 52
    // hops through the Kafka-loop analogue — one micro-batch + feedback
    // re-entry per hop — with all four flows IN FLIGHT AT ONCE over the
    // SAME four entities, rotated so every batch interleaves different
    // keys. Counters are non-idempotent (+1 per visit), so the exact
    // final counts prove (a) no hop was lost or duplicated across ≥ 52
    // feedback micro-batches, (b) per-key serialization held while four
    // flows hammered each entity concurrently, and (c) state namespaces
    // stayed isolated (each key's count is exactly its visit total).
    withHarness { h =>
      val keys = Vector("soak-a", "soak-b", "soak-c", "soak-d")
      val Hops = 52
      for (i <- keys.indices) {
        // flow i starts at keys(i) and round-robins: 52 hops → 13 visits
        // per key per flow
        val rest = (1 until Hops)
          .map(j => s"global/Account/${keys((i + j) % keys.size)}")
          .mkString("|")
        h.send(Event.request(s"soak$i",
          FunctionAddress(acct, ""), Request.EventFlow,
          rest.getBytes("UTF-8"),
          Some(EventFlowNode(FunctionAddress(acct, keys(i)), "INVOKE"))))
      }
      h.drain()
      val done = keys.indices.map(i => h.clientReplies.find(_.eventId == s"soak$i"))
      assert(done.forall(_.exists(_.reply.contains(Reply.SuccessfulInvocation))),
        s"not all flows returned: ${h.clientReplies.map(_.eventId)}")
      keys.foreach { k =>
        h.send(Event.request(s"g-$k", FunctionAddress(acct, k), Request.GetState))
      }
      h.drain()
      keys.foreach { k =>
        val got = h.clientReplies.find(_.eventId == s"g-$k")
        assert(got.isDefined, s"no GetState reply for $k")
        // 4 flows × 13 visits each
        assert(asLong(got.get.payload) == Hops.toLong,
          s"$k counter ${asLong(got.get.payload)}, want $Hops")
      }
    }
  }
}

/** Delegates to LocalCounterExecutor but stalls one event id — used to prove
  * the stateless path's per-request (not pooled) timeout.
  */
final class SlowOneExecutor(slowId: String, sleepMs: Long)
    extends graft.exec.FunctionExecutor {
  private val inner = new LocalCounterExecutor
  override def invoke(req: graft.model.EventRequestReply): graft.model.EventRequestReply = {
    // stall only the create-path invocation: the timed-out event goes to
    // the client as FailedInvocation without a second backend call
    if (req.event.eventId == slowId && req.event.request.contains(Request.InitClass))
      Thread.sleep(sleepMs)
    inner.invoke(req)
  }
}
