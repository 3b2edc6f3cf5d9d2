package graft.streaming

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalCounterExecutor
import graft.model._
import graft.routing.Routing

/** The plan carries events as protobuf bytes in flat [[WireRoute]] rows:
  * every encode/decode boundary gives back what plain Scala computes from
  * [[Routing]] and the function backend, and no operator runs the nested
  * [[Event]] encoder.
  */
class WireRouteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val acct = FunctionType("global", "Account", stateful = true)
  private val cart = FunctionType("global", "Cart", stateful = true)
  private def delta(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()

  /** An event with its byte arrays as values, so `==` compares contents. */
  private def view(e: Event) =
    (e.eventId, e.funAddress, e.request, e.reply, e.payload.toSeq, e.current)

  private def routeView(r: Route) = (r.direction, r.routeName, r.key, view(r.eventValue))

  private def decoded(r: WireRoute) =
    (r.direction, r.routeName, r.key, view(ProtoCodec.decodeEvent(r.event)))

  /** What the topology emits for one batch of `events`, in plain Scala:
    * ingress routing, operator validation, the create path with its rekey,
    * the per-operator × key counter state in arrival order, egress routing.
    */
  private def expected(events: Seq[Event], config: JobConfig): Seq[Route] = {
    val executor = new LocalCounterExecutor
    val state = mutable.Map.empty[(String, String), Array[Byte]]
    def invoke(r: Route): Route = {
      val k = (r.routeName, r.key)
      val reply = executor.invoke(
        EventRequestReply(r.eventValue, state.getOrElse(k, Array.emptyByteArray), r.routeName))
      state(k) = reply.state
      Routing.egress(reply.event)
    }
    events.map { e =>
      val r = Routing.ingress(e)
      if (r.direction == RouteDirection.EGRESS) Routing.egress(r.eventValue)
      else if (config.knownOperators.exists(!_.contains(r.routeName.stripSuffix("-create"))))
        Routing.egress(e.withReply(Reply.FailedInvocation))
      else if (r.routeName.endsWith("-create"))
        invoke(Routing.rekeyCreated(executor.invoke(
          EventRequestReply(e, Array.emptyByteArray, e.funAddress.fullName)).event))
      else invoke(r)
    }
  }

  private def sorted[T](xs: Seq[T]): Seq[T] = xs.sortBy(_.toString)

  test("eventsToEgress on a batch Dataset equals Routing and the backend in plain Scala") {
    import spark.implicits._
    val k1 = FunctionAddress(acct, "k1")
    val events = Seq(
      Event.request("ping1", k1, Request.Ping),
      Event.request("init1", FunctionAddress(acct, ""), Request.InitClass),
      Event.request("inc1", k1, Request.InvokeStateful, delta(5)),
      Event.request("inc2", k1, Request.InvokeStateful),                // empty payload: +1
      Event.request("get1", k1, Request.GetState),
      Event.request("stateless1", FunctionAddress(acct, "k2"), Request.InvokeStateless),
      Event.request("flow1", Event.emptyAddress, Request.EventFlow,
        "global/Account/k4".getBytes("UTF-8"),
        Some(EventFlowNode(FunctionAddress(acct, "k3"), "INVOKE"))),
      Event.request("flow2", Event.emptyAddress, Request.EventFlow, Array[Byte](0, 7, 0),
        Some(EventFlowNode(FunctionAddress(acct, "k3"), "RETURN"))),
      Event.request("cart1", FunctionAddress(cart, "c1"), Request.InvokeStateful, delta(1)))
    assert(events.exists(_.request.contains(0)), "request = Some(0) must be in the mix")
    val config = JobConfig(knownOperators = Some(Set("global/Account")))

    val got = StateflowPipeline.eventsToEgress(events.map(ProtoCodec.encode).toDS(),
      new LocalCounterExecutor, config).collect().toSeq
    val want = expected(events, config)
    assert(sorted(got.map(decoded)) == sorted(want.map(routeView)))
    // the model itself is pinned on the cases whose outcome is known
    val byId = want.map(r => r.eventValue.eventId -> r).toMap
    assert(byId("ping1").eventValue.reply.contains(Reply.Pong))
    assert(byId("init1").eventValue.funAddress.key == "k-init1")
    assert(ByteBuffer.wrap(byId("get1").eventValue.payload).getLong == 6L)
    assert(byId("flow1").direction == RouteDirection.INTERNAL)
    assert(byId("flow2").eventValue.payload.toSeq == Seq[Byte](0, 7, 0))
    assert(byId("cart1").eventValue.reply.contains(Reply.FailedInvocation))
  }

  test("Kafka records: key is the event id's UTF-8 bytes, value the routed event's proto bytes") {
    import spark.implicits._
    val events = Seq(
      Event.request("flow-ü", Event.emptyAddress, Request.EventFlow, Array[Byte](0, 1, 0, 0, 2),
        Some(EventFlowNode(FunctionAddress(acct, "k\u0000z"), "INVOKE"))),
      Event.request("pong1", FunctionAddress(acct, "k1"), Request.Ping).withReply(Reply.Pong),
      Event.request("empty", Event.emptyAddress, Request.InvokeStateless)
        .withReply(Reply.SuccessfulInvocation))
    val routes = events.map(Routing.egress)
    assert(routes.head.direction == RouteDirection.INTERNAL)
    val rows = routes.map(r =>
      WireRoute(r.direction, r.routeName, r.key, ProtoCodec.encode(r.eventValue)))

    val records = KafkaSupport.toKafkaRecords(rows.toDS()).collect()
    assert(records.map(_.schema.fieldNames.toSeq).distinct.toSeq == Seq(Seq("key", "value", "topic")))
    val got = records.map(r => (r.getAs[Array[Byte]]("key").toSeq,
      view(ProtoCodec.decodeEvent(r.getAs[Array[Byte]]("value")))))
    assert(got.toSeq == events.map(e => (e.eventId.getBytes("UTF-8").toSeq, view(e))))
    // one write fans out by topic: the in-flight flow hop feeds back
    // through `internal`, the answered events go to `client_reply`
    assert(routes.map(_.direction) == Seq(RouteDirection.INTERNAL,
      RouteDirection.CLIENT, RouteDirection.CLIENT))
    assert(records.map(_.getAs[String]("topic")).toSeq ==
      Seq("internal", "client_reply", "client_reply"))
  }

  /** Whether `t` holds the [[Event]] struct or object anywhere. */
  private def carriesEvent(t: DataType): Boolean = t match {
    case s: StructType => s.fields.exists(f => f.name == "funAddress" || carriesEvent(f.dataType))
    case a: ArrayType => carriesEvent(a.elementType)
    case m: MapType => carriesEvent(m.keyType) || carriesEvent(m.valueType)
    case o: ObjectType => classOf[Event].isAssignableFrom(o.cls) || classOf[Route].isAssignableFrom(o.cls)
    case _ => false
  }

  test("no operator of the streaming plan outputs an Event column") {
    val h = new LoopHarness(spark, new LocalCounterExecutor)
    try {
      h.send(Event.request("g-init", FunctionAddress(acct, ""), Request.InitClass))
      h.drain()
      val keyed = FunctionAddress(acct, "g1")
      h.send(Event.request("g-inc", keyed, Request.InvokeStateful, delta(2)),
        Event.request("g-flow", Event.emptyAddress, Request.EventFlow,
          "global/Account/g2".getBytes("UTF-8"), Some(EventFlowNode(keyed, "INVOKE"))),
        Event.request("g-ping", keyed, Request.Ping))
      h.drain()
      assert(h.clientReplies.map(_.eventId).toSet == Set("g-init", "g-inc", "g-flow", "g-ping"))

      val plan = h.query.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      val nodes = plan.collect { case p => p }
      assert(nodes.exists(_.getClass.getSimpleName == "TransformWithStateExec"), plan.treeString)
      val offenders = nodes.filter(_.output.exists(a => carriesEvent(a.dataType)))
      assert(offenders.isEmpty,
        s"operators with an Event column: ${offenders.map(_.nodeName)}\n${plan.treeString}")
    } finally h.stop()
  }
}
