package graft.routing

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** Table tests of the pure routing core, one per fixture in FIXTURES.md §A
  * (semantics mirrored from IngressRouter.java:36-100 /
  * EgressRouter.java:32-63).
  */
class RoutingSpec extends AnyFunSuite {

  private val addr = FunctionAddress(FunctionType("global", "Account", stateful = true), "k1")
  private val noKey = addr.copy(key = "")

  test("ping → EGRESS Pong keyed by event id") {
    val r = Routing.ingress(Event.request("e1", noKey, Request.Ping))
    assert(r.direction == RouteDirection.EGRESS)
    assert(r.key == "e1")
    assert(r.eventValue.reply.contains(Reply.Pong))
    assert(r.eventValue.request.isEmpty)
  }

  test("keyed request → INTERNAL ns/name with fun key") {
    val r = Routing.ingress(Event.request("e2", addr, Request.InvokeStateful))
    assert(r.direction == RouteDirection.INTERNAL)
    assert(r.routeName == "global/Account")
    assert(r.key == "k1")
  }

  test("empty key → INTERNAL ns/name-create with empty key") {
    val r = Routing.ingress(Event.request("e3", noKey, Request.InitClass))
    assert(r.direction == RouteDirection.INTERNAL)
    assert(r.routeName == "global/Account-create")
    assert(r.key == "")
  }

  test("EventFlow mid-flow → INTERNAL to current_fun") {
    val cur = EventFlowNode(addr, "INVOKE_SPLIT")
    val r = Routing.ingress(Event.request("e4", noKey, Request.EventFlow, current = Some(cur)))
    assert(r.direction == RouteDirection.INTERNAL)
    assert(r.routeName == "global/Account")
    assert(r.key == "k1")
    assert(r.eventValue.request.contains(Request.EventFlow))
  }

  test("EventFlow RETURN → EGRESS SuccessfulInvocation") {
    val cur = EventFlowNode(addr, "RETURN")
    val r = Routing.ingress(Event.request("e5", noKey, Request.EventFlow, current = Some(cur)))
    assert(r.direction == RouteDirection.EGRESS)
    assert(r.key == "e5")
    assert(r.eventValue.reply.contains(Reply.SuccessfulInvocation))
  }

  test("reply at ingress throws") {
    val e = Event("e6", addr, None, Some(Reply.SuccessfulInvocation), Array.emptyByteArray, None)
    assertThrows[IllegalArgumentException](Routing.ingress(e))
  }

  test("egress: reply → CLIENT keyed by event id") {
    val e = Event("e7", addr, None, Some(Reply.SuccessfulInvocation), Array.emptyByteArray, None)
    val r = Routing.egress(e)
    assert(r.direction == RouteDirection.CLIENT)
    assert(r.key == "e7")
  }

  test("egress: in-flight EventFlow → INTERNAL loop") {
    val cur = EventFlowNode(addr, "INVOKE")
    val e = Event.request("e8", noKey, Request.EventFlow, current = Some(cur))
    val r = Routing.egress(e)
    assert(r.direction == RouteDirection.INTERNAL)
    assert(r.key == "e8")
  }

  /** Deterministic 300-sample sweep of a generator. */
  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 300).foreach(i => g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f))

  private val genStr = Gen.alphaNumStr.map(_.take(20))
  private val genFA = for {
    ns <- genStr; n <- genStr; st <- Gen.oneOf(true, false); k <- genStr
  } yield FunctionAddress(FunctionType(ns, n, st), k)
  /** An EventFlow request as a function returns it, at a node of type `nodeType`. */
  private def genFlow(nodeType: Gen[String]): Gen[Event] = for {
    id <- genStr; fa <- genFA; cur <- genFA; t <- nodeType
    payload <- Gen.listOf(Arbitrary.arbByte.arbitrary).map(_.toArray)
  } yield Event.request(id, fa, Request.EventFlow, payload, Some(EventFlowNode(cur, t)))

  private def wire(r: Route) = (r.direction, r.routeName, r.key, ProtoCodec.encode(r.eventValue).toSeq)

  test("egress: a flow at its RETURN node gets the reply ingress would give a trip later") {
    forAll(genFlow(Gen.const("RETURN"))) { e =>
      val looped = Routing.ingress(ProtoCodec.decodeEvent(ProtoCodec.encode(e)))
      assert(wire(Routing.egress(e)) == wire(Routing.egress(looped.eventValue)), e)
      assert(Routing.egress(e).direction == RouteDirection.CLIENT)
      assert(Routing.egress(e).eventValue.reply.contains(Reply.SuccessfulInvocation))
    }
  }

  test("egress: a flow at an INVOKE or other non-RETURN node still loops back INTERNAL") {
    forAll(genFlow(Gen.oneOf("INVOKE", "INVOKE_SPLIT", ""))) { e =>
      val r = Routing.egress(e)
      assert(r.direction == RouteDirection.INTERNAL, e)
      assert(r.key == e.eventId)
      assert(r.eventValue == e)
    }
  }

  test("egress: non-flow request throws") {
    val e = Event.request("e9", addr, Request.InvokeStateful)
    assertThrows[IllegalArgumentException](Routing.egress(e))
  }

  test("rekey after create uses newly assigned key") {
    val created = Event("e10", addr.copy(key = "k-new"), None,
      Some(Reply.SuccessfulCreateClass), Array.emptyByteArray, None)
    val r = Routing.rekeyCreated(created)
    assert(r.direction == RouteDirection.INTERNAL)
    assert(r.routeName == "global/Account")
    assert(r.key == "k-new")
  }
}
