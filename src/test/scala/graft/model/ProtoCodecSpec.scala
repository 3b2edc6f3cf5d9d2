package graft.model

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip + wire-format tests for the hand-rolled proto3 codec
  * (field numbers per /root/reference/src/main/resources/event.proto).
  * Property-style via raw ScalaCheck Gen sampling (the scalatest-plus
  * bridge isn't in the offline cache).
  */
class ProtoCodecSpec extends AnyFunSuite {

  /** Deterministic 300-sample sweep of a generator. */
  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 300).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val genStr = Gen.alphaNumStr.map(_.take(20))
  private val genFT = for {
    ns <- genStr; n <- genStr; st <- Gen.oneOf(true, false)
  } yield FunctionType(ns, n, st)
  private val genFA = for { ft <- genFT; k <- genStr } yield FunctionAddress(ft, k)
  private val genNode = for {
    fa <- genFA; t <- Gen.oneOf("RETURN", "INVOKE", "SPLIT", "")
  } yield EventFlowNode(fa, t)
  private val genEvent: Gen[Event] = for {
    id <- genStr
    fa <- genFA
    arm <- Gen.choose(0, 2)
    req <- Gen.choose(0, 9)
    rep <- Gen.choose(0, 6)
    payload <- Gen.listOf(Arbitrary.arbByte.arbitrary).map(_.toArray)
    cur <- Gen.option(genNode)
  } yield Event(id, fa,
    if (arm == 0) Some(req) else None,
    if (arm == 1) Some(rep) else None,
    payload, cur)

  private def assertEventEq(a: Event, b: Event): Unit = {
    assert(a.eventId == b.eventId)
    assert(a.funAddress == b.funAddress)
    assert(a.request == b.request)
    assert(a.reply == b.reply)
    assert(java.util.Arrays.equals(a.payload, b.payload))
    assert(a.current == b.current)
  }

  test("Event round-trips through the wire format") {
    forAll(genEvent) { e =>
      assertEventEq(ProtoCodec.decodeEvent(ProtoCodec.encode(e)), e)
    }
  }

  test("EventRequestReply round-trips") {
    val gen = for {
      e <- genEvent; st <- Gen.listOf(Arbitrary.arbByte.arbitrary); op <- genStr
    } yield (e, st, op)
    forAll(gen) { case (e, st, op) =>
      val rr = EventRequestReply(e, st.toArray, op)
      val back = ProtoCodec.decodeEventRequestReply(ProtoCodec.encode(rr))
      assertEventEq(back.event, rr.event)
      assert(java.util.Arrays.equals(back.state, rr.state))
      assert(back.operatorName == rr.operatorName)
    }
  }

  test("proto3 oneof: request=0 (InvokeStateless) survives round-trip") {
    // A zero-valued oneof arm must still be written, unlike a plain field.
    val e = Event("id1", Event.emptyAddress, Some(Request.InvokeStateless), None,
      Array.emptyByteArray, None)
    val back = ProtoCodec.decodeEvent(ProtoCodec.encode(e))
    assert(back.request.contains(0) && back.reply.isEmpty)
  }

  test("known wire bytes: tag layout matches event.proto field numbers") {
    // Event{event_id="a", request=Ping(9)} ⇒
    //   field 1 (wire 2): 0x0A 0x01 'a'; field 3 (wire 0): 0x18 0x09
    val e = Event("a", Event.emptyAddress, Some(Request.Ping), None, Array.emptyByteArray, None)
    assert(ProtoCodec.encode(e).toSeq == Seq[Byte](0x0a, 0x01, 0x61, 0x18, 0x09))
  }

  test("unknown fields are skipped, not fatal") {
    // append an unknown field 15 (varint) to a valid Event encoding
    val base = ProtoCodec.encode(
      Event("x", Event.emptyAddress, Some(Request.Ping), None, Array.emptyByteArray, None))
    val extended = base ++ Array[Byte]((15 << 3).toByte, 0x2a)
    assert(ProtoCodec.decodeEvent(extended).eventId == "x")
  }

  test("malformed wire bytes fail cleanly, never parse silently wrong") {
    // length-delimited field claiming more bytes than the buffer holds
    val overLength = Array[Byte]((1 << 3 | 2).toByte, 60, 'a', 'b')
    intercept[IllegalArgumentException](ProtoCodec.decodeEvent(overLength))
    // varint with its continuation bit set at end-of-buffer (truncated)
    val cutVarint = Array[Byte]((3 << 3).toByte, 0x80.toByte)
    intercept[IllegalArgumentException](ProtoCodec.decodeEvent(cutVarint))
    // negative length-delimited size (varint 0xFFFFFFFF → int -1)
    val negLen = Array[Byte]((1 << 3 | 2).toByte,
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0x0f)
    intercept[IllegalArgumentException](ProtoCodec.decodeEvent(negLen))
    // truncated varint INSIDE a nested message must not silently consume
    // the enclosing message's bytes: fun_address (field 2) whose inner
    // FunctionType.stateful varint is cut at the nested boundary
    val nested = Array[Byte](
      (2 << 3 | 2).toByte, 4,            // Event.fun_address, len 4
      (1 << 3 | 2).toByte, 2,            // FunctionAddress.fun_type, len 2
      (3 << 3).toByte, 0x80.toByte,      // FunctionType.stateful: truncated varint
      (1 << 3 | 2).toByte, 1, 'z')       // Event.event_id = "z" (outside)
    intercept[IllegalArgumentException](ProtoCodec.decodeEvent(nested))
  }
}
