package graft.model

import java.io.ByteArrayOutputStream

/** Hand-rolled proto3 wire-format codec for the event-plane messages.
  *
  * The container ships no protobuf-java runtime, so we implement the (tiny)
  * subset of the wire format the schema needs: varint (wire type 0) for
  * bool/enum, and length-delimited (wire type 2) for strings/bytes/nested
  * messages. Field numbers follow /root/reference/src/main/resources/
  * event.proto exactly, so bytes produced here are parseable by any real
  * protobuf stack and vice versa (mirrors KafkaSerializeProto.java:24-30 /
  * KafkaDeserializeProto.java:11-13).
  *
  * proto3 semantics honored: default values (empty string, false, enum 0)
  * are not written; `oneof` arms are always written when set, even at
  * default value (that is how proto3 distinguishes `request=InvokeStateless`
  * from "no request").
  */
object ProtoCodec {

  // ----------------------------------------------------------- primitives

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private def keyOf(field: Int, wireType: Int): Long = (field.toLong << 3) | wireType

  private def writeTag(out: ByteArrayOutputStream, field: Int, wireType: Int): Unit =
    writeVarint(out, keyOf(field, wireType))

  private def writeString(out: ByteArrayOutputStream, field: Int, s: String): Unit =
    if (s != null && s.nonEmpty) writeBytesField(out, field, s.getBytes("UTF-8"))

  private def writeBytesField(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    writeTag(out, field, 2)
    writeVarint(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private def writeBool(out: ByteArrayOutputStream, field: Int, v: Boolean): Unit =
    if (v) { writeTag(out, field, 0); writeVarint(out, 1L) }

  /** enum written unconditionally (oneof arm). */
  private def writeEnumAlways(out: ByteArrayOutputStream, field: Int, v: Int): Unit = {
    writeTag(out, field, 0)
    writeVarint(out, v.toLong)
  }

  private def writeMessage(out: ByteArrayOutputStream, field: Int, body: Array[Byte]): Unit =
    if (body.nonEmpty) writeBytesField(out, field, body)

  /** message written even when empty (oneof arm / explicitly-present). */
  private def writeMessageAlways(out: ByteArrayOutputStream, field: Int, body: Array[Byte]): Unit =
    writeBytesField(out, field, body)

  // ------------------------------------------------------------- encoders

  def encode(ft: FunctionType): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeString(out, 1, ft.namespace)
    writeString(out, 2, ft.name)
    writeBool(out, 3, ft.stateful)
    out.toByteArray
  }

  def encode(fa: FunctionAddress): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeMessage(out, 1, encode(fa.funType))
    writeString(out, 2, fa.key)
    out.toByteArray
  }

  def encode(n: EventFlowNode): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeMessage(out, 5, encode(n.currentFun))
    writeString(out, 6, n.currentNodeType)
    out.toByteArray
  }

  def encode(e: Event): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeString(out, 1, e.eventId)
    writeMessage(out, 2, encode(e.funAddress))
    e.request.foreach(writeEnumAlways(out, 3, _))
    e.reply.foreach(writeEnumAlways(out, 4, _))
    if (e.payload != null && e.payload.nonEmpty) writeBytesField(out, 5, e.payload)
    e.current.foreach(c => writeMessageAlways(out, 6, encode(c)))
    out.toByteArray
  }

  def encode(rr: EventRequestReply): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeMessage(out, 1, encode(rr.event))
    if (rr.state != null && rr.state.nonEmpty) writeBytesField(out, 2, rr.state)
    writeString(out, 3, rr.operatorName)
    out.toByteArray
  }

  // -------------------------------------------------------------- parsing

  private final class Reader(buf: Array[Byte], from: Int, to: Int) {
    var pos: Int = from
    def hasMore: Boolean = pos < to

    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      while (true) {
        // bound against the enclosing slice, not the whole buffer: a
        // truncated varint inside a nested message must fail cleanly, not
        // silently consume the enclosing message's bytes
        if (pos >= to) throw new IllegalArgumentException("truncated message")
        val b = buf(pos)
        pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
        if (shift > 63) throw new IllegalArgumentException("varint too long")
      }
      result
    }

    def readLenDelim(): (Int, Int) = {
      val len = readVarint().toInt
      // overflow-safe: `pos + len > to` wraps negative for len near 2^31
      if (len < 0 || len > to - pos) throw new IllegalArgumentException("truncated message")
      val start = pos
      pos += len
      (start, start + len)
    }

    def skip(wireType: Int): Unit = {
      wireType match {
        case 0 => readVarint()
        case 1 => pos += 8
        case 2 => val _ = readLenDelim()
        case 5 => pos += 4
        case w => throw new IllegalArgumentException(s"unsupported wire type $w")
      }
      if (pos > to) throw new IllegalArgumentException("truncated message")
    }
  }

  private def str(buf: Array[Byte], r: (Int, Int)): String =
    new String(buf, r._1, r._2 - r._1, "UTF-8")

  private def bytes(buf: Array[Byte], r: (Int, Int)): Array[Byte] =
    java.util.Arrays.copyOfRange(buf, r._1, r._2)

  private def parseFunctionType(buf: Array[Byte], from: Int, to: Int): FunctionType = {
    var namespace = ""; var name = ""; var stateful = false
    val r = new Reader(buf, from, to)
    while (r.hasMore) {
      val key = r.readVarint()
      ((key >> 3).toInt, (key & 7).toInt) match {
        case (1, 2) => namespace = str(buf, r.readLenDelim())
        case (2, 2) => name = str(buf, r.readLenDelim())
        case (3, 0) => stateful = r.readVarint() != 0
        case (_, w) => r.skip(w)
      }
    }
    FunctionType(namespace, name, stateful)
  }

  private def parseFunctionAddress(buf: Array[Byte], from: Int, to: Int): FunctionAddress = {
    var ft = FunctionType("", "", stateful = false); var key = ""
    val r = new Reader(buf, from, to)
    while (r.hasMore) {
      val k = r.readVarint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => val d = r.readLenDelim(); ft = parseFunctionType(buf, d._1, d._2)
        case (2, 2) => key = str(buf, r.readLenDelim())
        case (_, w) => r.skip(w)
      }
    }
    FunctionAddress(ft, key)
  }

  private def parseFlowNode(buf: Array[Byte], from: Int, to: Int): EventFlowNode = {
    var fa = Event.emptyAddress; var nt = ""
    val r = new Reader(buf, from, to)
    while (r.hasMore) {
      val k = r.readVarint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (5, 2) => val d = r.readLenDelim(); fa = parseFunctionAddress(buf, d._1, d._2)
        case (6, 2) => nt = str(buf, r.readLenDelim())
        case (_, w) => r.skip(w)
      }
    }
    EventFlowNode(fa, nt)
  }

  def decodeEvent(buf: Array[Byte]): Event = decodeEvent(buf, 0, buf.length)

  private def decodeEvent(buf: Array[Byte], from: Int, to: Int): Event = {
    var eventId = ""
    var addr = Event.emptyAddress
    var request: Option[Int] = None
    var reply: Option[Int] = None
    var payload = Array.emptyByteArray
    var current: Option[EventFlowNode] = None
    val r = new Reader(buf, from, to)
    while (r.hasMore) {
      val k = r.readVarint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => eventId = str(buf, r.readLenDelim())
        case (2, 2) => val d = r.readLenDelim(); addr = parseFunctionAddress(buf, d._1, d._2)
        case (3, 0) => request = Some(r.readVarint().toInt); reply = None
        case (4, 0) => reply = Some(r.readVarint().toInt); request = None
        case (5, 2) => payload = bytes(buf, r.readLenDelim())
        case (6, 2) => val d = r.readLenDelim(); current = Some(parseFlowNode(buf, d._1, d._2))
        case (_, w) => r.skip(w)
      }
    }
    Event(eventId, addr, request, reply, payload, current)
  }

  def decodeEventRequestReply(buf: Array[Byte]): EventRequestReply = {
    var ev: Event = Event("", Event.emptyAddress, None, None, Array.emptyByteArray, None)
    var state = Array.emptyByteArray
    var op = ""
    val r = new Reader(buf, 0, buf.length)
    while (r.hasMore) {
      val k = r.readVarint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => val d = r.readLenDelim(); ev = decodeEvent(buf, d._1, d._2)
        case (2, 2) => state = bytes(buf, r.readLenDelim())
        case (3, 2) => op = str(buf, r.readLenDelim())
        case (_, w) => r.skip(w)
      }
    }
    EventRequestReply(ev, state, op)
  }
}
