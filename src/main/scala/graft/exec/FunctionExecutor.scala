package graft.exec

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.ByteBuffer
import java.util.Base64

import graft.model._

/** Pluggable function backend — the engine-side abstraction of the
  * reference's AWS Lambda dependency (InvokeStatefulLambda.java:86-92,
  * InvokeStatelessLambda.java:81-87). The engine hands the executor an
  * [[EventRequestReply]] envelope (event + opaque state + operator name) and
  * gets one back whose `state` overwrites the stored state wholesale
  * (InvokeStatefulLambda.java:109) and whose `event` is emitted downstream.
  */
trait FunctionExecutor extends Serializable {
  def invoke(request: EventRequestReply): EventRequestReply
}

/** Wire-compatible JSON+Base64 envelope used by the reference's Lambda RPC:
  * request `{"request": "<b64(EventRequestReply)>"}`, response
  * `{"reply": "<b64(EventRequestReply)>"}` (InvokeStatefulLambda.java:89,
  * 104-107). Lets any HTTP/Lambda-hosted function be plugged in without
  * changing the engine; also lets tests assert the exact wire bytes.
  */
object LambdaEnvelope {
  def encodeRequest(rr: EventRequestReply): String =
    s"""{"request": "${Base64.getEncoder.encodeToString(ProtoCodec.encode(rr))}"}"""

  private val b64Field = """"(?:reply|request)"\s*:\s*"([^"]*)"""".r

  def decode(json: String): EventRequestReply = {
    val b64 = b64Field.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"no reply/request field in $json"))
      .group(1)
    ProtoCodec.decodeEventRequestReply(Base64.getDecoder.decode(b64))
  }

  def encodeReply(rr: EventRequestReply): String =
    s"""{"reply": "${Base64.getEncoder.encodeToString(ProtoCodec.encode(rr))}"}"""
}

/** The call both HTTP backends make: POST the request envelope to `url`
  * with `headers`, let `check` refuse the response, decode the reply
  * envelope. One HttpClient per executor instance, one request per call;
  * `timeoutMillis` bounds each call (the engine's stateless path adds its
  * own per-request deadline on top).
  */
private[exec] abstract class HttpEnvelopeExecutor(timeoutMillis: Long)
    extends FunctionExecutor {

  protected def url: String
  protected def headers: Seq[(String, String)]
  /** Throws unless `resp` carries a reply envelope. */
  protected def check(resp: HttpResponse[String]): Unit

  @transient private lazy val client = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(timeoutMillis))
    .build()

  final override def invoke(request: EventRequestReply): EventRequestReply = {
    val req = headers.foldLeft(HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMillis))
        .header("Content-Type", "application/json")) { case (b, (k, v)) => b.header(k, v) }
      .POST(HttpRequest.BodyPublishers.ofString(LambdaEnvelope.encodeRequest(request)))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    check(resp)
    LambdaEnvelope.decode(resp.body())
  }
}

/** HTTP function backend: POSTs the reference's Base64-JSON envelope to a
  * function endpoint and decodes the reply envelope — the deployment shape
  * of the reference's Lambda RPC (InvokeStatefulLambda.java:86-92 invokes
  * through the AWS SDK; any HTTP-fronted function — Lambda function URL,
  * Knative, a plain service — speaks this same envelope). Anything but 200
  * fails the call.
  */
final class HttpFunctionExecutor(endpoint: String,
    timeoutMillis: Long = 2000) extends HttpEnvelopeExecutor(timeoutMillis) {

  protected def url: String = endpoint
  protected def headers: Seq[(String, String)] = Nil

  protected def check(resp: HttpResponse[String]): Unit =
    if (resp.statusCode() != 200)
      throw new RuntimeException(s"function endpoint returned ${resp.statusCode()}")
}

/** AWS-Lambda-Invoke-API-shaped backend — the direct twin of the
  * reference's function client (InvokeStatelessLambda.java:49-65 /
  * InvokeStatefulLambda.java:52-54 build an AWS SDK `InvokeRequest` with a
  * function name and the JSON envelope payload). This adapter speaks the
  * same PUBLIC REST shape that SDK call lowers to —
  * `POST {base}/2015-03-31/functions/{name}/invocations` with
  * `X-Amz-Invocation-Type: RequestResponse` — carrying the identical
  * Base64-JSON envelope, so any Lambda-API-compatible host (the AWS Lambda
  * Runtime Interface Emulator, LocalStack, or a real endpoint behind a
  * signing proxy) plugs in behind the [[FunctionExecutor]] trait unchanged.
  * SigV4 signing/credentials deliberately stay OUT of the engine (a
  * fronting proxy's job): the engine carries zero SDK dependencies.
  *
  * Error surface per the public Invoke API: a non-2xx status fails the
  * call, and a 2xx with the `X-Amz-Function-Error` header set means the
  * function itself raised — both throw rather than emit a corrupt reply.
  */
final class LambdaInvokeExecutor(baseUri: String, functionName: String,
    qualifier: Option[String] = None,
    timeoutMillis: Long = 2000) extends HttpEnvelopeExecutor(timeoutMillis) {

  protected val url: String = {
    val base = baseUri.stripSuffix("/")
    val q = qualifier.map(v => s"?Qualifier=$v").getOrElse("")
    s"$base/2015-03-31/functions/$functionName/invocations$q"
  }

  protected val headers: Seq[(String, String)] = Seq(
    "X-Amz-Invocation-Type" -> "RequestResponse",
    "X-Amz-Log-Type" -> "None")

  protected def check(resp: HttpResponse[String]): Unit = {
    if (resp.statusCode() < 200 || resp.statusCode() > 299)
      throw new RuntimeException(
        s"lambda invoke of $functionName returned ${resp.statusCode()}: ${resp.body()}")
    val fnError = resp.headers().firstValue("X-Amz-Function-Error")
    if (fnError.isPresent)
      throw new RuntimeException(
        s"lambda function $functionName raised ${fnError.get()}: ${resp.body()}")
  }
}

/** Deterministic in-JVM "stateful entity" backend for tests and benchmarks —
  * plays the role of the StateFlow Python Lambda. Implements a counter
  * entity over the opaque 8-byte big-endian state blob plus the EventFlow
  * node-advancement contract the reference delegates to the Lambda
  * (EgressRouter.java:55 TODO).
  *
  * EventFlow payload convention (ours, since the reference's flow plan lives
  * in the Python client): UTF-8 `"ns/name/key|ns/name/key|..."` — the
  * remaining nodes of the flow. Each invocation applies +1 to the current
  * entity's counter, pops the head, and sets `current` to the next node (or
  * node type RETURN when the plan is exhausted).
  */
final class LocalCounterExecutor extends FunctionExecutor {

  private def counter(state: Array[Byte]): Long =
    if (state == null || state.isEmpty) 0L else ByteBuffer.wrap(state).getLong

  private def toState(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array()

  override def invoke(req: EventRequestReply): EventRequestReply = {
    val e = req.event
    e.request match {
      case Some(Request.InitClass) =>
        // Assign a deterministic new key (reference Lambda chooses the key;
        // we derive it from the event id) and initialize the counter.
        val key = s"k-${e.eventId}"
        val addr = e.funAddress.copy(key = key)
        val reply = e.copy(funAddress = addr).withReply(Reply.SuccessfulCreateClass)
        EventRequestReply(reply, toState(0L), req.operatorName)

      case Some(Request.InvokeStateful) =>
        val delta = if (e.payload == null || e.payload.isEmpty) 1L
          else ByteBuffer.wrap(e.payload).getLong
        val v = counter(req.state) + delta
        val reply = e.withReply(Reply.SuccessfulInvocation).copy(payload = toState(v))
        EventRequestReply(reply, toState(v), req.operatorName)

      case Some(Request.GetState) =>
        val v = counter(req.state)
        val reply = e.withReply(Reply.SuccessfulStateRequest).copy(payload = toState(v))
        EventRequestReply(reply, req.state, req.operatorName)

      case Some(Request.SetState) =>
        val reply = e.withReply(Reply.SuccessfulStateRequest)
        EventRequestReply(reply, e.payload, req.operatorName)

      case Some(Request.FindClass) =>
        val found = req.state != null && req.state.nonEmpty
        val r = if (found) Reply.FoundClass else Reply.KeyNotFound
        EventRequestReply(e.withReply(r), req.state, req.operatorName)

      case Some(Request.EventFlow) =>
        val v = counter(req.state) + 1L
        val plan = new String(Option(e.payload).getOrElse(Array.emptyByteArray), "UTF-8")
        val rest = plan.split('|').filter(_.nonEmpty)
        // split limit 3 keeps an empty trailing key ("ns/name/") and a key
        // containing '/' intact; a malformed node ("nsname") degrades to a
        // clean FailedInvocation reply instead of a task-killing MatchError
        val parsed: Option[(EventFlowNode, String)] =
          if (rest.isEmpty)
            Some((EventFlowNode(e.current.map(_.currentFun).getOrElse(Event.emptyAddress), "RETURN"), ""))
          else rest.head.split("/", 3) match {
            case Array(ns, name, key) =>
              Some((EventFlowNode(FunctionAddress(FunctionType(ns, name, stateful = true), key), "INVOKE"),
                rest.tail.mkString("|")))
            case _ => None
          }
        parsed match {
          case Some((nextNode, nextPayload)) =>
            val out = e.copy(current = Some(nextNode), payload = nextPayload.getBytes("UTF-8"))
            EventRequestReply(out, toState(v), req.operatorName)
          case None =>
            EventRequestReply(e.withReply(Reply.FailedInvocation), req.state, req.operatorName)
        }

      case None if e.reply.contains(Reply.SuccessfulCreateClass) =>
        // Create-reply re-keyed into the stateful path (StateFlowFlinkJob
        // .java:88-103): first state write for the new key, reply passes
        // through to egress.
        EventRequestReply(e, toState(0L), req.operatorName)

      case other =>
        val reply = e.withReply(Reply.FailedInvocation)
        EventRequestReply(reply, req.state, req.operatorName)
    }
  }
}
