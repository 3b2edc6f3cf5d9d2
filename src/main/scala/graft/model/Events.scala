package graft.model

/** Case-class data model of the reference wire schema
  * (/root/reference/src/main/resources/event.proto:1-81), Spark-encodable
  * via `Encoders.product`. `payload`/`state` stay opaque `Array[Byte]`
  * exactly as the reference treats them
  * (InvokeStatefulLambda.java:61-65, 109).
  */

/** event.proto:3-7 */
final case class FunctionType(namespace: String, name: String, stateful: Boolean)

/** event.proto:9-12 */
final case class FunctionAddress(funType: FunctionType, key: String) {
  /** Router.java:16-20 */
  def fullName: String = s"${funType.namespace}/${funType.name}"
}

/** event.proto:44-47 (field numbers 5/6) */
final case class EventFlowNode(currentFun: FunctionAddress, currentNodeType: String)

/** Reply enum, event.proto:14-25 */
object Reply {
  val SuccessfulInvocation = 0
  val SuccessfulCreateClass = 1
  val FoundClass = 2
  val KeyNotFound = 3
  val SuccessfulStateRequest = 4
  val FailedInvocation = 5
  val Pong = 6
}

/** Request enum, event.proto:27-42 */
object Request {
  val InvokeStateless = 0
  val InvokeStateful = 1
  val InitClass = 2
  val FindClass = 3
  val GetState = 4
  val SetState = 5
  val UpdateState = 6
  val DeleteState = 7
  val EventFlow = 8
  val Ping = 9
}

/** RouteDirection enum, event.proto:60-64 */
object RouteDirection {
  val EGRESS = 0
  val INTERNAL = 1
  val CLIENT = 2
}

/** event.proto:49-58. The proto `oneof event_type` maps to the two Options;
  * a well-formed event has exactly one of them set.
  */
final case class Event(
    eventId: String,
    funAddress: FunctionAddress,
    request: Option[Int],
    reply: Option[Int],
    payload: Array[Byte],
    current: Option[EventFlowNode]) {

  def isRequest: Boolean = request.isDefined
  def isReply: Boolean = reply.isDefined

  /** Mirror of `event.toBuilder.clearRequest().setReplyValue(r)`
    * (IngressRouter.java:47-50).
    */
  def withReply(r: Int): Event = copy(request = None, reply = Some(r))
}

object Event {
  val emptyAddress: FunctionAddress = FunctionAddress(FunctionType("", "", stateful = false), "")

  def request(id: String, addr: FunctionAddress, req: Int,
      payload: Array[Byte] = Array.emptyByteArray,
      current: Option[EventFlowNode] = None): Event =
    Event(id, addr, Some(req), None, payload, current)
}

/** event.proto:66-75. The `bytes_value` oneof arm is never used by the
  * reference (every construction site sets event_value), so it is omitted.
  * [[graft.routing.Routing]]'s result; it never goes on the wire as a
  * whole (the topics carry `Event` bytes, KafkaSerializeProto.java:24-30,
  * and the plan carries [[WireRoute]]).
  */
final case class Route(direction: Int, routeName: String, key: String, eventValue: Event)

/** The row the streaming plan carries: event.proto:66-75 with its
  * `event_value` arm kept as [[ProtoCodec]] bytes, so no column is a
  * nested struct and the plan never runs the [[Event]] encoder.
  */
final case class WireRoute(direction: Int, routeName: String, key: String, event: Array[Byte])

/** event.proto:77-81 — the executor RPC envelope. */
final case class EventRequestReply(event: Event, state: Array[Byte], operatorName: String)
