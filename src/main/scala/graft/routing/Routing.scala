package graft.routing

import graft.model._

/** Pure routing decisions — the engine's "query semantics".
  *
  * Behavioral mirror of the reference routers (side-effect-free, so they
  * unit-test as tables and run identically in a typed `map` on executors):
  *  - ingress: /root/reference/.../IngressRouter.java:36-100
  *  - egress:  /root/reference/.../EgressRouter.java:32-63
  *
  * One deliberate difference: the reference's egress loops every EventFlow
  * back into the `internal` topic, and a flow that reached its `RETURN`
  * node is answered only when ingress reads it again. Egress here asks
  * [[ingressFlow]] for that answer and sends it to the client at once: the
  * reply bytes are the ones ingress would have produced a micro-batch
  * later, and no state is read in between. Ingress still answers `RETURN`
  * events sent by clients or left in the topic by an older job.
  */
object Routing {

  /** Classify an inbound event into a Route (IngressRouter.java:36-72).
    * Throws on non-request events, matching IngressRouter.java:37-40.
    */
  def ingress(event: Event): Route = {
    if (!event.isRequest)
      throw new IllegalArgumentException(
        s"Trying to route an event which is not a request. The event id ${event.eventId}")

    event.request.get match {
      case Request.Ping =>
        // Ping → Pong short-circuit, key = event id (IngressRouter.java:42-52)
        Route(RouteDirection.EGRESS, "", event.eventId, event.withReply(Reply.Pong))
      case Request.EventFlow =>
        ingressFlow(event)
      case _ if event.funAddress.key.nonEmpty =>
        // Direct invocation of an existing instance (IngressRouter.java:55-61)
        Route(RouteDirection.INTERNAL, event.funAddress.fullName, event.funAddress.key, event)
      case _ =>
        // Empty key ⇒ create a new instance (IngressRouter.java:62-69)
        Route(RouteDirection.INTERNAL, event.funAddress.fullName + "-create", "", event)
    }
  }

  /** EventFlow step routing (IngressRouter.java:74-100). */
  private def ingressFlow(event: Event): Route = {
    val node = event.current.getOrElse(EventFlowNode(Event.emptyAddress, ""))
    val routeName = node.currentFun.fullName
    if (node.currentNodeType == "RETURN")
      Route(RouteDirection.EGRESS, routeName, event.eventId,
        event.withReply(Reply.SuccessfulInvocation))
    else
      Route(RouteDirection.INTERNAL, routeName, node.currentFun.key, event)
  }

  /** Route operator output to client or back into the internal loop
    * (EgressRouter.java:32-47). Throws on anything that is neither an
    * EventFlow request nor a reply (EgressRouter.java:43-46).
    */
  def egress(event: Event): Route = {
    if (event.isRequest && event.request.contains(Request.EventFlow))
      egressFlow(event)
    else if (event.isReply)
      Route(RouteDirection.CLIENT, "", event.eventId, event)
    else
      throw new IllegalArgumentException(
        s"Expected either an EventFlow Request event or Reply, but got ${event.eventId}")
  }

  /** In-flight flows loop back through the internal topic; node
    * advancement happens in the executor (EgressRouter.java:49-63 +
    * TODO:55). A flow whose node is already `RETURN` would be answered by
    * ingress on its next trip without reading state, so egress answers it
    * now: the same reply, one micro-batch and one feedback write sooner.
    */
  private def egressFlow(event: Event): Route = {
    val next = ingressFlow(event)
    if (next.direction == RouteDirection.EGRESS) egress(next.eventValue)
    else Route(RouteDirection.INTERNAL, "", event.eventId, event)
  }

  /** Re-key a create-reply so it joins the stateful flow under its newly
    * assigned key (StateFlowFlinkJob.java:88-95).
    */
  def rekeyCreated(event: Event): Route =
    Route(RouteDirection.INTERNAL, event.funAddress.fullName, event.funAddress.key, event)
}
