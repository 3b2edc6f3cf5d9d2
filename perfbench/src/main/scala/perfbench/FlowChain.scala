package perfbench

import scala.collection.mutable

import graft.exec.{FunctionExecutor, LocalCounterExecutor, MeteredExecutor}
import graft.model._
import graft.streaming.LoopHarness

/** Closed loop of EventFlow chains through the feedback loop.
  *
  * `chains` chains are always in flight; each visits `hops` entities drawn
  * uniformly from `entities`, and a finished chain is replaced at once.
  * Every hop is one micro-batch plus one re-entry through the source, so
  * the per-batch cost of the streaming layer sets the pace; the in-JVM
  * counter backend costs next to nothing per call.
  *
  * A replacement is handed to the source once the engine has begun the
  * next batch, so it always enters the batch after that: whether a reply
  * read races the engine's next offset read would otherwise decide, run by
  * run, whether chains take hops + 1 or hops + 2 batches. Latency runs from
  * the moment the predecessor's reply was read, and with a fixed number of
  * chains in flight the hop rate follows from it (Little's law).
  */
object FlowChain {
  final case class Params(chains: Int, hops: Int, entities: Int, warmupS: Double)

  private val acct = FunctionType("global", "Account", stateful = true)

  def key(e: Int): String = s"f$e"

  /** The chain as one EventFlow event: the first entity is the current
    * node, the rest ride in the payload (LocalCounterExecutor's plan format).
    */
  def flowEvent(id: String, path: Seq[Int]): Event = {
    val rest = path.tail.map(e => s"global/Account/${key(e)}").mkString("|")
    Event.request(id, FunctionAddress(acct, ""), Request.EventFlow, rest.getBytes("UTF-8"),
      Some(EventFlowNode(FunctionAddress(acct, key(path.head)), "INVOKE")))
  }

  private def ok(e: Event) = e.reply.contains(Reply.SuccessfulInvocation)

  def run(ctx: Ctx, p: Params): Outcome = {
    val spark = ctx.spark
    val sent = mutable.LinkedHashMap.empty[String, Vector[Int]]
    val got = mutable.ArrayBuffer.empty[(String, Boolean)]
    var metered: Option[MeteredExecutor] = None

    // set-up: query start plus one warm-up batch that reads `chains`
    // counters, so ingress, state, egress and the sink have all run once
    val ((harness, warm), setup) = Setup.timed {
      val exec: FunctionExecutor =
        if (ctx.traced) {
          val m = MeteredExecutor(new LocalCounterExecutor, spark.sparkContext)
          metered = Some(m); m
        } else new LocalCounterExecutor
      val h = new LoopHarness(spark, exec)
      val rnd = new java.util.SplittableRandom(ctx.seed * 31)
      val ids = (0 until p.chains).map(i => s"w$i")
      h.send(ids.map(id => Event.request(id, FunctionAddress(acct, key(rnd.nextInt(p.entities))),
        Request.GetState)): _*)
      h.drain()
      (h, ids)
    }

    val d = new Client(harness)
    try {
      val warmIds = warm.toSet
      got ++= d.drain().map(e => e.eventId ->
        (e.reply.contains(Reply.SuccessfulStateRequest) && java.nio.ByteBuffer.wrap(e.payload).getLong == 0L))

      val gen = new Gen.Chains(p.entities, p.hops, ctx.seed)
      val sentAt = mutable.HashMap.empty[String, Long]
      val inWindow = mutable.HashSet.empty[String]
      val latency = mutable.ArrayBuffer.empty[Double]
      val hopsAtBatch = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      var next = 0
      var inFlight = 0
      var w0 = Long.MaxValue
      var w1 = Long.MaxValue
      var launchedInWindow = 0L

      def launch(path: Vector[Int], now: Long): Event = {
        val id = s"c$next"
        next += 1
        inFlight += 1
        sent(id) = path
        sentAt(id) = now
        if (now >= w0 && now < w1) {
          inWindow += id
          launchedInWindow += 1
          ctx.spans.filter(_.followedCount < 200).foreach(_.follow(id))
        }
        flowEvent(id, path)
      }

      // first generation: lengths 1..hops, so completions, and with them
      // the replacements, spread evenly over the batches; excluded from
      // the window, which opens once the whole generation has finished and
      // the loop has run for the warm-up time
      val t00 = System.nanoTime()
      val first = (0 until p.chains).map(i => launch(gen.next().take(1 + i % p.hops), t00))
      val firstIds = mutable.HashSet(first.map(_.eventId): _*)
      d.send(first)

      var edge0: Option[Edge] = None
      var edge1: Option[Edge] = None
      var lastSeen = System.nanoTime()
      while (inFlight > 0) {
        val replies = d.poll()
        val now = System.nanoTime()
        if (replies.isEmpty) {
          if (now - lastSeen > 120L * 1000000000L)
            throw new IllegalStateException("no micro-batch completed for 120 s")
          java.util.concurrent.locks.LockSupport.parkNanos(100000L)
        } else {
          lastSeen = now
          val batchId = d.lastBatchId
          replies.foreach { e =>
            got += e.eventId -> ok(e)
            if (sentAt.contains(e.eventId)) {
              inFlight -= 1
              firstIds -= e.eventId
              hopsAtBatch(batchId) += sent(e.eventId).size
              if (inWindow(e.eventId)) {
                latency += (now - sentAt(e.eventId)) / 1e6
                ctx.spans.filter(_.follows(e.eventId)).foreach(s =>
                  s.add(Span("request", e.eventId, "", s.ms(sentAt(e.eventId)), s.ms(now),
                    Map("hops" -> sent(e.eventId).size))))
              }
            }
          }
          if (firstIds.isEmpty && w0 == Long.MaxValue && now - t00 >= (p.warmupS * 1e9).toLong) {
            w0 = now
            w1 = now + ctx.seconds * 1000000000L
            edge0 = Some(Edge.take(ctx, batchId, metered))
          }
          if (now >= w1 && edge1.isEmpty) edge1 = Some(Edge.take(ctx, batchId, metered))
          if (now < w1) {
            val done = replies.count(e => sentAt.contains(e.eventId))
            if (done > 0) {
              val next = (0 until done).map(_ => launch(gen.next(), now))
              d.awaitNextBatchStarted(500)
              d.send(next)
            }
          }
        }
      }
      val window = d.windowBatches(w0, w1).getOrElse(
        throw new IllegalStateException("fewer than two batches completed in the window"))
      val (tFirst, tLast, ids) = window
      val countedHopsPerS = ids.map(hopsAtBatch).sum / ((tLast - tFirst) / 1e9)
      val hopsPerS = p.chains.toDouble * p.hops / (Stats.mean(latency.toSeq) / 1e3)

      // checks: every chain answered once with success, and every entity's
      // counter equals the hops sent to it
      got ++= d.drain().map(e => e.eventId -> ok(e))
      val replyCheck = Checks.replies(sent.keySet ++ warmIds, got.toSeq)
      d.send((0 until p.entities).map(e =>
        Event.request(s"g$e", FunctionAddress(acct, key(e)), Request.GetState)))
      val observed = d.drain().filter(_.eventId.startsWith("g")).map { e =>
        e.funAddress.key -> java.nio.ByteBuffer.wrap(e.payload).getLong
      }.toMap
      val hops = Checks.hopCounts(sent.values.map(_.map(key)))
      val expected = (0 until p.entities).map(e => key(e) -> hops.getOrElse(key(e), 0L)).toMap
      val counterCheck = Checks.counters(expected, observed)
      val attempted = sent.size.toLong + warmIds.size + p.entities
      val failed = replyCheck.failed.toLong + counterCheck.size

      val dist = Stats.dist(latency.toSeq)

      val layers: Seq[Metric] = if (!ctx.traced) Seq.empty else (for (a <- edge0; b <- edge1)
        yield StreamLayers.window(ctx, harness, d, a, b, warm.size) :+
          Metric("gen.sends", launchedInWindow.toDouble, "count")).getOrElse(Seq.empty)

      Outcome(attempted, failed,
        endToEnd = Seq(
          Metric("setup_s", setup, "s"),
          Metric("throughput_per_s", hopsPerS, "1/s", "flow_hops_per_s"),
          Metric("latency_p50_ms", dist.p50, "ms", "flow_latency_p50_ms"),
          Metric("latency_p99_ms", dist.p99, "ms", "flow_latency_p99_ms")),
        layers = layers,
        params = Seq("chains" -> p.chains, "hops" -> p.hops, "entities" -> p.entities,
          "warmup_s" -> p.warmupS,
          "backend" -> "LocalCounterExecutor", "loop" -> "closed"),
        extra = dist.fields("flow_latency") ++ Seq(
          "window_s" -> (w1 - w0) / 1e9,
          "rate_window_s" -> (tLast - tFirst) / 1e9,
          "batch_intervals_ms" -> d.intervalsMs(w0, w1),
          "hops_per_s_counted_over_whole_batches" -> countedHopsPerS,
          "chains_launched_in_window" -> launchedInWindow,
          "checks" -> Map(
            "chains" -> sent.size, "warmup_reads" -> warmIds.size, "missing_replies" -> replyCheck.missing.size,
            "duplicated_replies" -> replyCheck.duplicated.size,
            "failed_replies" -> replyCheck.wrong.size,
            "unexpected_replies" -> replyCheck.unexpected.size,
            "entities" -> p.entities, "counter_mismatches" -> counterCheck.size,
            "first_mismatches" -> counterCheck.take(5))),
        spans = ctx.spans.map(_.all).getOrElse(Vector.empty))
    } finally harness.stop()
  }
}
