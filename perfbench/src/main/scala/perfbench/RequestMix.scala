package perfbench

import java.nio.ByteBuffer
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.exec.{FunctionExecutor, HttpFunctionExecutor, MeteredExecutor}
import graft.model._
import graft.streaming.LoopHarness

/** Open loop of single-hop requests against the HTTP function backend.
  *
  * Every `tickMs` the generator sends `rate * tickMs / 1000` requests due
  * at that tick: 70% InvokeStateful, 20% GetState, 5% InitClass, 5% Ping,
  * over Zipf(`zipfS`) keys of `entities` entities created with SetState
  * during set-up. The backend is [[FnHost]], which adds `delayMs` to every
  * call once set-up is over. Latency runs from a request's due time, so a
  * stall of the generator counts against the requests it delayed.
  */
object RequestMix {
  final case class Params(rate: Int, tickMs: Int, entities: Int, zipfS: Double,
      delayMs: Double, warmupS: Double)

  /** Share of the offered rate the window must complete. A loop that
    * falls behind never queues in the source: each micro-batch takes
    * every send made before it starts, so the batches grow instead and
    * the replies lag the sends. Latency then measures how far the backlog
    * grew, not the loop, and such a run is counted as failed. Counted
    * over the whole batches of the window, a loop that keeps up completes
    * the rate give or take one tick's sends and the drift of its batch
    * time.
    */
  val KeptUpShare = 0.95

  private val acct = FunctionType("global", "Account", stateful = true)
  private def addr(e: Int) = FunctionAddress(acct, s"m$e")
  private def bytes(v: Long) = ByteBuffer.allocate(8).putLong(v).array()
  private def long(b: Array[Byte]) =
    if (b == null || b.length != 8) Long.MinValue else ByteBuffer.wrap(b).getLong

  /** What the reply to one request must be; `value` is the counter an
    * invoke must return or a read must see, given per-key FIFO order.
    */
  final case class Expect(kind: Gen.Kind, value: Long, dueNs: Long)

  def matches(id: String, x: Expect, e: Event): Boolean = x.kind match {
    case Gen.Write => e.reply.contains(Reply.SuccessfulStateRequest)
    case Gen.Invoke => e.reply.contains(Reply.SuccessfulInvocation) && long(e.payload) == x.value
    case Gen.Read => e.reply.contains(Reply.SuccessfulStateRequest) && long(e.payload) == x.value
    case Gen.Create => e.reply.contains(Reply.SuccessfulCreateClass) && e.funAddress.key == s"k-$id"
    case Gen.Ping => e.reply.contains(Reply.Pong)
  }

  def run(ctx: Ctx, p: Params): Outcome = {
    val host = new FnHost(ctx.traced, ctx.spans)
    try measure(ctx, p, host) finally host.stop()
  }

  private def measure(ctx: Ctx, p: Params, host: FnHost): Outcome = {
    val spark = ctx.spark
    val init = { val r = new SplittableRandom(ctx.seed * 7 + 3); Array.fill(p.entities)(r.nextLong(1000)) }
    val expect = mutable.HashMap.empty[String, Expect]
    val got = mutable.ArrayBuffer.empty[(String, Boolean)]
    var metered: Option[MeteredExecutor] = None

    // set-up: query start, then one batch that sets every entity's
    // counter and warms the read, create and ping paths behind it (per-key
    // order puts each read after its entity's SetState)
    val ((harness, setupExpect), setup) = Setup.timed {
      host.delayNanos = 0L
      val exec: FunctionExecutor = {
        val http = new HttpFunctionExecutor(host.endpoint)
        if (ctx.traced) { val m = MeteredExecutor(http, spark.sparkContext); metered = Some(m); m }
        else http
      }
      val h = new LoopHarness(spark, exec)
      val xs = mutable.LinkedHashMap.empty[String, Expect]
      val writes = (0 until p.entities).map { e =>
        xs(s"s$e") = Expect(Gen.Write, 0L, 0L)
        Event.request(s"s$e", addr(e), Request.SetState, bytes(init(e)))
      }
      val rnd = new SplittableRandom(ctx.seed * 11)
      val warm = (0 until 200).map { i =>
        val e = rnd.nextInt(p.entities)
        xs(s"wr$i") = Expect(Gen.Read, init(e), 0L)
        Event.request(s"wr$i", addr(e), Request.GetState)
      } ++ (0 until 20).flatMap { i =>
        xs(s"wc$i") = Expect(Gen.Create, 0L, 0L)
        xs(s"wp$i") = Expect(Gen.Ping, 0L, 0L)
        Seq(Event.request(s"wc$i", FunctionAddress(acct, ""), Request.InitClass),
          Event.request(s"wp$i", addr(i), Request.Ping))
      }
      h.send(writes ++ warm: _*)
      h.drain()
      (h, xs)
    }

    val d = new Client(harness)
    def take(replies: Seq[Event]): Unit = replies.foreach { e =>
      got += e.eventId -> expect.get(e.eventId).exists(x => matches(e.eventId, x, e))
    }
    try {
      expect ++= setupExpect
      take(d.drain())

      host.delayNanos = (p.delayMs * 1e6).toLong
      val mix = new Gen.Mix(p.entities, p.zipfS, ctx.seed)
      val counter = init.clone()
      val touched = mutable.BitSet.empty
      val perTick = p.rate * p.tickMs / 1000
      val tickNs = p.tickMs * 1000000L
      val start = System.nanoTime()
      val w0 = start + (p.warmupS * 1e9).toLong
      val w1 = w0 + ctx.seconds * 1000000000L
      val latency = mutable.ArrayBuffer.empty[Double]
      val repliesAtBatch = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      var tick = 0L
      var lateMax = 0.0
      var sentOpen = 0L
      var sentInWindow = 0L
      var answeredOpen = 0L
      var backlogEnd = -1L
      var edge0: Option[Edge] = None
      var edge1: Option[Edge] = None

      def request(id: String, due: Long): Event = {
        val r = mix.next()
        val e = r.entity
        r.kind match {
          case Gen.Invoke =>
            counter(e) += r.delta
            touched += e
            expect(id) = Expect(Gen.Invoke, counter(e), due)
            Event.request(id, addr(e), Request.InvokeStateful, bytes(r.delta))
          case Gen.Read =>
            expect(id) = Expect(Gen.Read, counter(e), due)
            Event.request(id, addr(e), Request.GetState)
          case Gen.Create =>
            expect(id) = Expect(Gen.Create, 0L, due)
            Event.request(id, FunctionAddress(acct, ""), Request.InitClass)
          case _ =>
            expect(id) = Expect(Gen.Ping, 0L, due)
            Event.request(id, addr(e), Request.Ping)
        }
      }

      var lastSeen = System.nanoTime()
      var done = false
      while (!done) {
        var now = System.nanoTime()
        while (start + tick * tickNs <= now && start + tick * tickNs < w1) {
          val due = start + tick * tickNs
          val events = (0 until perTick).map(i => request(s"r$tick-$i", due))
          if (due >= w0) {
            sentInWindow += events.size
            ctx.spans.filter(_.followedCount < 200).foreach(s => events.foreach(e => s.follow(e.eventId)))
          }
          if (edge0.isEmpty && due >= w0) {
            edge0 = Some(Edge.take(ctx, d.lastBatchId, metered))
            host.resetCounters()
          }
          d.send(events)
          sentOpen += events.size
          val late = (System.nanoTime() - due) / 1e6
          if (due >= w0) lateMax = math.max(lateMax, late)
          tick += 1
          now = System.nanoTime()
        }
        val replies = d.poll()
        now = System.nanoTime()
        if (replies.nonEmpty) {
          lastSeen = now
          take(replies)
          replies.foreach { e =>
            expect.get(e.eventId).filter(_.dueNs > 0).foreach { x =>
              answeredOpen += 1
              repliesAtBatch(d.lastBatchId) += 1
              if (x.dueNs >= w0 && x.dueNs < w1) {
                latency += (now - x.dueNs) / 1e6
                ctx.spans.filter(_.follows(e.eventId)).foreach(s =>
                  s.add(Span("request", e.eventId, "", s.ms(x.dueNs), s.ms(now),
                    Map("kind" -> x.kind.toString))))
              }
            }
          }
        } else if (now - lastSeen > 120L * 1000000000L)
          throw new IllegalStateException("no micro-batch completed for 120 s")
        if (now >= w1 && edge1.isEmpty) {
          backlogEnd = sentOpen - answeredOpen
          edge1 = Some(Edge.take(ctx, d.lastBatchId, metered))
        }
        if (now >= w1 && answeredOpen >= sentOpen) done = true
        else if (replies.isEmpty) {
          val nextDue = start + tick * tickNs
          LockSupport.parkNanos(math.max(0L, math.min(nextDue - System.nanoTime(), 1000000L)))
        }
      }
      val (tFirst, tLast, ids) = d.windowBatches(w0, w1).getOrElse(
        throw new IllegalStateException("fewer than two batches completed in the window"))
      val completedPerS = ids.map(repliesAtBatch).sum / ((tLast - tFirst) / 1e9)
      val fnLayers = host.layerMetrics()

      // final check: every touched counter equals its initial value plus
      // the increments sent to it
      host.delayNanos = 0L
      take(d.drain())
      d.send(touched.toSeq.map { e =>
        expect(s"final$e") = Expect(Gen.Read, counter(e), 0L)
        Event.request(s"final$e", addr(e), Request.GetState)
      })
      take(d.drain())
      val replyCheck = Checks.replies(expect.keySet, got.toSeq)
      // the run itself counts as one more operation, failed when the loop
      // fell behind its offered rate
      val keptUp = completedPerS >= KeptUpShare * p.rate
      if (!keptUp)
        System.err.println(f"[perfbench] completed $completedPerS%.1f req/s, below ${KeptUpShare * p.rate}%.1f: the loop fell behind")
      val attempted = expect.size.toLong + 1
      val failed = replyCheck.failed.toLong + (if (keptUp) 0 else 1)

      val dist = Stats.dist(latency.toSeq)
      val layers: Seq[Metric] = if (!ctx.traced) Seq.empty else (for (a <- edge0; b <- edge1)
        yield StreamLayers.window(ctx, harness, d, a, b, setupExpect.size) ++
          fnLayers.map { case (n, v, u) => Metric(n, v, u) } ++ Seq(
            Metric("gen.late_ms_max", lateMax, "ms"),
            Metric("gen.sends", sentInWindow.toDouble, "count"),
            Metric("gen.backlog_end", backlogEnd.toDouble, "count"))).getOrElse(Seq.empty)
      if (lateMax > p.tickMs)
        System.err.println(f"[perfbench] generator ran $lateMax%.1f ms late, more than one tick")

      Outcome(attempted, failed,
        endToEnd = Seq(
          Metric("setup_s", setup, "s"),
          Metric("throughput_per_s", completedPerS, "1/s", "mix_completed_per_s"),
          Metric("latency_p50_ms", dist.p50, "ms", "mix_latency_p50_ms"),
          Metric("latency_p99_ms", dist.p99, "ms", "mix_latency_p99_ms")),
        layers = layers,
        params = Seq("rate_per_s" -> p.rate, "tick_ms" -> p.tickMs, "entities" -> p.entities,
          "zipf_s" -> p.zipfS, "service_delay_ms" -> p.delayMs, "warmup_s" -> p.warmupS,
          "mix" -> "70% InvokeStateful, 20% GetState, 5% InitClass, 5% Ping",
          "backend" -> "HttpFunctionExecutor -> loopback FnHost(LocalCounterExecutor)",
          "loop" -> "open"),
        extra = dist.fields("mix_latency") ++ Seq(
          "rate_window_s" -> (tLast - tFirst) / 1e9,
          "batch_intervals_ms" -> d.intervalsMs(w0, w1),
          "generator_late_ms_max" -> lateMax,
          "generator_late_over_tick" -> (lateMax > p.tickMs),
          "backlog_end" -> backlogEnd,
          "kept_up" -> keptUp,
          "checks" -> Map(
            "requests" -> expect.size, "missing_replies" -> replyCheck.missing.size,
            "duplicated_replies" -> replyCheck.duplicated.size,
            "wrong_replies" -> replyCheck.wrong.size,
            "unexpected_replies" -> replyCheck.unexpected.size,
            "first_wrong" -> replyCheck.wrong.take(5), "first_missing" -> replyCheck.missing.take(5))),
        spans = ctx.spans.map(_.all).getOrElse(Vector.empty))
    } finally harness.stop()
  }
}
