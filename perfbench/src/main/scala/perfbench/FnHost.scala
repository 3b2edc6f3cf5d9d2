package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.exec.{LambdaEnvelope, LocalCounterExecutor}

/** The function host of the request_mix workload: the counter entity
  * behind the Base64-JSON Lambda envelope on a loopback HTTP server. A
  * fixed service delay stands in for the function's round trip; the
  * handler pool grows with demand, so requests never queue in the host.
  *
  * With `traced`, it counts requests, codec time and concurrency, and adds
  * an `fn_call` span for every followed request id it decodes.
  */
final class FnHost(traced: Boolean, spans: Option[Spans]) {
  FnHost.noDelay
  @volatile var delayNanos: Long = 0L

  private val entity = new LocalCounterExecutor
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "perfbench-fnhost"); t.setDaemon(true); t
  }
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)

  private val requests = new AtomicLong
  private val decodeNs = new AtomicLong
  private val encodeNs = new AtomicLong
  private val inflight = new AtomicLong
  private val inflightSum = new AtomicLong
  private val inflightMax = new AtomicLong

  server.createContext("/invoke", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/invoke"

  private def handle(ex: HttpExchange): Unit = {
    val now = inflight.incrementAndGet()
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val t0 = System.nanoTime()
      val req = LambdaEnvelope.decode(body)
      val t1 = System.nanoTime()
      if (delayNanos > 0) {
        val until = t1 + delayNanos
        var left = delayNanos
        while (left > 0) { LockSupport.parkNanos(left); left = until - System.nanoTime() }
      }
      val reply = entity.invoke(req)
      val t2 = System.nanoTime()
      val out = LambdaEnvelope.encodeReply(reply).getBytes("UTF-8")
      val t3 = System.nanoTime()
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, out.length.toLong)
      ex.getResponseBody.write(out)
      if (traced) {
        requests.incrementAndGet()
        decodeNs.addAndGet(t1 - t0)
        encodeNs.addAndGet(t3 - t2)
        inflightSum.addAndGet(now)
        inflightMax.accumulateAndGet(now, math.max)
        spans.filter(_.follows(req.event.eventId)).foreach { s =>
          s.add(Span("fn_call", s"${req.event.eventId}/${req.operatorName}/${t0}", req.event.eventId,
            s.ms(t0), s.ms(t3), Map("operator" -> req.operatorName,
              "decode_us" -> (t1 - t0) / 1e3, "encode_us" -> (t3 - t2) / 1e3)))
        }
      }
    } finally {
      ex.close()
      inflight.decrementAndGet()
    }
  }

  /** Zeroes the traced counters so they cover only what follows. */
  def resetCounters(): Unit =
    Seq(requests, decodeNs, encodeNs, inflightSum, inflightMax).foreach(_.set(0L))

  def layerMetrics(): Seq[(String, Double, String)] = {
    val n = requests.get.toDouble
    def per(v: AtomicLong, scale: Double) = if (n > 0) v.get / scale / n else 0.0
    Seq(
      ("fnhost.requests", n, "count"),
      ("fnhost.decode_us_mean", per(decodeNs, 1e3), "us"),
      ("fnhost.encode_us_mean", per(encodeNs, 1e3), "us"),
      ("fnhost.inflight_mean", per(inflightSum, 1.0), "count"),
      ("fnhost.inflight_max", inflightMax.get.toDouble, "count"))
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object FnHost {
  /** Replies are small writes; without TCP_NODELAY every call can wait
    * out a delayed ACK, and the host, not the engine, would set the pace.
    * The server reads this property once, when its first instance starts.
    */
  lazy val noDelay: Unit = System.setProperty("sun.net.httpserver.nodelay", "true")
}
