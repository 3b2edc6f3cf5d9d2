package graft.exec

import java.net.InetSocketAddress
import java.nio.ByteBuffer

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.streaming.LoopHarness

/** End-to-end remote invocation over real HTTP: an in-JVM HTTP server
  * hosts the counter entity behind the reference's Base64-JSON envelope
  * (the wire contract of InvokeStatefulLambda.java:86-107), and the full
  * streaming pipeline runs against it through HttpFunctionExecutor — the
  * closest offline stand-in for the Lambda deployment path.
  */
class HttpExecutorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private var server: HttpServer = _
  private var port: Int = _

  override def beforeAll(): Unit = {
    // the "Lambda": decode request envelope → counter entity → reply envelope
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val entity = new LocalCounterExecutor
    server.createContext("/invoke", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val reply = LambdaEnvelope.encodeReply(entity.invoke(LambdaEnvelope.decode(body)))
          .getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, reply.length.toLong)
        ex.getResponseBody.write(reply)
        ex.close()
      }
    })
    server.start()
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = {
    server.stop(0)
    spark.stop()
  }

  test("full pipeline over HTTP: create, stateful increments, state read") {
    val executor = new HttpFunctionExecutor(s"http://127.0.0.1:$port/invoke")
    val h = new LoopHarness(spark, executor)
    try {
      val acct = FunctionType("global", "Account", stateful = true)
      def delta(v: Long) = ByteBuffer.allocate(8).putLong(v).array()

      h.send(Event.request("h-init", FunctionAddress(acct, ""), Request.InitClass))
      h.drain()
      val created = h.clientReplies.find(_.reply.contains(Reply.SuccessfulCreateClass))
      assert(created.isDefined, s"no create reply over HTTP: ${h.clientReplies}")
      val key = created.get.funAddress.key

      val keyed = FunctionAddress(acct, key)
      h.send(
        Event.request("h1", keyed, Request.InvokeStateful, delta(4)),
        Event.request("h2", keyed, Request.InvokeStateful, delta(5)))
      h.drain()
      h.send(Event.request("hg", keyed, Request.GetState))
      h.drain()
      val got = h.clientReplies.find(_.eventId == "hg")
      assert(got.isDefined)
      assert(ByteBuffer.wrap(got.get.payload).getLong == 9L,
        "state not accumulated through the HTTP backend")
    } finally h.stop()
  }
}
