package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.model._

class ChecksSpec extends AnyFunSuite {

  private val chains = Seq(Seq("f1", "f2", "f3"), Seq("f2", "f2", "f4"), Seq("f3", "f1"))
  private val expected = Checks.hopCounts(chains)

  test("hop counts are one per visit") {
    assert(expected == Map("f1" -> 2L, "f2" -> 3L, "f3" -> 2L, "f4" -> 1L))
    assert(Checks.counters(expected, expected).isEmpty)
  }

  test("a lost hop and a duplicated hop both fail the counter check") {
    val lost = expected.updated("f2", 2L)
    assert(Checks.counters(expected, lost) == Seq("f2"))
    val duplicated = expected.updated("f4", 2L)
    assert(Checks.counters(expected, duplicated) == Seq("f4"))
    assert(Checks.counters(expected, expected - "f3") == Seq("f3"))
  }

  test("every request needs exactly one reply of the right kind") {
    val sent = Set("a", "b", "c", "d")
    val ok = Checks.replies(sent, Seq("a" -> true, "b" -> true, "c" -> true, "d" -> true))
    assert(ok.failed == 0)
    val bad = Checks.replies(sent, Seq("a" -> true, "a" -> true, "b" -> false, "c" -> true, "z" -> true))
    assert(bad.duplicated == Seq("a"))
    assert(bad.wrong == Seq("b"))
    assert(bad.missing == Seq("d"))
    assert(bad.unexpected == Seq("z"))
    assert(bad.failed == 4)
  }

  test("the result digest ignores row order and rounding noise but not values") {
    import org.apache.spark.sql.Row
    val rows = Seq(Row(1L, "x", 0.1 + 0.2, Seq(1.0, 2.0)), Row(2L, "y", 3.5, Seq.empty[Double]))
    val d = Checks.digest(rows.iterator)
    assert(d._1 == 2)
    assert(Checks.digest(rows.reverse.iterator) == d)
    assert(Checks.digest(Seq(Row(1L, "x", 0.3, Seq(1.0, 2.0)), rows(1)).iterator) == d)
    assert(Checks.digest(Seq(Row(1L, "x", 0.31, Seq(1.0, 2.0)), rows(1)).iterator) != d)
    assert(Checks.digest(rows.take(1).iterator) != d)
  }

  test("request_mix replies are checked against per-key order") {
    val acct = FunctionType("global", "Account", stateful = true)
    def counter(v: Long) = java.nio.ByteBuffer.allocate(8).putLong(v).array()
    val invoke = Event.request("r1", FunctionAddress(acct, "m1"), Request.InvokeStateful)
      .withReply(Reply.SuccessfulInvocation).copy(payload = counter(12))
    assert(RequestMix.matches("r1", RequestMix.Expect(Gen.Invoke, 12, 1), invoke))
    assert(!RequestMix.matches("r1", RequestMix.Expect(Gen.Invoke, 13, 1), invoke))
    val created = Event.request("r2", FunctionAddress(acct, "k-r2"), Request.InitClass)
      .withReply(Reply.SuccessfulCreateClass)
    assert(RequestMix.matches("r2", RequestMix.Expect(Gen.Create, 0, 1), created))
    assert(!RequestMix.matches("r3", RequestMix.Expect(Gen.Create, 0, 1), created))
    val pong = Event.request("r4", FunctionAddress(acct, "m1"), Request.Ping).withReply(Reply.Pong)
    assert(RequestMix.matches("r4", RequestMix.Expect(Gen.Ping, 0, 1), pong))
    assert(!RequestMix.matches("r4", RequestMix.Expect(Gen.Read, 0, 1), pong))
  }
}
