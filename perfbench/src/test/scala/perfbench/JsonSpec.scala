package perfbench

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("an artifact survives a write and a read unchanged") {
    val body = ListMap[String, Any](
      "header" -> ListMap("workload" -> "flow_chain", "seed" -> 3L, "trace" -> false,
        "conf" -> ListMap("master" -> "local[4]")),
      "correct" -> true, "attempted" -> 1992L, "failed" -> 0L,
      "end_to_end" -> ListMap("latency_p50_ms" -> ListMap("value" -> 4621.514969, "unit" -> "ms")),
      "detail" -> ListMap("odd" -> "quote \" backslash \\ newline \n tab \t",
        "tiny" -> 1.0e-9, "sum" -> (0.1 + 0.2), "list" -> Vector(1L, 2L, 3L), "none" -> null))
    val spans = Seq(Span("request", "c1", "", 1.5, 2.25, Map("hops" -> 4L)),
      Span("fn_call", "c1/op/7", "c1", 1.75, 2.0))
    val text = Main.render(body, spans)
    val back = Json.read(text).asInstanceOf[ListMap[String, Any]]
    assert(back - "spans" == body)
    assert(back("spans") == spans.map(s => ListMap(s.toMap.toSeq.sortBy(_._1): _*)).toVector)
    assert(text.linesIterator.count(_.contains("\"name\":")) == spans.size)
  }

  test("numbers keep every digit and non-finite values become null") {
    assert(Json.read(Json.write(0.1 + 0.2)) == 0.30000000000000004)
    assert(Json.read(Json.write(Long.MaxValue)) == Long.MaxValue)
    assert(Json.write(Double.NaN) == "null")
    assert(Json.write(Seq(1, 2.5, "x")) == "[1,2.5,\"x\"]")
  }
}
