package perfbench

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The artifact format: ordered objects, integral numbers as Long, all
  * other numbers as Double written with every digit. Non-finite doubles
  * are written as null (JSON has no NaN).
  */
object Json {

  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => put(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case i: Int => sb ++= i.toString
    case l: Long => sb ++= l.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        quote(sb, k.toString); sb += ':'; put(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; put(sb, x) }
      sb += ']'
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  private lazy val mapper = new ObjectMapper()

  def read(s: String): Any = fromNode(mapper.readTree(s))

  private def fromNode(n: JsonNode): Any =
    if (n.isObject) ListMap(n.fields().asScala.map(e => e.getKey -> fromNode(e.getValue)).toSeq: _*)
    else if (n.isArray) n.elements().asScala.map(fromNode).toVector
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isNull) null
    else n.asText()
}
