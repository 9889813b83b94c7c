package graft.ml

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one reader of JSON configs — machine configs ([[ModelBuilder]])
  * and pipeline definitions ([[PipelineFactory]]): a document parses to
  * plain Scala maps, lists and scalars, and typed fields read with a
  * default. JSON integers stay exact `BigInt`s until a field is read, so
  * an int field outside the Int range is rejected instead of silently
  * keeping its low 32 bits, and a Long field (`seed`) keeps all 64.
  */
object JsonConfig {

  type Conf = Map[String, Any]

  def parse(json: String): Conf = plain(JsonMethods.parse(json)).asInstanceOf[Conf]

  private def plain(v: JValue): Any = v match {
    case JObject(fields) => fields.map { case (k, x) => k -> plain(x) }.toMap
    case JArray(items) => items.map(plain)
    case JString(s) => s
    case JInt(i) => i
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case JNull | JNothing => null
  }

  /** A nested object; absent (or not an object) reads as empty. */
  def obj(m: Conf, k: String): Conf = m.get(k) match {
    case Some(o: Map[_, _]) => o.asInstanceOf[Conf]
    case _ => Map.empty
  }

  def str(m: Conf, k: String, default: String): String =
    m.get(k).fold(default)(_.toString)

  def strList(m: Conf, k: String): Seq[String] = m.get(k) match {
    case Some(s: Seq[_]) => s.map(_.toString)
    case _ => throw new IllegalArgumentException(s"'$k' must be a string list")
  }

  def int(m: Conf, k: String, default: Int): Int =
    m.get(k).fold(default)(v => integral(k, v, Int.MinValue, Int.MaxValue).toInt)

  def long(m: Conf, k: String, default: Long): Long =
    m.get(k).fold(default)(v => integral(k, v, Long.MinValue, Long.MaxValue).toLong)

  def double(m: Conf, k: String, default: Double): Double =
    m.get(k).fold(default)(_.toString.toDouble)

  def bool(m: Conf, k: String, default: Boolean): Boolean =
    m.get(k).fold(default)(_.toString.toBoolean)

  /** An integer field within [lo, hi]; a non-integer value throws
    * NumberFormatException, as `"2.0".toInt` does.
    */
  private def integral(k: String, v: Any, lo: BigInt, hi: BigInt): BigInt = {
    val n = BigInt(v.toString)
    require(n >= lo && n <= hi, s"'$k' = $n is outside [$lo, $hi]")
    n
  }
}
