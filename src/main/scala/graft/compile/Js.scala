package graft.compile

import java.net.{URI, URISyntaxException}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Thin JSON helpers over json4s (jackson backend, already on Spark's
  * classpath — argonaut, the reference's JSON library, is not available
  * offline; see SURVEY.md §7).
  */
object Js {

  // numbers parse as exact BigDecimals (JDecimal), NOT doubles: a schema
  // saying multipleOf 0.02 must mean exactly 0.02 — the double nearest
  // to it would poison the decimal-exact remainder check
  def parse(s: String): Either[String, JValue] =
    try Right(JsonMethods.parse(s, useBigDecimalForDouble = true))
    catch { case e: Exception => Left(s"invalid json: ${e.getMessage}") }

  def parseFile(f: java.io.File): Either[String, JValue] =
    try Right(JsonMethods.parse(java.nio.file.Files.readString(f.toPath), useBigDecimalForDouble = true))
    catch { case e: Exception => Left(s"invalid json: ${e.getMessage}") }

  def compact(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))

  def field(j: JValue, name: String): Option[JValue] = j match {
    case JObject(fields) => fields.collectFirst { case (`name`, v) => v }
    case _               => None
  }

  def stringField(j: JValue, name: String): Option[String] =
    field(j, name).collect { case JString(s) => s }

  def longField(j: JValue, name: String): Option[Long] =
    field(j, name).collect { case JInt(n) => n.toLong }

  /** Replace (or append) a field in an object, preserving field order. */
  def setField(obj: JObject, name: String, value: JValue): JObject = {
    val fields = obj.obj
    if (fields.exists(_._1 == name))
      JObject(fields.map { case (k, v) => if (k == name) (k, value) else (k, v) })
    else JObject(fields :+ (name -> value))
  }

  def parseUri(s: String): Either[String, URI] =
    try Right(new URI(s))
    catch { case e: URISyntaxException => Left(e.getMessage) }

  /** Numeric JValue -> BigDecimal (draft-4 numbers). */
  def asNumber(j: JValue): Option[BigDecimal] = j match {
    case JInt(i)     => Some(BigDecimal(i))
    case JLong(l)    => Some(BigDecimal(l))
    case JDouble(d)  => Some(BigDecimal(d))
    case JDecimal(d) => Some(d)
    case _           => None
  }

  /** Integral JValue -> Int (length/size bounds must be ints). */
  def asInt(j: JValue): Option[Int] = j match {
    case JInt(i) if i.isValidInt   => Some(i.toInt)
    case JLong(l) if l.isValidInt  => Some(l.toInt)
    case JDouble(d) if d.isWhole && d >= Int.MinValue && d <= Int.MaxValue => Some(d.toInt)
    case JDecimal(d) if d.isValidInt => Some(d.toInt)
    case _                         => None
  }
}
