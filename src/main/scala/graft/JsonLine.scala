package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The JSON-lines format of every record the engine writes: each line
  * `graft.cli.Main` prints and each checkpoint-manifest line
  * ([[graft.checkpoint.Manifest]]), written and read back here.
  *
  * Writing: `JsonLine("mode" -> "gen", "rows" -> 5L)` renders
  * `{"mode":"gen","rows":5}`, keys in the order given. A `String` is
  * quoted through [[esc]]; a `Long`, `Int` or `Boolean` prints as a
  * literal, a `Double` with 6 decimals, a [[Num]] as pre-rendered;
  * `null` prints `null` (so a Spark `Row` field goes in as `r.get(i)`)
  * and a `Seq` prints as an array. Any other value throws: nothing falls
  * back to `toString`. Numbers render under `Locale.ROOT`, so a
  * comma-decimal default locale cannot print the invalid `0,5`.
  *
  * Reading: [[read]] parses one line with Jackson, trailing tokens
  * rejected, and [[Fields]] reads its keys with explicit types. */
object JsonLine {

  /** A number printed as `text`, for the few that keep a format other
    * than [[fixed]]`(_, 6)`. */
  final case class Num(text: String)

  /** `x` with `digits` decimals, under `Locale.ROOT`. */
  def fixed(x: Double, digits: Int): Num =
    Num(String.format(Locale.ROOT, s"%.${digits}f", Double.box(x)))

  def apply(fields: (String, Any)*): String = {
    val sb = new java.lang.StringBuilder("{")
    fields.iterator.zipWithIndex.foreach { case ((k, v), i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(esc(k)).append("\":")
      value(sb, v)
    }
    sb.append('}').toString
  }

  private def value(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null       => sb.append("null")
    case s: String  => sb.append('"').append(esc(s)).append('"')
    case l: Long    => sb.append(l)
    case i: Int     => sb.append(i)
    case b: Boolean => sb.append(b)
    case d: Double  => sb.append(fixed(d, 6).text)
    case Num(t)     => sb.append(t)
    case xs: Seq[_] =>
      sb.append('[')
      xs.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); value(sb, x) }
      sb.append(']')
    case other =>
      throw new IllegalArgumentException(s"JsonLine: no JSON form for ${other.getClass.getName}: $other")
  }

  /** JSON string body. Control characters and surrogates go out as
    * `\uXXXX`, so any Java string — a lone surrogate included — survives
    * a UTF-8 file and comes back from [[read]] unchanged. */
  def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' || Character.isSurrogate(c) => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private val mapper = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** One line's object. A malformed line, trailing tokens after the
    * object, or a value that is not an object throw. */
  def read(line: String): Fields = {
    val node =
      try mapper.readTree(line)
      catch { case e: JacksonException => fail(e.getOriginalMessage, line) }
    node match {
      case o: ObjectNode => new Fields(o, line)
      case _             => fail("not a JSON object", line)
    }
  }

  private def fail(what: String, line: String): Nothing =
    throw new IllegalArgumentException(s"JSON line: $what in: $line")

  /** Typed reads of one object's keys: a missing key gives the empty
    * value, a value of another JSON type throws. */
  final class Fields private[JsonLine] (obj: ObjectNode, line: String) {
    def string(key: String): String = get(key, "a string", "")(_.isTextual)(_.textValue)
    def long(key: String): Long =
      get(key, "an integer", 0L)(n => n.isIntegralNumber && n.canConvertToLong)(_.longValue)
    def boolean(key: String): Boolean = get(key, "a boolean", false)(_.isBoolean)(_.booleanValue)
    def strings(key: String): Seq[String] =
      get(key, "an array of strings", Seq.empty[String])(
        n => n.isArray && n.elements.asScala.forall(_.isTextual))(_.elements.asScala.map(_.textValue).toSeq)

    private def get[T](key: String, what: String, missing: T)(ok: JsonNode => Boolean)(v: JsonNode => T): T =
      obj.get(key) match {
        case null          => missing
        case n if ok(n)    => v(n)
        case n             => fail(s""""$key" is not $what: $n""", line)
      }
  }
}
