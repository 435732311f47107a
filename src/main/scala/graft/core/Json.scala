package graft.core

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The harness's one JSON codec: snapshots, session reports and
  * one-line summaries are built as json4s ASTs and rendered compactly;
  * snapshots are read back through the same parser (json4s-jackson, as
  * shipped with Spark). [[str]] is the escaper for the few lines still
  * written by hand, whose exact bytes are part of a contract
  * (`Bench.compactLine`, `Evaluate.run`'s report, Verify's SQL map). */
object Json {

  /** Strict parse; malformed input throws. */
  def parse(json: String): JValue = JsonMethods.parse(json)

  /** One line, no whitespace; doubles as `Double.toString` writes them. */
  def render(v: JValue): String = JsonMethods.compact(v)

  /** `s` as a JSON string literal: backslash, quote and every control
    * character escaped — a tab or CR in a gate's oracle SQL would
    * otherwise make a reader's strict parse fail. */
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** A JSON number as a Double; None for anything else. */
  def double(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  /** The numeric fields of an object (others skipped); empty for a
    * missing field or a non-object. */
  def numbers(v: JValue): Map[String, Double] = v match {
    case JObject(fields) => fields.flatMap { case (k, x) => double(x).map(k -> _) }.toMap
    case _ => Map.empty
  }

  /** The fields of an object; empty for a missing field or a non-object. */
  def fields(v: JValue): List[JField] = v match {
    case JObject(fs) => fs
    case _ => Nil
  }
}
