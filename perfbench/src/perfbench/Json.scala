package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Minimal JSON in and out: read the generator's `expected.json`,
  * write flat metric objects. */
object Json {
  implicit val formats: Formats = DefaultFormats

  def read(path: String): JValue =
    JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s""""${esc(k)}": ${num(v)}""" }.mkString("{", ", ", "}")
}
