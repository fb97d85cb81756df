package graft

import java.nio.file.{Files, Paths}

/** The one JSON writer of the measurement lines and the oracle dumps.
  * Jackson escapes every string (quotes, backslashes, control chars —
  * generated SQL embeds newlines, Spark error messages carry paths and
  * stack traces), so no caller splices text into JSON by hand.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One object on one line, keys in the given order. */
  def line(fields: Seq[(String, Any)]): String = mapper.writeValueAsString(obj(fields))

  /** A nested object for a [[line]] value, keys in the given order. */
  def obj(fields: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val o = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => o.put(k, v) }
    o
  }

  /** Seconds as a JSON number with exactly 3 decimals (`1.500`),
    * rounded half up. `Locale.ROOT`: a comma decimal separator would
    * make the line unparseable.
    */
  def seconds(v: Double): java.math.BigDecimal =
    new java.math.BigDecimal(String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))

  /** [[line]] written to `path`. */
  def write(path: String, fields: Seq[(String, Any)]): Unit =
    Files.writeString(Paths.get(path), line(fields))
}
