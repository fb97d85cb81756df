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
  def line(fields: Seq[(String, Any)]): String = {
    val obj = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => obj.put(k, v) }
    mapper.writeValueAsString(obj)
  }

  /** [[line]] written to `path`. */
  def write(path: String, fields: Seq[(String, Any)]): Unit =
    Files.writeString(Paths.get(path), line(fields))
}
