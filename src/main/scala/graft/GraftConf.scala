package graft

import org.apache.spark.sql.SparkSession

/** Shared parsing for the `spark.graft.*` session knobs.
  *
  * The knobs are operator safety bounds (broadcast gates, cardinality
  * guards) set by operators on shared clusters — a malformed value
  * must name the conf and the accepted format, not surface as an
  * anonymous `NumberFormatException` deep inside a query build. Size
  * knobs accept the same unit-suffixed strings as Spark's own size
  * confs (`256m`, `1g`, plain bytes) via the identical parser.
  */
object GraftConf {

  /** Byte-size knob: unit-suffixed (`64k`/`256m`/`1g`, as Spark's own
    * size confs) or a plain byte count; `default` when unset.
    */
  def sizeConf(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map { v =>
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v.trim)
      catch { case e: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be a byte count, optionally unit-suffixed " +
            "(\"268435456\", \"256m\", \"1g\"); got \"" + v + "\"", e)
      }
    }.getOrElse(default)

  /** Integer knob; `None` when unset. */
  def intConf(spark: SparkSession, key: String): Option[Int] =
    spark.conf.getOption(key).map { v =>
      try v.trim.toInt
      catch { case e: NumberFormatException =>
        throw new IllegalArgumentException(
          s"""$key must be an integer; got "$v"""", e)
      }
    }
}
