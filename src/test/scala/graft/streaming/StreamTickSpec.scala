package graft.streaming

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkSpec}

/** `streamToMart` one `AvailableNow` tick at a time, on one checkpoint,
  * as the hourly trigger runs it: what a tick costs once the first one
  * has run, and what a tick that brings no new reading writes.
  */
class StreamTickSpec extends SparkSpec {

  private def rec(day: Int, hh: Int, datetime: String = "") = {
    val dt = if (datetime.nonEmpty) datetime else f"2024-01-$day%02dT$hh%02d:00:00Z"
    s"""{"location_id": 1, "sensor_id": 2, "datetime": "$dt", "parameter": "pm25", "value": $hh.0, "unit": "u", "extracted_at": "e", "location_name": "n", "city": "c", "timezone": "tz", "country": "VN", "latitude": 1.0, "longitude": 2.0}"""
  }

  private class Ticks(s: SparkSession) {
    val raw: Path = Files.createTempDirectory("tick_raw")
    val mart: Path = Files.createTempDirectory("tick_mart")
    private val ckpt = Files.createTempDirectory("tick_ckpt").toString
    private var landed = 0

    /** Lands one file holding `lines` and runs one tick over it; the
      * tick's micro-batches' input row counts.
      */
    def apply(lines: Seq[String]): Seq[Long] = {
      landed += 1
      Files.writeString(raw.resolve(f"h$landed%03d.json"), lines.mkString("\n"))
      val q = AqStreaming.streamToMart(s, raw.toString, mart.toString, ckpt).start()
      assert(q.awaitTermination(120000))
      q.recentProgress.toSeq.map(_.numInputRows)
    }

    def parquetFiles: Set[Path] = Files.walk(mart).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).toSet

    def rows: Set[(String, String, Double)] = s.read.parquet(mart.toString).collect()
      .map(r => (r.getAs[String]("location_id"),
        r.getAs[java.sql.Timestamp]("datetime").toInstant.toString, r.getAs[Double]("pm25"))).toSet
  }

  test("a tick compiles at most 2 classes once the first ticks ran, with artifact isolation on") {
    // isolation on, as in Spark's default: a tick that executed its
    // batch on the stream's own session (a fresh clone per start())
    // would compile every class again
    GraftExtensions.isolated(spark, "spark.sql.artifact.isolation.enabled" -> "true") { s =>
      val tick = new Ticks(s)
      val compiled = (1 to 3).map { h =>
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        tick(Seq(rec(1, h), rec(1, h + 12)))
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      assert(compiled(2) <= 2, s"classes compiled per tick: $compiled")
      assert(tick.rows.size == 6)
    }
  }

  test("a tick with no new reading adds no file to the mart; the next new reading lands once") {
    val tick = new Ticks(spark)
    val first = Seq(rec(1, 10), rec(1, 11))
    // the data batch, then the no-data batch that evicts state at the
    // advanced watermark: only the first writes
    assert(tick(first) == Seq(2L, 0L))
    val written = tick.parquetFiles
    assert(written.nonEmpty)
    // part-<task>-<write job id>.c000.snappy.parquet
    val jobIds = written.map(_.getFileName.toString.split("[-.]").slice(2, 7).mkString("-"))
    assert(jobIds.size == 1, s"one write job's files:\n${written.mkString("\n")}")

    // only unparseable datetimes: read, then dropped by the parse
    assert(tick(Seq(rec(1, 12, "not a time"), rec(1, 13, "2024-13-45T99:00:00Z"))).head == 2L)
    assert(tick.parquetFiles == written)
    // only readings already seen: dropped by the watermarked dedup
    assert(tick(first).head == 2L)
    assert(tick.parquetFiles == written)

    tick(Seq(rec(2, 9), rec(1, 10)))
    assert(tick.rows == Set(("1", "2024-01-01T10:00:00Z", 10.0), ("1", "2024-01-01T11:00:00Z", 11.0),
      ("1", "2024-01-02T09:00:00Z", 9.0)))
    assert(spark.read.parquet(tick.mart.toString).count() == 3)
  }
}
