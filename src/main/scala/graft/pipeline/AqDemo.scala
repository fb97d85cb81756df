package graft.pipeline

import java.nio.file.{Files, Path}
import graft.streaming.AqStreaming

/** Runnable end-to-end demo of the air-quality engine — the flow a
  * reference user runs today (extract → transform → partitioned mart →
  * SQL analytics), on one Spark app: writes a small NDJSON landing dir,
  * runs the batch pipeline with AQI, registers the mart, and runs the
  * reference's flagship Athena query (SURVEY §7.2) plus the streaming
  * mode over the same files.
  *
  * Usage: sbt "runMain graft.pipeline.AqDemo"
  */
object AqDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftExtensions.session("local[8]", 8)

    val raw: Path = Files.createTempDirectory("aq_demo_raw")
    val mart = Files.createTempDirectory("aq_demo_mart").toString
    val rng = new scala.util.Random(42)
    val lines = for {
      loc <- 1 to 5; hour <- 0 until 24
      param <- Seq("pm25", "pm10", "o3")
    } yield {
      val v = 5.0 + rng.nextInt(200) * 0.5
      f"""{"location_id": $loc, "sensor_id": ${loc * 100 + param.hashCode % 10}, "datetime": "2024-01-15T$hour%02d:00:00+07:00", "parameter": "$param", "value": $v%.1f, "unit": "ug/m3", "extracted_at": "2024-01-15T23:00:00", "location_name": "Station $loc", "city": "City$loc", "timezone": "Asia/Bangkok", "country": "VN", "latitude": ${10.0 + loc}, "longitude": ${105.0 + loc}}"""
    }
    Files.writeString(raw.resolve("2024011500.json"), lines.mkString("\n"))

    // batch: raw NDJSON → golden mart with AQI → partitioned parquet
    val rawDf = AqPipeline.readRaw(spark, raw.toString)
    val martDf = AqPipeline.transform(rawDf, aqi = true)
    AqPipeline.writeMart(martDf, mart)
    AqPipeline.registerMart(spark, mart, "vietnam")
    println("MART_ROWS=" + spark.table("vietnam").count())
    AqPipeline.validate(spark.table("vietnam")).show()

    // the reference's flagship serving query (doc/architecture.md:374-385)
    spark.sql(
      """SELECT location_id, city_name, day AS measurement_day,
        |       avg(pm25) AS avg_pm25, max(pm25) AS max_pm25,
        |       avg(aqi) AS avg_aqi
        |FROM vietnam
        |WHERE year = '2024' AND month = '01'
        |GROUP BY location_id, city_name, day
        |ORDER BY avg_pm25 DESC LIMIT 10""".stripMargin).show()

    // streaming mode over the same landing dir
    val ckpt = Files.createTempDirectory("aq_demo_ckpt").toString
    val martS = Files.createTempDirectory("aq_demo_mart_s").toString
    AqStreaming.streamToMart(spark, raw.toString, martS, ckpt)
      .start().awaitTermination(120000)
    println("STREAM_MART_ROWS=" + spark.read.parquet(martS).count())
    spark.stop()
  }
}
