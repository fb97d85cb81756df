package graft.pipeline

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.AqStreaming

/** `AqPipeline.martRows` (one keyed aggregate) against the reference
  * formulation it replaces: the dedup window, the pivot, the location
  * dim window and the dim join, as separate stages. Both must give the
  * same mart bytes on input built to split them: ties on the
  * extraction stamp, null sensor ids on both sides of each tie-break,
  * null stamps and values, NaN and `-0.0`, unknown and null
  * parameters, a null location, metadata that changes between
  * extractions, all-null metadata, and no rows at all.
  */
class MartRowsParitySpec extends SparkSpec {

  private val martCols =
    Seq(col("location_id").cast("string").as("location_id"), col("datetime")) ++
      AqSchemas.parameters.map(col) ++
      Seq(col("city_name"), col("country_code"), col("latitude"),
        col("longitude"), col("year"), col("month"), col("day"))

  /** The batch transform before `martRows`. */
  private def referenceBatch(parsed: DataFrame): DataFrame =
    AqPipeline.enrich(
      AqPipeline.pivotParameters(AqPipeline.deduplicate(parsed)),
      AqPipeline.locationDim(parsed)).select(martCols: _*)

  /** The streaming per-batch step before `martRows`: no dedup of its
    * own, the watermarked stream dedup runs upstream.
    */
  private def referenceStreamBatch(batch: DataFrame): DataFrame =
    AqPipeline.enrich(AqPipeline.pivotParameters(batch), AqPipeline.locationDim(batch))
      .select(martCols: _*)

  /** Every row as strings, sorted: bit-exact up to the text form, which
    * keeps `-0.0` apart from `0.0` and NaN apart from null (`exceptAll`
    * would equate the first pair).
    */
  private def rendered(df: DataFrame): Seq[Seq[String]] =
    df.select(df.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
      .collect().toSeq.map(r => r.toSeq.map(v => String.valueOf(v)))
      .sortBy(_.mkString("\u0001"))

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (rendered(got), rendered(want))
    assert(g == w, s"\nmartRows only: ${g.diff(w)}\nreference only: ${w.diff(g)}")
  }

  private case class R(loc: java.lang.Long, sensor: java.lang.Long, datetime: String,
                       parameter: String, value: java.lang.Double, extracted: String,
                       city: String = "Hanoi", country: String = "VN",
                       lat: java.lang.Double = 21.0, lon: java.lang.Double = 105.8)

  private def raw(rs: Seq[R]): DataFrame = spark.createDataFrame(rs.map(r =>
    Row(r.loc, r.sensor, r.datetime, r.parameter, r.value, "ug/m3", r.extracted,
      "station", r.city, "Asia/Bangkok", r.country, r.lat, r.lon)).asJava,
    AqSchemas.rawMeasurement)

  private val d1 = "2024-01-15T10:00:00+07:00"
  private val d2 = "2024-01-15T11:00:00+07:00"
  private val d3 = "2024-01-16T02:00:00+07:00" // previous UTC day
  private val (e1, e2, e3) = ("2024-01-15T09:00:00", "2024-01-15T11:00:00", "2024-01-16T11:00:00")
  private def l(v: Long): java.lang.Long = v
  private def v(x: Double): java.lang.Double = x

  private val adversarial: Seq[R] = Seq(
    // location 1, d1: one tie-break per pollutant
    R(l(1), l(11), d1, "pm25", v(2.0), e2),  // tie on extracted_at across sensors:
    R(l(1), l(10), d1, "pm25", v(1.0), e2),  //   the smaller sensor wins
    R(l(1), l(5), d1, "pm10", v(4.0), e2),   // tie with a null sensor: the null
    R(l(1), null, d1, "pm10", v(3.0), e2, city = "NullSensor"), // wins the dedup, loses the dim
    R(l(1), l(1), d1, "no2", v(5.0), null),  // a null stamp loses to any stamp
    R(l(1), l(2), d1, "no2", v(6.0), e1),
    R(l(1), l(3), d1, "so2", v(7.0), e1),    // a fresher null value wins
    R(l(1), l(4), d1, "so2", null, e2),
    R(l(1), l(6), d1, "o3", v(Double.NaN), e2),
    R(l(1), l(7), d1, "co", v(-0.0), e2),    // a lone -0.0
    R(l(1), l(8), d1, "xyz", v(9.0), e2),    // unknown and null parameters
    R(l(1), l(9), d1, null, v(9.5), e2),
    // location 1, d2: only unknown readings still emit an all-null row
    R(l(1), l(8), d2, "xyz", v(1.0), e2),
    R(l(1), l(9), d2, null, v(1.5), e2),
    // location 2: metadata changes between extractions; the freshest wins
    R(l(2), l(20), d1, "pm25", v(10.0), e1, city = "Old", lat = v(1.0)),
    R(l(2), l(20), d3, "pm25", v(11.0), e3, city = "New", lat = v(2.0)),
    R(l(2), null, d3, "pm10", v(12.0), e3, city = "NullSensor", lat = v(3.0)),
    R(l(2), l(21), d3, "pm10", v(-0.0), e1),
    // location 3: all-null metadata, filled with defaults
    R(l(3), l(30), d1, "pm25", v(0.0), e1, city = null, country = null, lat = null, lon = null),
    R(l(3), l(31), d2, "bc", v(Double.NaN), e1, city = null, country = null, lat = null, lon = null),
    // location 4: NaN coordinates are filled like nulls
    R(l(4), l(40), d1, "pm25", v(1.0), e1, lat = v(Double.NaN), lon = v(Double.NaN)),
    // a null location: no dim row can match it, so defaults
    R(null, l(50), d1, "pm25", v(8.0), e2, city = "Nowhere"),
    R(null, l(51), d1, "pm25", v(8.5), e1, city = "Nowhere"),
    R(null, l(52), d2, "no2", v(2.5), null, city = null),
    // unparseable datetime: dropped before either formulation sees it
    R(l(1), l(10), "not-a-date", "pm25", v(99.0), e3))

  test("transform(aqi = true) equals the dedup/pivot/dim/join chain, bit for bit") {
    val input = raw(adversarial)
    val want = AqPipeline.withAqi(referenceBatch(AqPipeline.parseTimestamps(input)))
    val got = AqPipeline.transform(input, aqi = true)
    assertSame(got, want)
    // the cases above really are adversarial: the reference itself
    // distinguishes the tie-breaks and the signed zero
    val r = want.filter(col("location_id") === "1" && col("pm25").isNotNull).head()
    assert(r.getAs[Double]("pm25") == 1.0 && r.getAs[Double]("pm10") == 3.0)
    assert(r.getAs[Double]("no2") == 6.0 && r.isNullAt(r.fieldIndex("so2")))
    assert(r.getAs[Double]("o3").isNaN && r.getAs[Double]("co").toString == "0.0")
    assert(r.getAs[String]("city_name") == "Hanoi")
    assert(got.filter(col("location_id") === "2").select("city_name").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("New"))
    assert(got.filter(col("location_id").isNull).select("city_name").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("Unknown"))
  }

  test("empty input: same (empty) mart, same schema") {
    val input = raw(Seq.empty)
    assertSame(AqPipeline.transform(input, aqi = true),
      AqPipeline.withAqi(referenceBatch(AqPipeline.parseTimestamps(input))))
  }

  test("streaming per-batch step: martRows equals the pivot/dim/join step it replaced") {
    // what foreachBatch receives: the stream dedup's output, one row
    // per (location, datetime, parameter)
    val batch = AqPipeline.deduplicate(AqPipeline.parseTimestamps(raw(adversarial))).cache()
    try assertSame(AqPipeline.martRows(batch), referenceStreamBatch(batch))
    finally batch.unpersist()
  }

  test("streamToMart writes the same mart as the per-batch reference") {
    // no duplicate (location, datetime, parameter) keys, so the
    // first-arrival stream dedup has one possible survivor per key;
    // keeping the null-sensor rows keeps the dim's null tie-break
    val unique = adversarial.groupBy(r => (r.loc, r.datetime, r.parameter))
      .values.map(_.minBy(r => Option(r.sensor).map(_.longValue).getOrElse(Long.MinValue))).toSeq
    val rawDir = Files.createTempDirectory("mart_parity_raw")
    val mart = Files.createTempDirectory("mart_parity_mart").toString
    val ckpt = Files.createTempDirectory("mart_parity_ckpt").toString
    raw(unique).write.mode("overwrite").json(rawDir.resolve("in").toString)
    AqStreaming.streamToMart(spark, rawDir.resolve("in").toString, mart, ckpt).start()
      .awaitTermination(120000)
    // the golden schema's non-null columns read as nullable: the null
    // location's row must come back as written
    val readSchema = org.apache.spark.sql.types.StructType(
      AqSchemas.mart.map(_.copy(nullable = true)))
    val written = spark.read.schema(readSchema).parquet(mart).select(martCols: _*)
    val want = referenceStreamBatch(AqPipeline.parseTimestamps(
      AqPipeline.readRaw(spark, rawDir.resolve("in").toString)))
    assertSame(written, want)
  }

  test("transform's plan: one JSON scan, one shuffle, one sort, one window, no broadcast") {
    // Pinned because the saving is easy to lose without a wrong answer.
    // Computing the dim as a self-join off the aggregate looks like the
    // same plan, but column pruning gives the two join sides different
    // scan columns, so the JSON input is scanned twice again.
    val dir = Files.createTempDirectory("mart_plan").toString
    raw(adversarial).write.mode("overwrite").json(dir)
    val plan = AqPipeline.transform(AqPipeline.readRaw(spark, dir), aqi = true)
      .queryExecution.executedPlan
    def all[T](pf: PartialFunction[SparkPlan, T]): Seq[T] = {
      val roots = plan.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      (if (roots.isEmpty) Seq(plan) else roots).flatMap(_.collect(pf))
    }
    val scans = all { case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] => s }
    assert(scans.size == 1, s"JSON scans: ${scans.size}\n$plan")
    assert(all { case e: ShuffleExchangeExec => e }.size == 1, s"\n$plan")
    assert(all { case s: SortExec => s }.size == 1, s"\n$plan")
    assert(all { case w: WindowExec => w }.size == 1, s"\n$plan")
    assert(all { case b: BroadcastExchangeExec => b }.isEmpty, s"\n$plan")
  }
}
