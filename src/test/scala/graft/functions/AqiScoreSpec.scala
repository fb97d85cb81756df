package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.pipeline.{AqPipeline, AqSchemas}

/** [[Aqi.score]] against the column-level reference it replaces in
  * `AqPipeline.withAqi`: `rowAqi`, `aqiLevel` over it, and
  * `dominantPollutant`, added with `withColumn`. Both must give the same
  * schema and the same bits on every breakpoint of every table, between
  * segments, above the top range, on null, negative, `-0.0` and NaN
  * concentrations, on ties, on an all-null row, for one pollutant, with
  * the gas-unit conversion, and next to caller columns whose names an
  * output or an intermediate could take. The plan guard pins each chain
  * to one copy in the optimized plan.
  */
class AqiScoreSpec extends SparkSpec {

  private val ps = AqSchemas.parameters

  /** The form `withAqi` had before [[Aqi.score]]. */
  private def reference(df: DataFrame, named: Seq[(String, Column)]): DataFrame =
    df.withColumn("aqi", Aqi.rowAqi(named: _*))
      .withColumn("aqi_level", Aqi.aqiLevel(col("aqi")))
      .withColumn("dominant_pollutant", Aqi.dominantPollutant(named: _*))

  /** Bit-exact cells: doubles by their raw bits, so `-0.0` stays apart
    * from `0.0` and NaN from null.
    */
  private def cells(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("id").collect().toSeq.map(_.toSeq.map {
      case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    val (g, w) = (cells(got), cells(want))
    assert(g == w, s"\nscore only: ${g.diff(w)}\nreference only: ${w.diff(g)}")
  }

  private def frame(rows: Seq[Seq[java.lang.Double]]): DataFrame = {
    val schema = StructType(StructField("id", IntegerType) +:
      ps.map(StructField(_, DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r) }), schema)
  }

  private def row(vs: (String, Double)*): Seq[java.lang.Double] = {
    val m = vs.toMap
    ps.map(p => m.get(p).map(Double.box).orNull)
  }

  /** Each table's lo and hi of every segment and the point between one
    * segment's hi and the next one's lo, for every pollutant at once.
    */
  private val onBreakpoints: Seq[Seq[java.lang.Double]] =
    (0 until 6).flatMap { k =>
      def at(f: Aqi.Breakpoints => Double) =
        row(ps.map(p => p -> f(Aqi.breakpointsByPollutant(p))): _*)
      Seq(at(_(k)._1), at(_(k)._2)) ++
        (if (k < 5) Seq(at(b => (b(k)._2 + b(k + 1)._1) / 2)) else Nil)
    }

  private val edges: Seq[Seq[java.lang.Double]] = Seq(
    row(),                                        // all null
    row("pm25" -> -1.0, "pm10" -> -0.0),          // negative, -0.0
    row("pm25" -> -0.0, "pm10" -> 0.0),
    row("pm25" -> Double.NaN, "pm10" -> 30.0),    // NaN tops greatest
    row("so2" -> Double.NaN, "co" -> Double.NaN), // two NaNs tie
    row("pm25" -> 12.05, "bc" -> 12.05),          // between segments; pm25 wins the tie
    row("pm25" -> 600.0, "pm10" -> 700.0, "no2" -> 3000.0, "so2" -> 2000.0,
      "o3" -> 700.0, "co" -> 60.0, "bc" -> 501.0), // above every top range
    row("pm10" -> 30.0, "o3" -> 30.0, "bc" -> 1.0), // pm10 and o3 share a segment: pm10 wins
    row("bc" -> 40.0, "pm25" -> 39.0),
    row("co" -> 0.0),
    row("pm25" -> Double.PositiveInfinity, "o3" -> Double.NegativeInfinity))

  private lazy val all = frame(onBreakpoints ++ edges)

  test("score equals the column-level reference, bit for bit") {
    val named = ps.map(p => p -> col(p))
    assertSame(Aqi.score(all, named), reference(all, named))
    assertSame(AqPipeline.withAqi(all), reference(all, named))
  }

  test("score equals the reference with the gas-unit conversion") {
    val named = AqPipeline.concentrations(convertGasUnits = true)
    assertSame(AqPipeline.withAqi(all, convertGasUnits = true), reference(all, named))
  }

  test("score of a single pollutant is that pollutant's AQI") {
    val named = Seq("pm25" -> col("pm25"))
    val got = Aqi.score(all, named)
    assertSame(got, reference(all, named))
    assertSame(got.select(col("id"), col("aqi")),
      all.select(col("id"), Aqi.pm25Aqi(col("pm25")).as("aqi")))
  }

  test("ties go to the first pollutant in parameter order; an all-null row scores null") {
    val got = Aqi.score(all, ps.map(p => p -> col(p)))
      .select("id", "aqi", "aqi_level", "dominant_pollutant").orderBy("id").collect()
    def at(i: Int) = got(onBreakpoints.size + i)
    assert(at(0).isNullAt(1) && at(0).getString(2) == "Unknown" && at(0).isNullAt(3))
    assert(at(3).getDouble(1).isNaN && at(3).getString(3) == "pm25")
    assert(at(4).getString(3) == "so2")
    assert(at(5).getString(3) == "pm25")
    assert(at(7).getString(3) == "pm10")
    assert(at(8).getString(3) == "bc")
  }

  test("caller columns keep their place; an output name is replaced in place") {
    val named = ps.map(p => p -> col(p))
    val withCaller = all
      .withColumn("aqi", lit("stale"))
      .withColumn("__aqi_0", col("pm25") * 2)
      .withColumn("__AQI_max", lit(7))
      .withColumn("Dominant_Pollutant", lit(1.5))
      .withColumn("note", lit("kept"))
    val got = Aqi.score(withCaller, named)
    assertSame(got, reference(withCaller, named))
    assert(got.columns.toSeq == withCaller.columns.toSeq.map {
      case "Dominant_Pollutant" => "dominant_pollutant"
      case c => c
    } :+ "aqi_level")
  }

  test("plan guard: each chain occurs once per pollutant in the optimized plan") {
    import spark.implicits._
    val raw = spark.read.schema(AqSchemas.rawMeasurement).json(Seq(
      """{"location_id": 18, "sensor_id": 37, "datetime": "2024-01-15T10:00:00+07:00",
        | "parameter": "pm25", "value": 45.5, "extracted_at": "2024-01-15T11:00:00"}"""
        .stripMargin.replaceAll("\n", "")).toDS())
    val plan = AqPipeline.transform(raw, aqi = true).queryExecution.optimizedPlan
    val doubles = plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case Literal(v: Double, DoubleType) => v })
    def slope(s: (Double, Double, Double, Double)) = (s._4 - s._3) / (s._2 - s._1)
    val tables = Aqi.breakpointsByPollutant.values.toSeq.distinct
    for (t <- tables) {
      // a slope of this table alone, and no breakpoint of any table
      val others = tables.filterNot(_ eq t)
      val numbers = tables.flatten.flatMap(s => Seq(s._1, s._2, s._3, s._4)).toSet
      val s = t.map(slope).find(x => !others.exists(_.map(slope).contains(x)) && !numbers(x))
        .getOrElse(fail(s"no slope of its own in $t"))
      // once per segment that has it, for each pollutant on the table
      val copies = t.count(slope(_) == s) * Aqi.breakpointsByPollutant.count(_._2 eq t)
      assert(doubles.count(_ == s) == copies, s"slope $s")
    }
    assert(doubles.count(_ == 50.0 / 12.0) == 2) // pm25 and bc
  }
}
