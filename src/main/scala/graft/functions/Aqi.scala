package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EPA AQI piecewise-linear interpolation (SURVEY §2.10; reference
  * `doc/archive/AQI Calculation Implementation Plan.md:36-73`) as pure
  * Column expressions — fully whole-stage-codegen'd `when` chains, no
  * UDF. The reference planned this as a Python UDF; the declarative
  * form is the 100TB-scale answer (stays inside Tungsten, null-safe).
  *
  * Formula: AQI = (Ahi-Alo)/(Chi-Clo)*(C-Clo)+Alo over the pollutant's
  * breakpoint row; >highest range extrapolates uncapped (plan :73);
  * negative/null → null (plan :69-72).
  *
  * [[score]] is the one way to put AQI columns on a frame: it evaluates
  * each pollutant's chain once. [[rowAqi]], [[dominantPollutant]] and
  * [[aqiLevel]] over raw concentration columns are the column-level
  * reference it is checked against (`AqiScoreSpec`), not a second way
  * to score: composed, they inline every chain again wherever `overall`
  * is compared (ten copies of each chain for seven pollutants).
  */
object Aqi {

  type Breakpoints = Seq[(Double, Double, Double, Double)]

  /** (concLo, concHi, aqiLo, aqiHi) — PM2.5 µg/m³ 24h breakpoints
    * (plan :42-49).
    */
  val pm25Breakpoints: Breakpoints = Seq(
    (0.0, 12.0, 0.0, 50.0),
    (12.1, 35.4, 51.0, 100.0),
    (35.5, 55.4, 101.0, 150.0),
    (55.5, 150.4, 151.0, 200.0),
    (150.5, 250.4, 201.0, 300.0),
    (250.5, 500.4, 301.0, 500.0))

  /** Published EPA breakpoint tables for the remaining pollutants the
    * reference pivots (µg/m³ for PM10; ppb for O3-8h/NO2-1h/SO2-1h;
    * ppm for CO-8h; BC has no EPA index — treated like PM2.5, the
    * usual practice for black-carbon reporting).
    */
  val pm10Breakpoints: Breakpoints = Seq(
    (0.0, 54.0, 0.0, 50.0),
    (55.0, 154.0, 51.0, 100.0),
    (155.0, 254.0, 101.0, 150.0),
    (255.0, 354.0, 151.0, 200.0),
    (355.0, 424.0, 201.0, 300.0),
    (425.0, 604.0, 301.0, 500.0))

  val o3Breakpoints: Breakpoints = Seq(
    (0.0, 54.0, 0.0, 50.0),
    (55.0, 70.0, 51.0, 100.0),
    (71.0, 85.0, 101.0, 150.0),
    (86.0, 105.0, 151.0, 200.0),
    (106.0, 200.0, 201.0, 300.0),
    (201.0, 604.0, 301.0, 500.0))

  val no2Breakpoints: Breakpoints = Seq(
    (0.0, 53.0, 0.0, 50.0),
    (54.0, 100.0, 51.0, 100.0),
    (101.0, 360.0, 101.0, 150.0),
    (361.0, 649.0, 151.0, 200.0),
    (650.0, 1249.0, 201.0, 300.0),
    (1250.0, 2049.0, 301.0, 500.0))

  val so2Breakpoints: Breakpoints = Seq(
    (0.0, 35.0, 0.0, 50.0),
    (36.0, 75.0, 51.0, 100.0),
    (76.0, 185.0, 101.0, 150.0),
    (186.0, 304.0, 151.0, 200.0),
    (305.0, 604.0, 201.0, 300.0),
    (605.0, 1004.0, 301.0, 500.0))

  val coBreakpoints: Breakpoints = Seq(
    (0.0, 4.4, 0.0, 50.0),
    (4.5, 9.4, 51.0, 100.0),
    (9.5, 12.4, 101.0, 150.0),
    (12.5, 15.4, 151.0, 200.0),
    (15.5, 30.4, 201.0, 300.0),
    (30.5, 50.4, 301.0, 500.0))

  val breakpointsByPollutant: Map[String, Breakpoints] = Map(
    "pm25" -> pm25Breakpoints, "pm10" -> pm10Breakpoints,
    "o3" -> o3Breakpoints, "no2" -> no2Breakpoints,
    "so2" -> so2Breakpoints, "co" -> coBreakpoints,
    "bc" -> pm25Breakpoints)

  private def interp(c: Column, lo: Double, hi: Double, alo: Double, ahi: Double): Column =
    lit((ahi - alo) / (hi - lo)) * (c - lit(lo)) + lit(alo)

  /** Piecewise AQI over an arbitrary breakpoint table. */
  def aqiFor(c: Column, bps: Breakpoints): Column = {
    val last = bps.last
    val chain = bps.init.foldRight(
      // above the top range: extrapolate on the last segment, uncapped
      interp(c, last._1, last._2, last._3, last._4)) {
      case ((lo, hi, alo, ahi), tail) => when(c <= hi, interp(c, lo, hi, alo, ahi)).otherwise(tail)
    }
    when(c.isNull || c < 0, lit(null)).otherwise(chain)
  }

  /** Piecewise AQI for a pm2.5-like concentration column. */
  def pm25Aqi(c: Column): Column = aqiFor(c, pm25Breakpoints)

  /** AQI for a named pollutant using its own EPA table. */
  def pollutantAqi(name: String, c: Column): Column =
    aqiFor(c, breakpointsByPollutant.getOrElse(name, pm25Breakpoints))

  /** AQI → category label (plan :42-49,64). */
  def aqiLevel(aqi: Column): Column =
    when(aqi.isNull, lit("Unknown"))
      .when(aqi <= 50, "Good")
      .when(aqi <= 100, "Moderate")
      .when(aqi <= 150, "Unhealthy for Sensitive Groups")
      .when(aqi <= 200, "Unhealthy")
      .when(aqi <= 300, "Very Unhealthy")
      .otherwise("Hazardous")

  /** Row AQI = max over per-pollutant AQIs computed with each
    * pollutant's own EPA table (plan :38); null-skipping via
    * `greatest`. The column-level reference for [[score]].
    */
  def rowAqi(named: (String, Column)*): Column = {
    // a one-pollutant caller gets that pollutant's AQI, not the
    // analysis error of a one-argument greatest()
    overall(named.map { case (n, c) => pollutantAqi(n, c) })
  }

  /** Dominant pollutant = argmax by AQI (plan :63), as a when-chain.
    * The column-level reference for [[score]]: it builds every chain
    * again.
    */
  def dominantPollutant(named: (String, Column)*): Column = {
    val aqis = named.map { case (n, c) => n -> pollutantAqi(n, c) }
    firstEqual(aqis, overall(aqis.map(_._2)))
  }

  // Spark's greatest() demands >= 2 args
  private def overall(aqis: Seq[Column]): Column =
    if (aqis.size == 1) aqis.head else greatest(aqis: _*)

  // the first name, in order, whose AQI is non-null and equals `top`
  private def firstEqual(aqis: Seq[(String, Column)], top: Column): Column =
    aqis.foldRight(lit(null).cast("string")) { case ((n, a), tail) =>
      when(a.isNotNull && a === top, lit(n)).otherwise(tail)
    }

  /** `df` with the overall AQI, its level and the dominant pollutant
    * (`aqi`, `aqi_level`, `dominant_pollutant`), each chain evaluated
    * once: the same values as
    * `rowAqi(named)`, `aqiLevel(rowAqi(named))` and
    * `dominantPollutant(named)`, bit for bit. `named` pairs each
    * pollutant (first wins a tie) with its concentration over `df`.
    *
    * Three projections, each reading the one below by reference:
    *   1. one AQI column per pollutant;
    *   2. their `greatest`;
    *   3. the outputs from (2), with `df`'s own columns selected by
    *      name, so the intermediates are dropped and can shadow
    *      nothing (their prefix starts no column of `df`). An output
    *      name `df` already has (case-insensitively, Spark's default
    *      resolution) is replaced in place, as `withColumn` does.
    * Spark's CollapseProject does not inline a non-trivial expression
    * that its consumer reads more than once, so each chain stays one
    * expression in the optimized plan. Composing the reference forms
    * instead puts ten copies of each 6-segment chain in the plan (on
    * `AqPipeline.transform(aqi = true)`: 439 `CASE WHEN`s and 42,810
    * characters of plan text, against 61 and 8,599 here). Each copy is
    * paid for three times over: Catalyst optimizes it, codegen
    * generates it (and runs common-subexpression elimination over it),
    * and adaptive execution re-optimizes and re-generates it after each
    * stage. The executors paid too: the stage's generated method was
    * 59,626 bytes, far past HotSpot's 8,000-byte huge-method limit, so
    * it ran interpreted. Here it is 9,485 bytes, still past the limit,
    * but lifting the limit gains nothing measurable (BENCHNOTES).
    */
  def score(df: DataFrame, named: Seq[(String, Column)]): DataFrame = {
    val prefix = Iterator.iterate("__aqi_")("_" + _)
      .find(p => !df.columns.exists(_.toLowerCase.startsWith(p))).get
    val per = named.indices.map(i => s"$prefix$i")
    val top = s"${prefix}max"
    val aqis = named.zip(per).map { case ((n, c), t) => n -> col(t) }
    val outs = Seq("aqi" -> col(top), "aqi_level" -> aqiLevel(col(top)),
      "dominant_pollutant" -> firstEqual(aqis, col(top)))
    def replaces(c: String)(o: (String, Column)) = o._1.equalsIgnoreCase(c)
    val kept = df.columns.toSeq.map(c => outs.find(replaces(c)).getOrElse(c -> quoted(c)))
    val added = outs.filterNot(o => df.columns.exists(replaces(_)(o)))
    df.select(col("*") +: named.zip(per).map { case ((n, c), t) => pollutantAqi(n, c).as(t) }: _*)
      .withColumn(top, overall(aqis.map(_._2)))
      .select((kept ++ added).map { case (n, c) => c.as(n) }: _*)
  }

  private def quoted(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** A Scala double as a DuckDB literal that parses as DOUBLE.
    * CRITICAL: a bare decimal literal (`0.9259259259259259`) parses as
    * DECIMAL(17,16) in DuckDB, and its decimal→double CONVERSION can
    * land one ulp away from the directly-parsed double (observed:
    * 50.000000000000007 vs 50.0 at the o3 54.0 breakpoint) — flipping
    * boundary comparisons vs Spark. E-notation (`…e0`) forces a direct
    * double parse, bit-identical to the JVM's.
    */
  def sqlDouble(x: Double): String = {
    val s = x.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  /** [[aqiFor]] as DuckDB SQL text over an arbitrary value expression —
    * IDENTICAL arithmetic expression order to the Column form, so both
    * engines produce bit-identical IEEE doubles (the slope constant is
    * pre-computed in Scala for both and emitted via [[sqlDouble]]).
    */
  def sqlAqiFor(v: String, bps: Breakpoints): String = {
    def seg(lo: Double, hi: Double, alo: Double, ahi: Double) =
      s"(${sqlDouble((ahi - alo) / (hi - lo))}) * (($v) - ${sqlDouble(lo)}) + ${sqlDouble(alo)}"
    val last = bps.last
    val chain = bps.init.foldRight(seg(last._1, last._2, last._3, last._4)) {
      case ((lo, hi, alo, ahi), tail) =>
        s"CASE WHEN ($v) <= ${sqlDouble(hi)} THEN ${seg(lo, hi, alo, ahi)} ELSE $tail END"
    }
    s"CASE WHEN ($v) IS NULL OR ($v) < 0 THEN NULL ELSE $chain END"
  }

  /** [[rowAqi]] as SQL over already-computed per-pollutant AQI columns:
    * Spark's `greatest` skips nulls; SQL mirrors with a coalesce floor
    * (real AQIs are ≥ 0) nullified back out.
    */
  def sqlRowAqi(aqiCols: Seq[String]): String =
    s"NULLIF(greatest(${aqiCols.map(c => s"coalesce($c, -1e9)").mkString(", ")}), -1e9)"

  /** [[dominantPollutant]] as SQL: the same first-match when-chain over
    * the same pollutant order.
    */
  def sqlDominantPollutant(named: Seq[(String, String)], overall: String): String =
    named.foldRight("NULL") { case ((n, a), tail) =>
      s"CASE WHEN ($a) IS NOT NULL AND ($a) = ($overall) THEN '$n' ELSE $tail END"
    }

  /** [[aqiLevel]] as SQL over an AQI expression. */
  def sqlAqiLevel(aqi: String): String =
    s"""CASE WHEN ($aqi) IS NULL THEN 'Unknown'
       |     WHEN ($aqi) <= 50 THEN 'Good'
       |     WHEN ($aqi) <= 100 THEN 'Moderate'
       |     WHEN ($aqi) <= 150 THEN 'Unhealthy for Sensitive Groups'
       |     WHEN ($aqi) <= 200 THEN 'Unhealthy'
       |     WHEN ($aqi) <= 300 THEN 'Very Unhealthy'
       |     ELSE 'Hazardous' END""".stripMargin

  /** The same pm2.5 chain + level as DuckDB SQL over `events.value`
    * (identical arithmetic expression order ⇒ identical IEEE doubles).
    */
  val oracleSql: String = {
    val aqi = sqlAqiFor("value", pm25Breakpoints)
    s"""SELECT event_id, value, ${DetRound.sqlR4(aqi)} AS aqi,
       |  ${sqlAqiLevel(aqi)} AS aqi_level
       |FROM events ORDER BY event_id""".stripMargin
  }
}
