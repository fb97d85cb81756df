package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Aqi

/** The reference's Glue transform (`glue_jobs/process_openaq_raw.py`)
  * re-expressed as composable `DataFrame => DataFrame` stages. Same
  * observable semantics, Spark-idiomatic execution:
  *
  *   - explicit schema NDJSON scan (S1) instead of inference
  *   - deterministic dedup tie-break (reference's W1 orders by its own
  *     partition key — arbitrary row wins; we order by extracted_at
  *     desc so the LATEST extraction wins, documented deviation
  *     SURVEY §7.4-2)
  *   - pinned pivot values (one pass, stable schema, §7.4-1)
  *   - location dim folded into the fact aggregate, no join (J1)
  *   - dynamic partition overwrite instead of blind append (idempotent
  *     re-runs, §7.4-3)
  *   - optional AQI columns (§2.10) — codegen'd, no UDF
  *
  * At 100 TB: [[transform]] runs as ONE scan and ONE shuffle.
  * [[martRows]] hash-partitions the parsed rows on `location_id`, and
  * a single sort-based aggregate on the mart key picks each pinned
  * pollutant's freshest reading (the dedup), pivots it, and carries a
  * metadata candidate that one window over the same partitioning
  * (already sorted, no second sort) turns into the location dim. No
  * dim join, so no broadcast and no size gate; the write is
  * partitioned by date with AQE file coalescing (no reference-style
  * repartition("location_id") small files). The separate stages
  * (dedup window, pivot, dim window, dim join) stay as the reference
  * formulation `martRows` is parity-tested against.
  */
object AqPipeline {

  /** S1 — NDJSON scan with the explicit canonical schema. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(AqSchemas.rawMeasurement)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ssXXX")
      .json(path)

  /** Typed view of the raw layer (SURVEY §1.4): `Dataset[Measurement]`
    * for callers that want compile-time field checks on the canonical
    * record.
    */
  def typedMeasurements(raw: DataFrame): Dataset[AqSchemas.Measurement] = {
    implicit val enc: org.apache.spark.sql.Encoder[AqSchemas.Measurement] =
      org.apache.spark.sql.Encoders.product[AqSchemas.Measurement]
    raw.as[AqSchemas.Measurement]
  }

  /** S1 variant with quarantine: PERMISSIVE parse keeps malformed
    * lines in a `_corrupt_record` column instead of failing the job —
    * `good` flows on, `bad` is preserved for reprocessing (the ops
    * answer to a poison NDJSON line in a 100 TB landing zone).
    */
  // CACHE LIFETIME: the parsed input stays persisted for the session
  // (both splits must come from ONE parse pass; there is no safe point
  // inside this function to release it). Callers that land many
  // batches should unpersist after materializing good/bad — e.g.
  // `good.sparkSession.sharedState.cacheManager.clearCache()` at batch
  // end, or persist-scope the call site.
  def readRawQuarantine(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val schema = AqSchemas.rawMeasurement.add("_corrupt_record", "string")
    val df = spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ssXXX")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // corrupt-record splits must come from one parse pass
    val good = df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = df.filter(col("_corrupt_record").isNotNull).select("_corrupt_record")
    (good, bad)
  }

  /** F1-F3 — ISO-8601+offset → UTC timestamp; derive zero-padded
    * partition columns (`process_openaq_raw.py:118-127`). Unparseable
    * datetimes become null and are dropped (P9, `openaq_etl.py:293-297`).
    */
  def parseTimestamps(df: DataFrame): DataFrame =
    df.withColumn("datetime_ts", try_to_timestamp(col("datetime")))
      .filter(col("datetime_ts").isNotNull)
      .drop("datetime").withColumnRenamed("datetime_ts", "datetime")
      .withColumn("year", date_format(col("datetime"), "yyyy"))
      .withColumn("month", lpad(month(col("datetime")).cast("string"), 2, "0"))
      .withColumn("day", lpad(dayofmonth(col("datetime")).cast("string"), 2, "0"))

  /** W1 — keep one row per (location_id, datetime, parameter); the
    * reference's orderBy(datetime) over a (location_id, datetime)
    * window makes the survivor arbitrary — we take the freshest
    * extraction deterministically.
    */
  def deduplicate(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("location_id", "datetime", "parameter")
      .orderBy(col("extracted_at").desc, col("sensor_id").asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** A1 — long→wide pivot with the pinned pollutant list; `avg`
    * absorbs residual duplicates exactly like the reference
    * (`process_openaq_raw.py:151-159`). Single conditional-aggregation
    * pass (one shuffle), not Dataset.pivot's two (see
    * [[graft.operators.RelationalOps.pivotAvg]]).
    */
  def pivotParameters(df: DataFrame): DataFrame =
    graft.operators.RelationalOps.pivotAvg(df,
      Seq("location_id", "datetime", "year", "month", "day"),
      "parameter", AqSchemas.parameters, "value")

  /** P1/P7 — per-location metadata dimension from the same raw scan
    * (`process_openaq_raw.py:179-185`): select+cast+rename, one row
    * per location. The survivor is DETERMINISTIC — freshest
    * extraction, ties to the smallest sensor — not dropDuplicates'
    * partition-order pick: metadata rows for one location can disagree
    * (a later extraction corrects the city), and an arbitrary survivor
    * makes "idempotent" re-runs rewrite partitions with different
    * bytes.
    */
  def locationDim(raw: DataFrame): DataFrame = {
    val w = Window.partitionBy("location_id")
      .orderBy(col("extracted_at").desc_nulls_last, col("sensor_id").asc_nulls_last)
    raw.select(
      col("location_id"),
      col("city").cast("string").as("city_name"),
      col("country").cast("string").as("country_code"),
      col("latitude").cast("double"),
      col("longitude").cast("double"),
      col("extracted_at"), col("sensor_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "extracted_at", "sensor_id")
  }

  /** S3-shape ingestion of the nested locations dimension: read the
    * API-shaped JSON (explicit nested schema), explode `sensors[]`,
    * and build the sensor_id → location-metadata lookup the Lambda
    * builds as a dict (`extract_api.py:374-422`) — relationally, so it
    * broadcasts instead of living in driver memory.
    */
  def sensorLookup(locations: DataFrame): DataFrame =
    locations.select(
      col("id").as("location_id"),
      col("name").as("location_name"),
      col("locality"),
      col("timezone"),
      col("country.code").as("country"),
      col("coordinates.latitude").as("latitude"),
      col("coordinates.longitude").as("longitude"),
      explode(col("sensors")).as("sensor"))
      .select(col("sensor.id").as("sensor_id"),
        col("sensor.parameter.name").as("parameter"),
        col("location_id"), col("location_name"), col("locality"),
        col("timezone"), col("country"), col("latitude"), col("longitude"))

  /** F8 — the reference's static LOCATION_CITY_MAP override
    * (`extract_api.py:355-372`): city = locality, else the per-location
    * override, else "Unknown". The map rides along as a broadcast-able
    * literal (`typedlit`), not a driver-side dict.
    */
  def cityWithOverride(cityMap: Map[Long, String]): org.apache.spark.sql.Column =
    coalesce(
      col("locality"),
      element_at(typedlit(cityMap), col("location_id")),
      lit("Unknown"))

  /** J1 + P8 — broadcast-enrich facts with the location dim, then
    * default-fill (`process_openaq_raw.py:188-198`). The broadcast is
    * stats-gated ([[graft.operators.RelationalOps.broadcastIfFits]]):
    * the location dim grows with the corpus, and an unconditional
    * hint OOMs once it outgrows the build side (the r12 1000×-tier
    * finding on the events-shaped twin).
    */
  def enrich(facts: DataFrame, dim: DataFrame): DataFrame =
    fillDimDefaults(facts.join(graft.operators.RelationalOps.broadcastIfFits(dim),
        Seq("location_id"), "left"))

  /** P8 — the reference's defaults for missing location metadata. */
  private def fillDimDefaults(df: DataFrame): DataFrame =
    df.na.fill(Map("city_name" -> "Unknown", "country_code" -> "VN"))
      .na.fill(Map("latitude" -> 0.0, "longitude" -> 0.0))

  /** §2.10 — append AQI columns (overall AQI = max over per-pollutant
    * AQIs, level, dominant pollutant) as pure expressions.
    *
    * UNITS: the EPA breakpoint tables are µg/m³ for PM but ppb
    * (o3/no2/so2) / ppm (co) for gases, while OpenAQ feeds report
    * µg/m³ across the board. The REFERENCE's AQI plan feeds raw
    * values straight into the tables (doc/archive/AQI plan:58-65 —
    * no conversion step exists there), so parity mode
    * (`convertGasUnits = false`, default) reproduces that behavior
    * exactly. `convertGasUnits = true` applies the standard
    * 25 °C/1 atm molar-volume conversion (ppb = µg/m³ × 24.45 / M)
    * before scoring — the physically-correct mode for real µg/m³
    * gas readings.
    */
  def withAqi(mart: DataFrame, convertGasUnits: Boolean = false): DataFrame = {
    // molar masses g/mol; co table is ppm (= ppb / 1000)
    val gasConv: Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column] = Map(
      "o3" -> (c => c * 24.45 / 48.00),
      "no2" -> (c => c * 24.45 / 46.0055),
      "so2" -> (c => c * 24.45 / 64.066),
      "co" -> (c => c * 24.45 / 28.01 / 1000.0))
    val byPollutant = AqSchemas.parameters.map { p =>
      val v = if (convertGasUnits) gasConv.get(p).map(f => f(col(p))).getOrElse(col(p))
              else col(p)
      p -> v
    }
    mart
      .withColumn("aqi", Aqi.rowAqi(byPollutant: _*))
      .withColumn("aqi_level", Aqi.aqiLevel(col("aqi")))
      .withColumn("dominant_pollutant", Aqi.dominantPollutant(byPollutant: _*))
  }

  /** W1 + A1 + P1/P7 + J1 + P8 in one keyed aggregate: parsed
    * long-format rows (the output of [[parseTimestamps]]) → mart rows in
    * the golden column order. Row for row the same as
    * `enrich(pivotParameters(deduplicate(p)), locationDim(p))` with the
    * mart select, from one scan of `p`:
    *
    *   - one hash exchange on `location_id`;
    *   - one sort-based aggregate on the mart key. Each pollutant column
    *     is `max_by(value, …)` under [[deduplicate]]'s order
    *     (`extracted_at DESC NULLS LAST, sensor_id ASC NULLS FIRST`), so
    *     it is the dedup survivor's value (a fresher null wins, as
    *     there). The same aggregate keeps the key's best metadata
    *     candidate under [[locationDim]]'s order (`… sensor_id ASC
    *     NULLS LAST`);
    *   - `max(candidate) OVER (PARTITION BY location_id)`: the
    *     per-location dim, over rows the aggregate already left
    *     partitioned and sorted by location;
    *   - [[enrich]]'s default fill. A null `location_id` gets the
    *     defaults, as the left join gives it.
    *
    * Orders are encoded as struct keys, compared field by field with
    * nulls lowest: `extracted_at` (a null loses), `sensor_id IS NULL`
    * (a null wins the dedup tie-break), and `~sensor_id`, which reverses
    * the id order without the overflow of negation. `+ 0.0` turns a
    * picked `-0.0` into `0.0`, as the pivot's `avg` does, so the mart
    * bytes match. The streaming batch's upstream dedup leaves one row
    * per key and parameter, so there too the pick equals the `avg`.
    */
  def martRows(parsed: DataFrame): DataFrame = {
    val smallerSensor = bitwise_not(col("sensor_id")) // higher for a smaller id
    val dedupKey = struct(col("extracted_at"), col("sensor_id").isNull, smallerSensor)
    val dimKey = struct(col("extracted_at"), smallerSensor)
    val pollutants = AqSchemas.parameters.map(p =>
      (max_by(col("value"), when(col("parameter") === p, dedupKey)) + lit(0.0)).as(p))
    val meta = struct(
      col("city").cast("string").as("city_name"),
      col("country").cast("string").as("country_code"),
      col("latitude").cast("double").as("latitude"),
      col("longitude").cast("double").as("longitude"))
    val candidate = max(struct(dimKey.as("k"), meta.as("m"))).as("__dim")
    val keyed = parsed.repartition(col("location_id"))
      .groupBy("location_id", "datetime", "year", "month", "day")
      .agg(pollutants.head, (pollutants.tail :+ candidate): _*)
      .withColumn("__dim", max(col("__dim")).over(Window.partitionBy("location_id")))
    def dim(c: String) = when(col("location_id").isNotNull, col(s"__dim.m.$c")).as(c)
    fillDimDefaults(keyed.select(
      Seq(col("location_id").cast("string").as("location_id"), col("datetime")) ++
        AqSchemas.parameters.map(col) ++
        Seq(dim("city_name"), dim("country_code"), dim("latitude"), dim("longitude"),
          col("year"), col("month"), col("day")): _*))
  }

  /** Full transform chain (SURVEY §3.2), raw long-format → golden mart
    * column order.
    */
  def transform(raw: DataFrame, aqi: Boolean = false): DataFrame = {
    val mart = martRows(parseTimestamps(raw))
    if (aqi) withAqi(mart) else mart
  }

  /** K1 — partitioned parquet sink, idempotent per partition: dynamic
    * partition overwrite replaces the reference's blind append
    * (`process_openaq_raw.py:253-256`; fix per SURVEY §7.4-3).
    *
    * File sizing: an AQE `rebalance` on the partition columns. A bare
    * partitionBy write emits tasks × touched-partition-values files —
    * the reference's documented production failure (50–200 KB files
    * vs a 128–256 MB target, `doc/GLUE_JOBS_GUIDE.md:310,404-407`) —
    * and its blunt fix, `repartition(cols)`, caps every partition at
    * ONE task (a day-level hot partition serializes through one
    * writer and emits one oversized file). Rebalance is the shape
    * that survives both directions at 100 TB: AQE coalesces small
    * hash partitions (few files per dir) and SPLITS oversized ones at
    * the advisory partition size (bounded file size under date skew).
    * Measured at the 100× set by `tools.SinkHygieneProbe`
    * (BENCHNOTES round-12): 8.0 → 1.0 files per partition dir, mean
    * file 0.96 → 6.85 MB, write 9.2 → 5.9 s (clustering also
    * compresses better: 230 → 205 MB total).
    */
  def writeMart(df: DataFrame, path: String): Unit =
    // per-WRITE option, not a session conf mutation (a session-wide
    // dynamic mode would silently leave stale partitions behind in any
    // LATER full-table overwrite elsewhere in the session)
    df.hint("rebalance", col("year"), col("month"), col("day"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year", "month", "day").parquet(path)

  /** K4 — time-bucketed RAW archive: land the raw NDJSON lines
    * VERBATIM under extraction-time paths
    * `year=/month=/day=/hour=` (the reference's raw zone,
    * `handler.py` writes `raw/YYYY/MM/DD/HH/…`). Bytes are preserved
    * exactly (text sink, one line per record) so any future
    * re-processing — schema evolution, parser fixes — replays from
    * the archive; `readRaw` accepts the archive root directly
    * (partition dirs are transparent to the JSON scan).
    */
  def archiveRaw(records: DataFrame, rawCol: String, tsCol: String,
                 path: String): Unit =
    records.select(
        col(rawCol).as("value"),
        date_format(col(tsCol), "yyyy").as("year"),
        lpad(month(col(tsCol)).cast("string"), 2, "0").as("month"),
        lpad(dayofmonth(col(tsCol)).cast("string"), 2, "0").as("day"),
        lpad(hour(col(tsCol)).cast("string"), 2, "0").as("hour"))
      // same file-hygiene rebalance as writeMart: hour-bucketed text
      // lands as few right-sized files per hour dir instead of one
      // sliver per (task × hour)
      .hint("rebalance", col("year"), col("month"), col("day"), col("hour"))
      .write.mode("append")
      .partitionBy("year", "month", "day", "hour")
      .text(path)

  /** K5 — register the mart for the SQL surface (§3.3). */
  def registerMart(spark: SparkSession, path: String, name: String): Unit = {
    // inference off only for THIS read (year/month/day stay the
    // zero-padded strings the mart wrote); restore the session conf so
    // unrelated later reads keep their configured behavior
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try spark.read.parquet(path).createOrReplaceTempView(name)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A3 — single-pass data-quality audit over the critical columns
    * (`process_openaq_raw.py:213-235`): null counts + duplicate-key
    * count in ONE job, not the reference's five `count()` actions.
    */
  def validate(mart: DataFrame): DataFrame = {
    val critical = Seq("location_id", "datetime", "country_code")
    val metrics = Seq(
      count(lit(1)).as("row_count"),
      countDistinct(col("location_id"), col("datetime")).as("distinct_keys")) ++
      critical.map(c => count(when(col(c).isNull, 1)).as(s"null_$c"))
    mart.select(metrics: _*)
  }

  /** A10 — metadata-consistency audit over arbitrary key/critical
    * columns (reference `tests/test_glue_transformation.py:358-368`:
    * transformed row count == distinct business keys, critical columns
    * null-free), emitted as a labeled one-row flag frame so stages can
    * union into one audit table. Single aggregation pass; at 100 TB
    * this is one map-side-combined shuffle over the audited frame.
    */
  def validate(df: DataFrame, stage: String, keyCols: Seq[String],
               critical: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "validate: keyCols must name the business key")
    // no critical columns is a legal audit (null_critical stays 0)
    val anyNull = critical.map(col(_).isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    df.select(
        count(lit(1)).as("row_count"),
        countDistinct(keyCols.head, keyCols.tail: _*).as("distinct_keys"),
        count(when(anyNull, 1)).as("null_critical"))
      .select(lit(stage).as("stage"), col("row_count"), col("distinct_keys"),
        (col("row_count") - col("distinct_keys")).as("dup_rows"),
        col("null_critical"),
        (col("row_count") === col("distinct_keys") &&
          col("null_critical") === lit(0L)).as("consistent"))
  }
}
