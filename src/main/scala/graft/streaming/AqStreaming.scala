package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.pipeline.{AqPipeline, AqSchemas}

/** Structured-Streaming mode for the ingest flow the reference runs as
  * hourly Airflow batches (SURVEY §2.9): new NDJSON files arriving
  * under a raw directory are a file-source stream; the 24h
  * re-extraction overlap (`handler.py:268-269`) becomes a watermarked
  * streaming dedup; the transform+write reuses the exact batch stages
  * via `foreachBatch` (one code path for both modes).
  */
object AqStreaming {

  /** File-source stream over the raw NDJSON landing dir — the
    * streaming twin of `AqPipeline.readRaw`. `maxFilesPerTrigger`
    * bounds micro-batch size at scale.
    */
  def readRawStream(spark: SparkSession, path: String,
                    maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(AqSchemas.rawMeasurement)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ssXXX")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** Watermarked streaming dedup: state for (location_id, datetime,
    * parameter) keys is evicted once the watermark passes the 24h
    * re-extraction overlap — bounded state by construction
    * (SURVEY §7.4-6).
    *
    * DOCUMENTED DIVERGENCE from the batch twin: this keeps the
    * FIRST-ARRIVED row per key (dropDuplicatesWithinWatermark has no
    * ordering), while `AqPipeline.deduplicate` keeps the FRESHEST
    * extraction — a corrected re-extraction landing in a later file is
    * dropped here. That is the price of immediate emission; when the
    * correction must win, use [[dedupFreshestStream]] (emission trails
    * by the watermark delay instead).
    */
  def dedupStream(raw: DataFrame, watermark: String = "24 hours"): DataFrame =
    AqPipeline.parseTimestamps(raw)
      .withWatermark("datetime", watermark)
      .dropDuplicatesWithinWatermark("location_id", "datetime", "parameter")

  /** Streaming dedup with the BATCH TWIN's semantics: the freshest
    * extraction per (location_id, datetime, parameter) wins, ties break
    * to the smallest sensor_id (`AqPipeline.deduplicate`'s exact
    * ordering). State holds one candidate row per key; a correction
    * arriving within the watermark replaces it, and the winner emits
    * ONCE when the watermark passes the reading's event time — so the
    * emitted set equals the batch dedup of everything that arrived in
    * time. Correctness over latency: emission trails by the watermark
    * delay, which is why the low-latency first-wins [[dedupStream]]
    * still exists for latency-sensitive paths.
    */
  def dedupFreshestStream(raw: DataFrame, watermark: String = "24 hours"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.sql.{Encoder, Encoders}
    val parsed = AqPipeline.parseTimestamps(raw).withWatermark("datetime", watermark)
    val schema = parsed.schema
    implicit val rowEnc: Encoder[Row] = Encoders.row(schema)
    val di = schema.fieldIndex("datetime")
    val li = schema.fieldIndex("location_id")
    val pi = schema.fieldIndex("parameter")
    val ei = schema.fieldIndex("extracted_at")
    val si = schema.fieldIndex("sensor_id")
    // ISO-8601 extracted_at strings order lexicographically; a null
    // extraction stamp loses to any real one, a null sensor_id loses
    // the tie-break (matches NULLS LAST under sensor_id asc)
    def rank(r: Row): (String, Long) =
      (Option(r.getAs[String](ei)).getOrElse(""),
        -Option(r.getAs[java.lang.Long](si)).map(_.longValue).getOrElse(Long.MaxValue))
    def better(a: Row, b: Row): Row = {
      import scala.math.Ordering.Implicits._
      if (rank(a) >= rank(b)) a else b
    }
    def step(key: String, rows: Iterator[Row],
             state: GroupState[Row]): Iterator[Row] = {
      if (state.hasTimedOut) {
        val winner = state.get
        state.remove()
        return Iterator(winner)
      }
      val best = (state.getOption.iterator ++ rows).reduceLeft(better)
      state.update(best)
      // emit once the watermark passes the reading's event time — any
      // later duplicate would be beyond the watermark regardless; the
      // max() keeps the timeout legal for rows already behind it
      state.setTimeoutTimestamp(math.max(
        best.getAs[java.sql.Timestamp](di).getTime + 1,
        state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
    parsed.groupByKey(r =>
        s"${r.get(li)}|${r.get(di)}|${r.get(pi)}")(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step)
      .toDF()
  }

  /** Tumbling hourly per-location aggregates with late-data handling —
    * the streaming twin of the mart's hourly grain.
    */
  def hourlyAggregates(deduped: DataFrame): DataFrame =
    deduped
      .groupBy(window(col("datetime"), "1 hour"), col("location_id"), col("parameter"))
      .agg(avg("value").as("avg_value"), count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("location_id"),
        col("parameter"), col("avg_value"), col("n"))

  /** End-to-end streaming pipeline: micro-batches run the SAME batch
    * stage, [[AqPipeline.martRows]] (pivot needs a full group view, so
    * it runs per micro-batch inside foreachBatch), and APPEND to the
    * partitioned mart.
    *
    * Append, not the batch path's dynamic partition overwrite: a
    * micro-batch holds only the files that arrived since the last
    * trigger, so overwriting a date partition would delete earlier
    * batches' rows that share it (a bug CheckpointResumeSpec guards
    * against). The checkpoint gives bookmark semantics (each file
    * ingested once); duplicates within the stream are dropped by the
    * watermarked dedup upstream. Exactly-once across batch REPLAYS
    * (driver crash mid-write) additionally needs a transactional
    * table format — with plain parquet this is at-least-once, the
    * same contract as the reference's append job.
    *
    * ROW-GRAIN CONTRACT: the streamed mart is per (location_id,
    * datetime, ARRIVAL batch) — when one key's parameters arrive in
    * different micro-batches, the mart holds multiple PARTIAL rows
    * with complementary non-null pollutant columns (the pivot can only
    * see its own batch). Readers that need the batch transform's
    * one-row-per-key shape run [[mergePartialRows]] on read, or as a
    * Maintenance-style compaction that rewrites the partition.
    *
    * TWO SESSIONS, ONE EXECUTION PER BATCH. Every `start()` runs the
    * stream on a fresh clone of `spark`. The stateful part stays there,
    * inside the batch's RDD: the file source, the watermarked dedup and
    * its state-store commit, so checkpoint, watermark and once-per-file
    * semantics are the stream's own. [[AqPipeline.martRows]] and the
    * write run on `spark` itself, over those rows, as the batch's one
    * SQL execution: that execution's tasks also run the stateful part,
    * consuming the batch exactly once, the empty no-data batch
    * included (an empty batch writes no file to a partitioned sink).
    * Two reasons:
    *   - Spark keeps compiled generated classes per task classloader,
    *     and with `spark.sql.artifact.isolation.enabled` on (Spark's
    *     default) each session id gets its own executor classloader.
    *     A batch executed on the stream's session recompiles its
    *     classes on every `start()` (34 compilations per tick of the
    *     benchmark's hourly ingest); on the caller's session they
    *     compile on the first tick only, and the one class a later
    *     tick compiles is the state operator's watermark predicate,
    *     whose literal changes every batch.
    *   - Spark turns adaptive execution off on the stream's session
    *     (its stateful operators need a fixed partitioning). On
    *     `spark` it is on, so the small per-batch shuffle coalesces to
    *     one task, and the batch writes one file per day touched
    *     instead of one per shuffle partition.
    */
  def streamToMart(spark: SparkSession, rawPath: String, martPath: String,
                   checkpoint: String): DataStreamWriter[Row] = {
    val deduped = dedupStream(readRawStream(spark, rawPath))
    deduped.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        AqPipeline.martRows(spark.createDataFrame(batch.rdd, batch.schema))
          .write.mode("append").partitionBy("year", "month", "day").parquet(martPath)
      }
  }

  /** Merge cross-batch PARTIAL rows back to one row per
    * (location_id, datetime) — the read-side repair for
    * [[streamToMart]]'s row-grain contract.
    *
    * Correctness lean: the upstream watermarked dedup guarantees each
    * (location_id, datetime, parameter) reading passes the stream once,
    * so among a key's partial rows each pollutant column is non-null
    * in AT MOST one of them — `first(_, ignoreNulls)` is deterministic
    * there, it merely picks the single non-null. The METADATA columns
    * need more: enrich()'s na.fill already made them non-null in EVERY
    * partial row, so ignoreNulls can't discriminate and an arbitrary
    * first() could keep a filled default ('Unknown'/0.0) over the real
    * value another batch carried. Each metadata merge therefore prefers
    * the max NON-default value (deterministic) and falls back to the
    * default only when no partial row had a real one. One shuffle on
    * the key; at scale, run per date partition (partition pruning
    * keeps it incremental).
    */
  def mergePartialRows(mart: DataFrame): DataFrame = {
    val metaDefaults = Seq[(String, Any)]("city_name" -> "Unknown",
      "country_code" -> "VN", "latitude" -> 0.0, "longitude" -> 0.0)
    val aggs = AqSchemas.parameters
      .map(c => first(col(c), ignoreNulls = true).as(c)) ++
      metaDefaults.map { case (c, d) =>
        coalesce(max(when(col(c) =!= lit(d), col(c))), max(col(c))).as(c)
      }
    mart.groupBy(col("location_id"), col("datetime"),
        col("year"), col("month"), col("day"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        Seq(col("location_id"), col("datetime")) ++
          AqSchemas.parameters.map(col) ++
          Seq(col("city_name"), col("country_code"), col("latitude"),
            col("longitude"), col("year"), col("month"), col("day")): _*)
  }
}
