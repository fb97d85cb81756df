package graft.streaming

import java.nio.file.Files
import graft.SparkSpec

/** End-to-end Structured Streaming test: NDJSON files land in a dir,
  * the stream dedups within the watermark and writes the partitioned
  * mart via foreachBatch (AvailableNow → drains and stops).
  */
class AqStreamingSpec extends SparkSpec {

  private val rec =
    """{"location_id": 18, "sensor_id": 37, "datetime": "2024-01-15T10:00:00+07:00",
      | "parameter": "pm25", "value": 45.5, "unit": "ug/m3",
      | "extracted_at": "2024-01-15T11:00:00", "location_name": "SPARTAN",
      | "city": "Hanoi", "timezone": "Asia/Bangkok", "country": "VN",
      | "latitude": 21.0285, "longitude": 105.8542}""".stripMargin.replaceAll("\n", "")

  test("file-source stream → watermark dedup → partitioned mart") {
    val raw = Files.createTempDirectory("aq_stream_raw")
    val mart = Files.createTempDirectory("aq_stream_mart").toString
    val ckpt = Files.createTempDirectory("aq_stream_ckpt").toString
    // two files: second contains a duplicate of the first record plus a new one
    Files.writeString(raw.resolve("h1.json"), rec + "\n")
    val rec2 = rec.replace("2024-01-15T10:00:00+07:00", "2024-01-15T11:00:00+07:00")
    Files.writeString(raw.resolve("h2.json"), rec + "\n" + rec2 + "\n")

    val q = AqStreaming.streamToMart(spark, raw.toString, mart, ckpt).start()
    q.awaitTermination(120000)

    val out = spark.read.parquet(mart)
    // duplicate collapses: 2 distinct (location, datetime) rows
    assert(out.count() == 2)
    assert(out.schema.fieldNames.contains("pm25"))
  }

  test("dedupFreshestStream: a corrected re-extraction in a later batch WINS (batch-twin semantics)") {
    val raw = Files.createTempDirectory("aq_fresh_raw")
    val out = Files.createTempDirectory("aq_fresh_out").toString
    val ckpt = Files.createTempDirectory("aq_fresh_ckpt").toString
    // batch 1: original reading (value 45.5, extracted 11:00). batch 2:
    // the CORRECTED re-extraction of the same key (value 99.9, extracted
    // 12:00) plus a far-future other-key reading that advances the
    // watermark past the key's event time. batch 3: another far-future
    // reading so a trigger runs AFTER the watermark moved — that's when
    // the key's timer fires and the winner emits.
    val corrected = rec
      .replace("\"value\": 45.5", "\"value\": 99.9")
      .replace("2024-01-15T11:00:00", "2024-01-15T12:00:00") // extracted_at
    def future(hh: Int) = rec
      .replace("\"location_id\": 18", "\"location_id\": 99")
      .replace("2024-01-15T10:00:00+07:00", f"2024-01-17T$hh%02d:00:00+07:00")
    Files.writeString(raw.resolve("f1.json"), rec + "\n")
    Files.writeString(raw.resolve("f2.json"), corrected + "\n" + future(10) + "\n")
    Files.writeString(raw.resolve("f3.json"), future(11) + "\n")
    Seq("f1", "f2", "f3").zipWithIndex.foreach { case (f, i) =>
      raw.resolve(s"$f.json").toFile.setLastModified(1000000L * (i + 1)); ()
    }

    AqStreaming.dedupFreshestStream(
        AqStreaming.readRawStream(spark, raw.toString, maxFilesPerTrigger = 1),
        watermark = "10 minutes")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination(120000)

    val rows = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("location_id") === 18).collect()
    assert(rows.length == 1, s"exactly one winner per key: ${rows.toSeq}")
    assert(rows.head.getAs[Double]("value") == 99.9,
      s"the freshest extraction must win: ${rows.head}")
  }
}

/** Stateful sessionization e2e: two micro-batches (maxFilesPerTrigger
  * = 1); the 2h gap in batch 2 closes batch 1's session, which must be
  * emitted with its aggregates.
  */
class SessionizeStreamSpec extends graft.SparkSpec {
  import java.nio.file.Files

  test("flatMapGroupsWithState closes sessions on gap across micro-batches") {
    val dir = Files.createTempDirectory("sess_raw")
    val out = Files.createTempDirectory("sess_out").toString
    val ckpt = Files.createTempDirectory("sess_ckpt").toString
    def rec(ts: String, v: Double) =
      s"""{"user_id": 1, "ts": "$ts", "value": $v}"""
    Files.writeString(dir.resolve("f1.json"), Seq(
      rec("2024-01-01T10:00:00.000Z", 1.0),
      rec("2024-01-01T10:10:00.000Z", 2.0),
      rec("2024-01-01T10:20:00.000Z", 3.0)).mkString("\n"))
    Files.writeString(dir.resolve("f2.json"), Seq(
      rec("2024-01-01T13:00:00.000Z", 9.0)).mkString("\n"))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val q = Sessionize.sessionizeStream(stream, gapMinutes = 30)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val sessions = spark.read.parquet(out).collect()
    assert(sessions.length == 1, s"expected the closed first session, got ${sessions.toSeq}")
    val s = sessions.head
    assert(s.getAs[Long]("n_events") == 3L)
    assert(s.getAs[Double]("total_value") == 6.0)
    assert(s.getAs[java.sql.Timestamp]("session_start").toInstant.toString
      == "2024-01-01T10:00:00Z")
  }

  test("a merging event bridges a stale run into the open session (one session, batch semantics)") {
    import scala.collection.mutable.ArrayBuffer
    import Sessionize.{Event, SessionState}
    // gap=10ms, open state start=100ms; batch events 85, 89, 95 ms
    // (sorted; fold times are epoch-micros). 85/89 accumulate as a
    // stale run; 95 merges into the open span and pulls start back to
    // 95 — within a gap of the stale run's last event (89+10 ≥ 95) —
    // so ALL of 85..100 is ONE session, exactly what the batch twin
    // (w4_sessionize consecutive-gap) computes.
    val out = ArrayBuffer.empty[Sessionize.Session]
    val cur = Sessionize.foldBatch(10000L, 1L,
      Seq(Event(1L, new java.sql.Timestamp(85L), 2.0),
        Event(1L, new java.sql.Timestamp(89L), 3.0),
        Event(1L, new java.sql.Timestamp(95L), 4.0)),
      Some(SessionState(100000L, 100000L, 1, 1.0)), out)
    assert(out.isEmpty, s"nothing closes — all events connect: $out")
    assert(cur.contains(SessionState(85000L, 100000L, 4, 10.0)), s"got $cur")
  }

  test("a merging event that does NOT reach the stale run still flushes it") {
    import scala.collection.mutable.ArrayBuffer
    import Sessionize.{Event, SessionState}
    // gap=10ms, open start=100ms; events 70, 95 ms: 95 merges
    // (start→95) but 70+10 < 95, so the stale singleton closes alone.
    val out = ArrayBuffer.empty[Sessionize.Session]
    val cur = Sessionize.foldBatch(10000L, 1L,
      Seq(Event(1L, new java.sql.Timestamp(70L), 2.0),
        Event(1L, new java.sql.Timestamp(95L), 4.0)),
      Some(SessionState(100000L, 100000L, 1, 1.0)), out)
    assert(out.map(s => (s.session_start.getTime, s.session_end.getTime, s.n_events))
      == ArrayBuffer((70L, 70L, 1L)), s"got $out")
    assert(cur.contains(SessionState(95000L, 100000L, 2, 5.0)), s"got $cur")
  }

  test("a stale run SPANNING micro-batches merges into one session (carried state)") {
    val dir = Files.createTempDirectory("sess_stale_span")
    val out = Files.createTempDirectory("sess_stale_span_out").toString
    val ckpt = Files.createTempDirectory("sess_stale_span_ckpt").toString
    def rec(ts: String, v: Double) =
      s"""{"user_id": 1, "ts": "$ts", "value": $v}"""
    // gap 30 min. Batch 1 opens a session at 12:00. Batches 2 and 3
    // each deliver ONE late event (11:00, 11:10) — more than a gap
    // before the open session, within a gap of each other, split
    // across batches. The batch twin merges them into ONE session
    // {11:00-11:10}; flushing the stale accumulator at batch end
    // (pre-fix behavior) would emit two singleton sessions. Batch 4's
    // far-future event closes the open session; the stale run is
    // flushed with it.
    Files.writeString(dir.resolve("f1.json"), rec("2024-01-01T12:00:00.000Z", 1.0))
    Files.writeString(dir.resolve("f2.json"), rec("2024-01-01T11:00:00.000Z", 2.0))
    Files.writeString(dir.resolve("f3.json"), rec("2024-01-01T11:10:00.000Z", 3.0))
    Files.writeString(dir.resolve("f4.json"), rec("2024-01-01T20:00:00.000Z", 9.0))
    Seq("f1", "f2", "f3", "f4").zipWithIndex.foreach { case (f, i) =>
      dir.resolve(s"$f.json").toFile.setLastModified(1000000L * (i + 1)); ()
    }

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    Sessionize.sessionizeStream(stream, gapMinutes = 30, watermarkDelay = "1 day")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination(120000)

    val sessions = spark.read.parquet(out).orderBy("session_start").collect()
      .map(s => (s.getAs[java.sql.Timestamp]("session_start").toInstant.toString,
        s.getAs[java.sql.Timestamp]("session_end").toInstant.toString,
        s.getAs[Long]("n_events"), s.getAs[Double]("total_value"))).toSeq
    assert(sessions == Seq(
      ("2024-01-01T11:00:00Z", "2024-01-01T11:10:00Z", 2L, 5.0),
      ("2024-01-01T12:00:00Z", "2024-01-01T12:00:00Z", 1L, 1.0)), s"got $sessions")
  }

  test("a late in-gap event extends the session BACKWARD (start min-updated)") {
    val dir = Files.createTempDirectory("sess_late")
    val out = Files.createTempDirectory("sess_late_out").toString
    val ckpt = Files.createTempDirectory("sess_late_ckpt").toString
    def rec(ts: String, v: Double) =
      s"""{"user_id": 1, "ts": "$ts", "value": $v}"""
    // batch 1 opens the session at 10:00; batch 2 delivers a LATE
    // 09:50 event (inside the 10-min default watermark, inside the
    // 30-min gap of the session span) plus a far-future event that
    // closes the session. The naive t−lastTs guard folded the late
    // event in but left session_start at 10:00.
    Files.writeString(dir.resolve("f1.json"), Seq(
      rec("2024-01-01T10:00:00.000Z", 1.0)).mkString("\n"))
    Files.writeString(dir.resolve("f2.json"), Seq(
      rec("2024-01-01T09:50:00.000Z", 2.0),
      rec("2024-01-01T13:00:00.000Z", 9.0)).mkString("\n"))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val q = Sessionize.sessionizeStream(stream, gapMinutes = 30,
        watermarkDelay = "4 hours")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val sessions = spark.read.parquet(out)
      .orderBy("session_start").collect()
    assert(sessions.length == 1, s"got ${sessions.toSeq}")
    val s = sessions.head
    assert(s.getAs[Long]("n_events") == 2L, s"late event not merged: $s")
    assert(s.getAs[java.sql.Timestamp]("session_start").toInstant.toString
      == "2024-01-01T09:50:00Z", s"start not min-updated: $s")
    assert(s.getAs[Double]("total_value") == 3.0)
  }
}

/** Stream ≡ batch: the hourly aggregation computed over the real
  * sf0.001 events table via readStream (file-source micro-batches)
  * must equal the batch t1_tumbling_hourly result exactly.
  */
class StreamBatchEquivalenceSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("streaming hourly counts equal batch hourly counts") {
    val dir = "/root/testdata/sf0.001"
    val batch = graft.Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    // file-source streams need a directory: stage the table file
    val staged = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged.toString))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    val q = stream.writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("hourly_stream")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}

/** Watermarked tumbling-window aggregation semantics in append mode:
  * a window emits only once the watermark passes its end; rows that
  * arrive late-but-before-eviction still merge into their window (the
  * watermark BOUNDS STATE LIFETIME — it is not a hard row filter);
  * windows the watermark has not passed are never emitted.
  */
class HourlyAggregatesSpec extends graft.SparkSpec {
  import java.nio.file.Files

  private def rec(hh: Int, mm: Int, v: Double) =
    f"""{"location_id": 1, "sensor_id": 2, "datetime": "2024-01-15T$hh%02d:$mm%02d:00Z", "parameter": "pm25", "value": $v%.1f, "unit": "u", "extracted_at": "e", "location_name": "n", "city": "c", "timezone": "tz", "country": "VN", "latitude": 1.0, "longitude": 2.0}"""

  test("append-mode hourly windows emit closed windows; late data dropped") {
    val raw = Files.createTempDirectory("hourly_raw")
    val out = Files.createTempDirectory("hourly_out").toString
    val ckpt = Files.createTempDirectory("hourly_ckpt").toString
    // batch 1: hour-10 events
    Files.writeString(raw.resolve("f1.json"),
      Seq(rec(10, 0, 10.0), rec(10, 30, 20.0)).mkString("\n"))
    // batch 2: hour-13 event advances the watermark far past hour 10
    Files.writeString(raw.resolve("f2.json"), rec(13, 0, 99.0))
    // batch 3: hour-10 straggler — behind the operative watermark
    // (12:30) but the hour-10 state has not been evicted yet, so it
    // still merges (state-bounding, not row-filtering, semantics)
    Files.writeString(raw.resolve("f3.json"), rec(10, 45, 1000.0))
    // file source orders batches by modification time: force f1<f2<f3
    raw.resolve("f1.json").toFile.setLastModified(1000000L)
    raw.resolve("f2.json").toFile.setLastModified(2000000L)
    raw.resolve("f3.json").toFile.setLastModified(3000000L)

    // single stateful operator: chaining the dedup in front would delay
    // the aggregate's operative watermark by the dedup's own delay
    // (Spark propagates the upstream OUTPUT watermark), letting a
    // same-batch straggler slip into a closing window
    val parsed = graft.pipeline.AqPipeline.parseTimestamps(
      AqStreaming.readRawStream(spark, raw.toString, maxFilesPerTrigger = 1))
      .withWatermark("datetime", "30 minutes")
    val agg = AqStreaming.hourlyAggregates(parsed)
    val q = agg.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour").toInstant.toString,
        r.getAs[Double]("avg_value"), r.getAs[Long]("n"))).toSeq
    // only the CLOSED hour-10 window is emitted, exactly once, with
    // the pre-eviction straggler merged; hour-13 (watermark not past
    // its end) is withheld
    assert(rows.map(_._1) == Seq("2024-01-15T10:00:00Z"), s"got $rows")
    assert(rows.head._3 == 3L && math.abs(rows.head._2 - 1030.0 / 3) < 1e-9)
  }
}

/** transformWithState (Spark 4 arbitrary-state API) sessionization:
  * same two-micro-batch scenario as the flatMapGroupsWithState spec.
  * Requires the RocksDB state store provider.
  */
class SessionizeV2Spec extends graft.SparkSpec {
  import java.nio.file.Files

  test("transformWithState closes sessions on gap across micro-batches") {
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = Files.createTempDirectory("sessv2_raw")
      val out = Files.createTempDirectory("sessv2_out").toString
      val ckpt = Files.createTempDirectory("sessv2_ckpt").toString
      def rec(ts: String, v: Double) = s"""{"user_id": 1, "ts": "$ts", "value": $v}"""
      Files.writeString(dir.resolve("f1.json"), Seq(
        rec("2024-01-01T10:00:00.000Z", 1.0),
        rec("2024-01-01T10:10:00.000Z", 2.0)).mkString("\n"))
      Files.writeString(dir.resolve("f2.json"), rec("2024-01-01T13:00:00.000Z", 9.0))
      dir.resolve("f1.json").toFile.setLastModified(1000000L)
      dir.resolve("f2.json").toFile.setLastModified(2000000L)

      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir.toString)
      val q = SessionizeV2.sessionizeStream(stream, gapMinutes = 30)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)

      val sessions = spark.read.parquet(out).collect()
      assert(sessions.length == 1, s"expected one closed session, got ${sessions.toSeq}")
      assert(sessions.head.getAs[Long]("n_events") == 2L)
      assert(sessions.head.getAs[Double]("total_value") == 3.0)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}

/** Incremental processing via checkpoint resume — the Structured
  * Streaming analog of the reference's Glue job bookmarks (SURVEY §4):
  * a restarted query with the same checkpoint processes ONLY files
  * that arrived since the last run, and the idempotent mart write
  * keeps re-processed partitions duplicate-free.
  */
class CheckpointResumeSpec extends graft.SparkSpec {
  import java.nio.file.Files

  private def rec(day: Int, hh: Int) =
    f"""{"location_id": 1, "sensor_id": 2, "datetime": "2024-01-$day%02dT$hh%02d:00:00Z", "parameter": "pm25", "value": 5.0, "unit": "u", "extracted_at": "e", "location_name": "n", "city": "c", "timezone": "tz", "country": "VN", "latitude": 1.0, "longitude": 2.0}"""

  test("restart with same checkpoint processes only new files (bookmark semantics)") {
    val raw = Files.createTempDirectory("bk_raw")
    val mart = Files.createTempDirectory("bk_mart").toString
    val ckpt = Files.createTempDirectory("bk_ckpt").toString

    Files.writeString(raw.resolve("h1.json"), Seq(rec(1, 10), rec(1, 11)).mkString("\n"))
    val q1 = AqStreaming.streamToMart(spark, raw.toString, mart, ckpt).start()
    q1.awaitTermination(120000)
    assert(spark.read.parquet(mart).count() == 2)

    // new hourly file lands; restart the SAME query definition
    Files.writeString(raw.resolve("h2.json"), Seq(rec(1, 12), rec(2, 9)).mkString("\n"))
    val q2 = AqStreaming.streamToMart(spark, raw.toString, mart, ckpt).start()
    q2.awaitTermination(120000)

    val out = spark.read.parquet(mart)
    assert(out.count() == 4, "old files must not be re-ingested, new ones must")
    // third run with nothing new: a no-op, still 4 rows (idempotence)
    val q3 = AqStreaming.streamToMart(spark, raw.toString, mart, ckpt).start()
    q3.awaitTermination(120000)
    assert(spark.read.parquet(mart).count() == 4)
  }

  private def recP(param: String, v: Double) =
    s"""{"location_id": 1, "sensor_id": 2, "datetime": "2024-01-01T10:00:00Z", "parameter": "$param", "value": $v, "unit": "u", "extracted_at": "e", "location_name": "n", "city": "c", "timezone": "tz", "country": "VN", "latitude": 1.0, "longitude": 2.0}"""

  test("mergePartialRows: one key split across micro-batches compacts to a single complete row") {
    val raw = Files.createTempDirectory("pm_raw")
    val mart = Files.createTempDirectory("pm_mart").toString
    val ckpt = Files.createTempDirectory("pm_ckpt").toString

    // batch 1 carries pm25, batch 2 carries pm10 for the SAME key
    Files.writeString(raw.resolve("b1.json"), recP("pm25", 5.0))
    AqStreaming.streamToMart(spark, raw.toString, mart, ckpt).start()
      .awaitTermination(120000)
    Files.writeString(raw.resolve("b2.json"), recP("pm10", 7.0))
    AqStreaming.streamToMart(spark, raw.toString, mart, ckpt).start()
      .awaitTermination(120000)

    val rows = spark.read.parquet(mart)
    assert(rows.count() == 2, "expect two partial rows before compaction")
    val merged = AqStreaming.mergePartialRows(rows)
    assert(merged.count() == 1)
    val r = merged.head()
    assert(r.getAs[Double]("pm25") == 5.0 && r.getAs[Double]("pm10") == 7.0)
    assert(r.getAs[String]("city_name") == "c")
  }
}

/** Stream-stream attribution join: clicks within 30 min before a
  * purchase by the same user, watermark-bounded state on both sides.
  */
class StreamJoinSpec extends graft.SparkSpec {
  import java.nio.file.Files

  private def rec(user: Long, ts: String, v: Double) =
    s"""{"user_id": $user, "ts": "$ts", "value": $v}"""

  test("watermarked stream-stream join matches in-window pairs only") {
    val clicksDir = Files.createTempDirectory("sj_clicks")
    val purchasesDir = Files.createTempDirectory("sj_purch")
    val out = Files.createTempDirectory("sj_out").toString
    val ckpt = Files.createTempDirectory("sj_ckpt").toString
    Files.writeString(clicksDir.resolve("c.json"), Seq(
      rec(1, "2024-01-01T10:00:00Z", 1.0),   // in window of the 10:20 purchase
      rec(1, "2024-01-01T09:40:00Z", 2.0),   // 40 min before → OUT of window
      rec(2, "2024-01-01T10:05:00Z", 3.0)).mkString("\n")) // other user
    Files.writeString(purchasesDir.resolve("p.json"),
      rec(1, "2024-01-01T10:20:00Z", 99.0))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def read(d: java.nio.file.Path) = spark.readStream.schema(schema).json(d.toString)

    val joined = StreamJoins.attributionJoin(
      read(clicksDir), read(purchasesDir), windowMinutes = 30)
    val q = joined.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 1, s"got ${rows.toSeq}")
    assert(rows.head.getAs[Double]("c_value") == 1.0)
    assert(rows.head.getAs[Double]("e_value") == 99.0)
  }

  test("left-outer join emits unmatched causes once the watermark closes their window") {
    val clicksDir = Files.createTempDirectory("sjo_clicks")
    val purchasesDir = Files.createTempDirectory("sjo_purch")
    val out = Files.createTempDirectory("sjo_out").toString
    val ckpt = Files.createTempDirectory("sjo_ckpt").toString
    // batch 1: one converting click, one that never converts
    Files.writeString(clicksDir.resolve("a_b1.json"), Seq(
      rec(1, "2024-01-01T10:00:00Z", 1.0),
      rec(3, "2024-01-01T10:02:00Z", 7.0)).mkString("\n"))
    Files.writeString(purchasesDir.resolve("a_b1.json"),
      rec(1, "2024-01-01T10:20:00Z", 99.0))
    // batch 2: far-future heartbeats push the watermark past 10:02's
    // window (+30 min join window +10 min delay) so the unmatched
    // click's state can be finalized and emitted with a null effect
    Files.writeString(clicksDir.resolve("b_b2.json"),
      rec(999, "2024-01-01T12:00:00Z", 0.0))
    Files.writeString(purchasesDir.resolve("b_b2.json"),
      rec(999, "2024-01-01T12:00:00Z", 0.0))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def read(d: java.nio.file.Path) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(d.toString)

    val joined = StreamJoins.attributionJoinLeftOuter(
      read(clicksDir), read(purchasesDir), windowMinutes = 30)
    joined.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination(120000)

    val rows = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("user_id") < 100).collect()
    val byUser = rows.map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(rows.length == 2, s"got ${rows.toSeq}")
    assert(byUser(1).getAs[Double]("e_value") == 99.0)        // matched pair
    assert(byUser(3).isNullAt(byUser(3).fieldIndex("e_ts")))  // outer row, null effect
  }

  test("stream-static enrichment: dim broadcast per batch, unmatched kept, no fan-out") {
    import org.apache.spark.sql.functions.col
    val evDir = Files.createTempDirectory("ss_ev")
    val out = Files.createTempDirectory("ss_out").toString
    val ckpt = Files.createTempDirectory("ss_ckpt").toString
    // two micro-batches (maxFilesPerTrigger=1): a stream-static join
    // must enrich BOTH without carrying state between them
    Files.writeString(evDir.resolve("b1.json"), Seq(
      rec(1, "2024-01-01T10:00:00Z", 1.0),
      rec(7, "2024-01-01T10:01:00Z", 2.0)).mkString("\n")) // 7: no dim row
    Files.writeString(evDir.resolve("b2.json"),
      rec(2, "2024-01-01T11:00:00Z", 3.0))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(evDir.toString)
    import spark.implicits._
    // duplicate dim row for key 1 must NOT fan the fact out
    val dim = Seq((1L, "gold"), (1L, "gold-dup"), (2L, "silver"))
      .toDF("user_id", "tier")

    StreamJoins.enrichWithStatic(stream, dim, "user_id")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination(120000)

    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 3, s"no fan-out, no drops: ${rows.toSeq}")
    val tiers = rows.map(r =>
      r.getAs[Long]("user_id") -> Option(r.getAs[String]("tier"))).toMap
    assert(tiers(1L).exists(_.startsWith("gold"))) // exactly one of the dup dim rows
    assert(tiers(2L).contains("silver")) // enriched in the SECOND batch
    assert(tiers(7L).isEmpty)            // unmatched kept with null dim
  }
}

/** Streaming curation: watermarked content-hash dedup emits exactly
  * one row per distinct content arriving within the horizon — across
  * micro-batches — and the stateless quality gate filters in-flight.
  */
class CurationStreamSpec extends graft.SparkSpec {
  import java.nio.file.Files
  import org.apache.spark.sql.functions._

  private def doc(id: Long, ts: String, text: String) =
    s"""{"doc_id": $id, "ts": "$ts", "text": "$text"}"""

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

  test("streaming dedup keeps one row per content across micro-batches; gate filters in-flight") {
    val in = Files.createTempDirectory("cur_in")
    val out = Files.createTempDirectory("cur_out").toString
    val ckpt = Files.createTempDirectory("cur_ckpt").toString
    // two micro-batches (maxFilesPerTrigger=1): the duplicate content in
    // batch 2 must be dropped by digest state carried across batches
    Files.writeString(in.resolve("b1.json"), Seq(
      doc(1, "2024-01-01T10:00:00Z", "a good long document with many distinct useful tokens inside it"),
      doc(2, "2024-01-01T10:01:00Z", "spam spam spam spam spam spam")).mkString("\n"))
    Files.writeString(in.resolve("b2.json"), Seq(
      doc(3, "2024-01-01T10:02:00Z", "a good long document with many distinct useful tokens inside it"),
      doc(4, "2024-01-01T10:03:00Z", "another clean document whose tokens are varied and plentiful today")).mkString("\n"))

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val curated = CurationStream.qualityGate(
      CurationStream.novelDocs(stream, "text", "ts", delay = "1 hour"),
      "text", maxDupTokenFrac = 0.5, minQuality = 0.0)
    val q = curated.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // 1 survives; 2 fails the dup-token gate; 3 is a cross-batch
    // duplicate of 1; 4 survives
    assert(ids == Set(1L, 4L), s"got $ids")
  }
}
