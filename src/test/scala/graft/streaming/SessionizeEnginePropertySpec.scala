package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}

/** Randomized ENGINE-level parity for both stateful-streaming APIs:
  * [[SessionizeFoldPropertySpec]] pins the shared fold algebraically
  * (300 pure-JVM cases), but the fold is only half of each engine —
  * state carry, watermark plumbing, timer registration and the
  * flatMapGroupsWithState vs transformWithState harnesses are the
  * other half, and only a REAL streaming run exercises them. This
  * suite drives deterministic seeded random event streams (multiple
  * users, ties, gap-boundary times, arbitrary contiguous micro-batch
  * splits) through BOTH engines and asserts each emits exactly the
  * batch consecutive-gap sessionization — so the two engines stay
  * pinned to the same semantics as Spark's state APIs evolve.
  *
  * Harness matches the driver-hashed st_sessionize_parity row:
  * file-source batches ordered by mtime, per-user far-future sentinel
  * in the last batch closes every real session inline, sentinel
  * sessions stay open in state and are never emitted.
  */
class SessionizeEnginePropertySpec extends graft.SparkSpec {

  private val gapMinutes = 10
  private val gapUs = gapMinutes * 60L * 1000000L
  private val base = 1704067200000000L // 2024-01-01T00:00:00Z micros

  private case class Ev(user: Long, us: Long, value: Double)

  /** Reference batch sessionization per user (consecutive-gap rule —
    * what w4_sessionize and the DuckDB oracle compute).
    */
  private def reference(evs: Seq[Ev]): Set[(Long, Long, Long, Long, Double)] = {
    val out = ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
    evs.groupBy(_.user).foreach { case (u, es) =>
      val sorted = es.sortBy(e => (e.us, e.value))
      var cur: Option[(Long, Long, Long, Double)] = None
      sorted.foreach { e =>
        cur match {
          case Some((s, last, n, tot)) if e.us - last <= gapUs =>
            cur = Some((s, e.us, n + 1, tot + e.value))
          case Some((s, last, n, tot)) =>
            out += ((u, s, last, n, tot))
            cur = Some((e.us, e.us, 1L, e.value))
          case None =>
            cur = Some((e.us, e.us, 1L, e.value))
        }
      }
      cur.foreach { case (s, last, n, tot) => out += ((u, s, last, n, tot)) }
    }
    out.toSet
  }

  private def runEngine(api: String, evs: Seq[Ev], nBatches: Int,
                        rnd: scala.util.Random): Set[(Long, Long, Long, Long, Double)] = {
    val sorted = evs.sortBy(e => (e.us, e.value))
    val maxUs = sorted.map(_.us).max
    val sentinels = evs.map(_.user).distinct.sorted
      .map(u => Ev(u, maxUs + 86400L * 1000000L, 0.0))
    // contiguous time split into nBatches chunks (random cut points)
    val cutIdx = (Seq(0, sorted.size) ++
      Seq.fill(nBatches - 1)(rnd.nextInt(sorted.size + 1))).sorted
    val batches0 = cutIdx.sliding(2).map { case Seq(a, b) =>
      sorted.slice(a, b)
    }.toSeq
    drain(api, batches0.dropRight(1) :+ (batches0.last ++ sentinels), "3650 days")
  }

  /** The sessions `api` emits when `batches` drain as one file-source
    * micro-batch each under a `delay` watermark.
    */
  private def drain(api: String, batches: Seq[Seq[Ev]],
                    delay: String): Set[(Long, Long, Long, Long, Double)] = {
    import spark.implicits._
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def toDf(b: Seq[Ev]): DataFrame =
      b.map(e => (e.user, Sessionize.toTimestamp(e.us), e.value))
        .toDF("user_id", "ts", "value")

    val stage = Files.createTempDirectory(s"sess_prop_in_$api")
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = Files.createTempDirectory("sess_prop_part")
      toDf(b).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(f"b$i%02d.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }
    val out = Files.createTempDirectory(s"sess_prop_out_$api").toString
    val ckpt = Files.createTempDirectory(s"sess_prop_ckpt_$api").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage.toString)
    val sessions = api match {
      case "v1" => Sessionize.sessionizeStream(stream, gapMinutes, delay)
      case "v2" => SessionizeV2.sessionizeStream(stream, gapMinutes, delay)
    }
    val q = sessions.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), s"$api stream did not finish")
    val sessSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("session_start", TimestampType),
      StructField("session_end", TimestampType),
      StructField("n_events", LongType),
      StructField("total_value", DoubleType)))
    spark.read.schema(sessSchema).parquet(out).collect().map { r =>
      (r.getLong(0), Sessionize.micros(r.getAs[Timestamp](1)),
        Sessionize.micros(r.getAs[Timestamp](2)), r.getLong(3), r.getDouble(4))
    }.toSet
  }

  private def randomCase(seed: Int): (Seq[Ev], Int, scala.util.Random) = {
    val rnd = new scala.util.Random(seed)
    val nUsers = 1 + rnd.nextInt(3)
    // minute-ish granularity over ~4 hours with second offsets: gap
    // boundaries (exactly 10 min apart) and ties occur frequently
    val evs = (0 until (10 + rnd.nextInt(25))).map { i =>
      Ev(1 + rnd.nextInt(nUsers),
        base + rnd.nextInt(240) * 60000000L + rnd.nextInt(3) * 1000000L,
        (i % 7) + 1.0)
    }
    (evs, 2 + rnd.nextInt(2), rnd)
  }

  /** `body` with the state-store provider `api` runs on (v2 needs RocksDB). */
  private def onProvider[T](api: String)(body: => T): T = {
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    if (api == "v2") spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally if (api == "v2") saved match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  for (api <- Seq("v1", "v2"); seed <- Seq(11, 22, 33, 44)) {
    test(s"$api engine == batch sessionization (seeded random case $seed)") {
      onProvider(api) {
        val (evs, nBatches, rnd) = randomCase(seed)
        val got = runEngine(api, evs, nBatches, rnd)
        val ref = reference(evs)
        assert(got == ref,
          s"api=$api seed=$seed\n got=${got.toSeq.sorted}\n ref=${ref.toSeq.sorted}")
      }
    }
  }

  for (api <- Seq("v1", "v2")) {
    test(s"$api engine flushes a stale run once the watermark closes it, while the open session stays open") {
      // gap 10 min, a REAL 30-minute watermark. Batch k drops events
      // older than the watermark of batch k − 2 and evicts against that
      // of batch k − 1 (75 and 100 min for the last batch here). User
      // 1's session 100..105 stays open to the end: its horizon, 115
      // min, is past the final 100-min watermark, so its expiry never
      // fires. User 1's late event at 78 min is admitted (≥ 75), more
      // than a gap before the open session, and its run is closed for
      // good (78 + 10 < 100) in the very batch it arrives in, with no
      // later event of user 1 to flush it: it is emitted only if the
      // step flushes what the watermark has closed. User 2's first
      // session closes inline when its event at 130 min arrives.
      def at(user: Long, min: Int) = Ev(user, base + min * 60000000L, min.toDouble)
      val batches = Seq(Seq(at(1, 100), at(1, 105), at(2, 100)), Seq(at(2, 130)),
        Seq(at(1, 78)))
      val got = onProvider(api)(drain(api, batches, "30 minutes"))
      def single(user: Long, min: Int) =
        (user, base + min * 60000000L, base + min * 60000000L, 1L, min.toDouble)
      assert(got == Set(single(1, 78), single(2, 100)),
        s"api=$api got=${got.toSeq.sorted}")
    }
  }
}
