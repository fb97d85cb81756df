package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Sustained THROUGHPUT of the stateful streaming paths — the parity
  * rows pin WHAT the operators emit; this measures how fast the same
  * code drains a real backlog, which is the capacity-planning number
  * a 100 TB deployment sizes against (events/sec/core × cores ≥
  * ingest rate, or the stream falls behind its watermark forever).
  *
  * Method: the events table (10M rows at the 10× stress set) staged
  * as `nFiles` mtime-ordered parquet files, drained with
  * Trigger.AvailableNow + maxFilesPerTrigger=1 → `nFiles`
  * micro-batches through each pipeline into a noop sink (no sink I/O
  * in the number). Reported rows/sec is input rows over wall drain
  * time, including all micro-batch/planning overhead — the honest
  * end-to-end figure, not a per-operator peak. State rows come from
  * the final progress's stateOperators, pinning that state stays
  * ∝ keys/windows (bounded), not ∝ stream length.
  *
  * One JSON line per pipeline:
  *   {"pipeline":…,"rows":…,"sec":…,"rows_per_sec":…,"batches":…,
  *    "state_rows":…}
  *
  * Usage: sbt "runMain graft.tools.StreamThroughputProbe /tmp/stress/sf1 8"
  */
object StreamThroughputProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/stress/sf1"
    val nFiles = if (args.length > 1) args(1).toInt else 8
    // optional third arg "rocksdb": run the same pipelines on the
    // PRODUCTION state backend — HDFS-backed in-memory state hides the
    // changelog/compaction cost RocksDB pays under sustained
    // multi-batch load, so capacity planning needs both columns
    val provider = if (args.length > 2) args(2) else "default"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val rocksdb =
      if (provider == "rocksdb") Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil
    val spark = graft.GraftExtensions.session(s"local[$cpus]", parts.toInt, rocksdb: _*)
    import spark.implicits._

    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val total = ev.count()

    // stage once: nFiles mtime-ordered TIME slices — a backlog drained
    // in event-time order, the realistic catch-up shape. (Id-striping
    // would make every batch span the whole range: watermark jumps to
    // max−delay after batch 1 and every later batch is wholly late —
    // event-time timeouts then sit before the watermark, which
    // flatMapGroupsWithState rejects by contract.)
    val b = ev.agg(min("ts").cast("long").as("lo"), max("ts").cast("long").as("hi"))
      .collect()(0)
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val sliceSec = math.max(1L, (hi - lo) / nFiles + 1)
    // every temp artifact (staged slices, pre-copy part dirs,
    // checkpoints) is deleted on exit — at the 10× usage each run
    // stages a full copy of a 10M-row events table, and /tmp is the
    // same scratch disk the BENCHNOTES decade sweeps already
    // identified as the constrained resource
    val tmpRoots = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tempDir(prefix: String): java.nio.file.Path = {
      val p = Files.createTempDirectory(prefix)
      tmpRoots += p
      p
    }
    def deleteTree(p: java.nio.file.Path): Unit = {
      val f = p.toFile
      if (f.isDirectory) f.listFiles().foreach(c => deleteTree(c.toPath))
      f.delete(); ()
    }
    sys.addShutdownHook(tmpRoots.foreach(deleteTree))
    val stage = tempDir("graft_tp_in")
    (0 until nFiles).foreach { i =>
      val tmp = tempDir("graft_tp_part")
      ev.filter((col("ts").cast("long") - lo).divide(sliceSec).cast("int") === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = stage.resolve(f"b$i%02d.parquet")
      Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }

    def r1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

    def run(name: String, build: DataFrame => DataFrame): Unit = {
      val ckpt = tempDir(s"graft_tp_ckpt_$name").toString
      val src = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage.toString)
      val t0 = System.nanoTime()
      val q = build(src).writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(1200000)) { q.stop(); sys.error(s"$name timed out") }
      val sec = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      val batches = progress.count(_.numInputRows > 0)
      val stateRows = progress.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      // on-disk state footprint after the drain (ckpt/state: snapshot +
      // changelog files for RocksDB, delta files for the default
      // provider) — the disk-capacity side of the state bound
      def treeBytes(p: java.nio.file.Path): Long = {
        val f = p.toFile
        if (f.isDirectory) f.listFiles().map(c => treeBytes(c.toPath)).sum
        else f.length
      }
      val stateDir = java.nio.file.Paths.get(ckpt, "state")
      val stateMb =
        if (stateDir.toFile.isDirectory) treeBytes(stateDir) / 1e6 else -1.0
      println(s"""{"pipeline":"$name","provider":"$provider","rows":$total,""" +
        s""""sec":${r1(sec)},"rows_per_sec":${(total / sec).toLong},""" +
        s""""batches":$batches,"state_rows":$stateRows,""" +
        s""""state_dir_mb":${r1(stateMb)}}""")
    }

    println(s"""{"probe":"stream_throughput","dir":"$dir","rows":$total,""" +
      s""""files":$nFiles,"cpus":$cpus,"provider":"$provider"}""")
    run("watermark_dedup", s => s
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("event_id", "ts"))
    run("hourly_window_agg", s => s
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value")))
    run("sessionize_fmgws", s => graft.streaming.Sessionize
      .sessionizeStream(s.select(col("user_id"), col("ts"), col("value")),
        gapMinutes = 30, watermarkDelay = "1 hour").toDF())
    spark.stop()
  }
}
