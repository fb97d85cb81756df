package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import graft.pipeline.AqPipeline
import graft.streaming.AqStreaming

/** The JVM half of the benchmark: builds the session, runs one
  * workload's set-up and its timed loop through the engine's public
  * functions, and writes every raw sample to `<dir>/result.json`.
  * `run.py` generates the inputs, launches this, and checks the outputs.
  *
  * Usage: perfbench.Main --workload W --dir D --seconds S --trace 0|1 --cpus N
  *        [--warm-hours H --period-s P]   (ingest_hourly)
  */
object Main {

  final case class Opts(workload: String, dir: Path, seconds: Double, trace: Boolean, cpus: Int,
                        args: Map[String, String])

  /** One measured operation: a backfill pass or an ingest tick. */
  final case class Op(kind: String, index: Int, startMs: Long, latencyS: Double,
                      traced: Boolean, error: Option[String], detail: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), Paths.get(kv("dir")), kv("seconds").toDouble,
      kv("trace") == "1", kv("cpus").toInt, kv)
    HeapPeak.install()
    val t0 = System.nanoTime()
    val spark = Session.build(o.cpus, o.dir.resolve("spark"))
    val h = new Harness(spark, o)
    h.result("session_s") = (System.nanoTime() - t0) / 1e9
    o.workload match {
      case "etl_backfill" => Workloads.etlBackfill(h)
      case "ingest_hourly" => Workloads.ingestHourly(h)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    h.finish()
    spark.stop()
  }
}

/** The largest heap in use after a collection over the whole run: the
  * live heap the program needed, whatever size the collector gave the
  * heap.
  */
object HeapPeak {
  @volatile private var peakBytes = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peakBytes = math.max(peakBytes, used) }
          }, null, null)
      case _ =>
    }
  }

  def mb: Double = peakBytes / 1048576.0
}

/** Timing, tracing toggles and the result record shared by the workloads. */
final class Harness(val spark: SparkSession, val o: Main.Opts) {
  import Main.Op
  val trace = new Trace(spark)
  val result = mutable.LinkedHashMap.empty[String, Any]
  private val ops = mutable.ArrayBuffer.empty[Op]
  private var deadline = Long.MaxValue

  def dir(name: String): String = o.dir.resolve(name).toString

  /** Set-up ends here: the timed window of `seconds` starts. */
  def startClock(): Unit = {
    result("ready_ms") = System.currentTimeMillis()
    deadline = System.nanoTime() + (o.seconds * 1e9).toLong
  }
  def timeLeft: Boolean = System.nanoTime() < deadline

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Run one operation as the root span `op.<kind>`, timed, with
    * failures recorded rather than thrown. A traced run alternates traced
    * and untraced operations; cached state is dropped after each one.
    */
  def sequential(kind: String, index: Int)(body: => Map[String, Any]): Op = {
    trace.setEnabled(o.trace && index >= 0 && index % 2 == 0)
    val startMs = System.currentTimeMillis()
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val (err, detail) =
      try trace.span(s"op.$kind", index) {
        val d = body
        trace.note("jvm.gc_s", (gcMs - gc0) / 1e3)
        (None, d)
      } catch { case NonFatal(e) => (Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000)), Map.empty[String, Any]) }
    val op = Op(kind, index, startMs, (System.nanoTime() - t0) / 1e9, trace.enabled, err, detail)
    ops += op
    trace.setEnabled(false)
    Workloads.dropCaches(spark)
    op
  }

  def finish(): Unit = {
    trace.setEnabled(false)
    result("ops") = ops.toSeq.sortBy(op => (op.startMs, op.index)).map { op =>
      Map("kind" -> op.kind, "index" -> op.index, "start_ms" -> op.startMs,
        "latency_s" -> op.latencyS, "traced" -> op.traced, "error" -> op.error,
        "detail" -> op.detail)
    }
    result("peak_rss_mb") = Workloads.peakRssMb()
    result("peak_heap_mb") = HeapPeak.mb
    if (o.trace) {
      val (perOp, byName, unattributed) = trace.report()
      result("trace_ops") = perOp.toSeq.sortBy(_._1).map { case (i, c) =>
        Map("op" -> i, "sums" -> c.sums.toMap, "peaks" -> c.peaks.toMap)
      }
      result("spans") = byName.toSeq.sortBy(_._1).map { case (n, (count, total, self)) =>
        Map("name" -> n, "count" -> count, "total_s" -> total, "self_s" -> self)
      }
      result("unattributed_groups") = unattributed
    }
    result("exit_ms") = System.currentTimeMillis()
    Files.writeString(o.dir.resolve("result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
  }
}

object Workloads {

  def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** readRaw → transform(aqi) → writeMart → registerMart → validate. */
  private def backfillPass(h: Harness, raw: String, mart: String, view: String): Map[String, Any] = {
    val t = h.trace
    val df = t.span("pipeline.readRaw")(AqPipeline.readRaw(h.spark, raw))
    val wide = t.span("pipeline.transform")(AqPipeline.transform(df, aqi = true))
    t.span("pipeline.writeMart")(AqPipeline.writeMart(wide, mart))
    t.span("pipeline.registerMart")(AqPipeline.registerMart(h.spark, mart, view))
    val v = t.span("pipeline.validate")(AqPipeline.validate(h.spark.table(view)).collect().head)
    v.schema.fieldNames.map(f => f -> v.getAs[Any](f)).toMap
  }

  def etlBackfill(h: Harness): Unit = {
    val (raw, mart) = (h.dir("raw"), h.dir("mart"))
    // untimed passes: the first, over one input file into a scratch mart,
    // compiles; two full passes let the JIT settle
    h.sequential("pass", -3)(backfillPass(h, h.dir("raw/part-00000.json"), h.dir("mart-cold"), "aq_mart"))
    (-2 to -1).foreach(i => h.sequential("pass", i)(backfillPass(h, raw, mart, "aq_mart")))
    h.startClock()
    var i = 0
    while (h.timeLeft) { h.sequential("pass", i)(backfillPass(h, raw, mart, "aq_mart")); i += 1 }
  }

  /** Open loop: hour file k is due `period` seconds after hour k-1 and
    * lands (an atomic rename into the landing directory) once it is due
    * and no tick is running; each tick runs one AvailableNow
    * `streamToMart` over everything landed. A file's latency runs from
    * its due time to the end of the tick that committed it.
    */
  def ingestHourly(h: Harness): Unit = {
    val staged = Paths.get(h.dir("staged"))
    val landing = Files.createDirectories(Paths.get(h.dir("landing")))
    val (mart, ckpt) = (h.dir("mart"), h.dir("checkpoint"))
    val files = Files.list(staged).iterator.asScala.map(_.getFileName.toString).toVector.sorted
    val warmHours = h.o.args("warm-hours").toInt
    val period = h.o.args("period-s").toDouble
    def land(k: Int): Unit = Files.move(staged.resolve(files(k)), landing.resolve(files(k)),
      StandardCopyOption.ATOMIC_MOVE)
    def tick(): Map[String, Any] = {
      val t = h.trace
      t.span("pipeline.streamToMart") {
        val writer = AqStreaming.streamToMart(h.spark, landing.toString, mart, ckpt)
        val q = t.span("streaming.start")(writer.start())
        t.alias(q.runId.toString)
        q.awaitTermination()
        Map.empty[String, Any]
      }
    }
    // set-up: a cold tick over all but the last three warm hours, then
    // three warm ticks of one hour each
    (0 until warmHours - 3).foreach(land)
    h.sequential("tick", -4)(tick())
    (-3 to -1).foreach { i => land(warmHours + i); h.sequential("tick", i)(tick()) }
    h.startClock()
    val t0 = System.nanoTime()
    def due(k: Int): Long = t0 + ((k - warmHours) * period * 1e9).toLong
    var next = warmHours
    var i = 0
    var maxLag, maxBacklog = 0.0
    val latencies = mutable.ArrayBuffer.empty[Double]
    while (h.timeLeft && next < files.size) {
      val wait = due(next) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      val batch = Iterator.from(next).takeWhile(k => k < files.size && due(k) <= System.nanoTime()).toVector
      batch.foreach(land)
      next += batch.size
      val start = System.nanoTime()
      maxLag = math.max(maxLag, (start - due(batch.head)) / 1e9)
      maxBacklog = math.max(maxBacklog, batch.size.toDouble)
      val op = h.sequential("tick", i)(tick() ++ Map("hours" -> batch))
      val end = System.nanoTime()
      if (op.error.isEmpty) latencies ++= batch.map(k => (end - due(k)) / 1e9)
      i += 1
    }
    h.result("file_latency_s") = latencies.toSeq
    h.result("landed_hours") = next
    h.result("schedule_lag_max_s") = maxLag
    h.result("backlog_max_files") = maxBacklog
    // untimed: the read-side repair the checks compare against truth
    AqPipeline.registerMart(h.spark, mart, "ingest_mart")
    AqStreaming.mergePartialRows(h.spark.table("ingest_mart"))
      .write.mode("overwrite").parquet(h.dir("merged"))
  }
}
