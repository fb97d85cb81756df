package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.types.BooleanType

/** Constrained-memory SPILL sweep: every scale number so far came from
  * a 16g-heap JVM on data that fits in memory — at 100 TB the binding
  * constraint is per-task memory, and the question is whether each
  * operator DEGRADES (spills to disk, keeps going) or DIES (OOM,
  * unspillable state) when the heap is small. This main runs a query
  * list against a data dir while a listener accumulates the task-level
  * spill counters (memoryBytesSpilled / diskBytesSpilled /
  * peakExecutionMemory / jvmGCTime), and prints one JSON line per
  * query — including an `"error"` line on failure, so a genuinely
  * OOM-shaped operator is recorded rather than wedging the sweep.
  *
  * Knobs (all env):
  *   SPARK_DRIVER_MEM           forked-JVM heap (build.sbt) — THE axis
  *   SPARK_GRAFT_SHUFFLE_PARTITIONS  per-task state knob: more
  *                              partitions → less hash/sort state per
  *                              task → less spill (the standard first
  *                              response on a real cluster)
  *   SPARK_GRAFT_CPUS           concurrent tasks sharing the heap
  *
  * Usage:
  *   SPARK_DRIVER_MEM=4g SPARK_GRAFT_SHUFFLE_PARTITIONS=64 \
  *     sbt "runMain graft.SpillBench /tmp/stress/sf1 [q1,q2,…]"
  *
  * Methodology: ONE warm-free timed run per query (unlike Bench's
  * min-of-3 — spill behavior, not latency noise, is the measurand, and
  * a warm run under memory pressure would distort the page cache).
  * Persisted state dropped between queries. Every `*_ok` self-check
  * boolean is still evaluated — a spill that silently corrupts results
  * would fail here, not just slow down.
  */
object SpillBench {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/stress/sf1"
    val names = if (args.length > 1) args(1).split(",").toSeq.map(_.trim)
                else ScaleBench.TOP
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = GraftExtensions.session(s"local[$cpus]", parts.toInt)

    val memSpilled = new AtomicLong(0)
    val diskSpilled = new AtomicLong(0)
    val peakTaskMem = new AtomicLong(0)
    val gcTime = new AtomicLong(0)
    val shuffleWritten = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
          gcTime.addAndGet(m.jvmGCTime)
          shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        }
      }
    })
    def resetCounters(): Unit = {
      memSpilled.set(0); diskSpilled.set(0); peakTaskMem.set(0)
      gcTime.set(0); shuffleWritten.set(0)
    }

    def clearState(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      Tables.resetRegistration()
    }

    def r1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def mb(v: Long): String = r1(v / 1048576.0)

    val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "16g")
    println(s"""{"sweep":"spill","heap":"$heap","cpus":$cpus,"shuffle_partitions":$parts,"dir":"$dir"}""")

    names.foreach { name =>
      try {
        resetCounters()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // spill-run correctness: the self-check booleans must still
        // hold when operators take the disk path
        val boolCols = df.schema.fields
          .filter(f => f.dataType == BooleanType && f.name.endsWith("_ok"))
          .map(_.name)
        val ok = if (boolCols.isEmpty) true else {
          import org.apache.spark.sql.functions.{min => smin, col}
          SparkEntry.queries(name)(spark, dir)
            .agg(smin(boolCols.map(col).reduce(_ && _)).as("ok"))
            .collect()(0).getBoolean(0)
        }
        println(s"""{"query":"$name","sec":${r1(sec)},""" +
          s""""spill_mem_mb":${mb(memSpilled.get)},"spill_disk_mb":${mb(diskSpilled.get)},""" +
          s""""peak_task_mem_mb":${mb(peakTaskMem.get)},"gc_sec":${r1(gcTime.get / 1000.0)},""" +
          s""""shuffle_write_mb":${mb(shuffleWritten.get)},"checks":$ok}""")
      } catch { case e: Throwable =>
        // backslashes FIRST, then quotes and ALL control chars (\r,
        // \t, … — common in paths and Spark stack-trace messages):
        // the quotes-and-\n-only form emitted malformed JSON for
        // exactly the OOM-shaped failures this sweep exists to record
        val msg = graft.GraftConf.jsonSafeMsg(e, 200)
        println(s"""{"query":"$name","error":"$msg"}""")
      } finally clearState()
    }
    spark.stop()
  }
}
