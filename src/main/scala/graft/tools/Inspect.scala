package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.Json
import graft.Timer.timed

import scala.collection.mutable

/** Inspect one named `SparkEntry` query, one way per run — the
  * iterate-on-one-query loop.
  *
  *  - `--time`: an untimed warm run (Janino codegen), then three timed
  *    runs materialized through the noop sink (Bench's methodology).
  *    One `PROFILE <query> run <i>: <s> s` line per timed run, then
  *    `{"query":…,"sec":<min of the three>,"sf":…}`.
  *  - `--jobs`: per-job wall time after a warm run — the local-mode
  *    stand-in for the Spark UI's Jobs page (the UI is off here). One
  *    summary line (wall, job count, summed job time, driver gap),
  *    then one line per job in start order with the gap before it
  *    (driver-side work: planning, collect processing, checkpoint
  *    bookkeeping), its stage and task counts and its description.
  *  - `--stages`: per-stage task metrics after a warm run, slowest 30
  *    first: wall span, summed executor run time, CPU time, GC time,
  *    task (de)serialization time and task count. run >> cpu means the
  *    tasks were off-CPU (I/O, locks, fsync); a span far above
  *    run/tasks means scheduling or barrier waits. Each stage is
  *    labeled with its SQL execution id and plan operators (outside
  *    SQL, with Spark's stage name and its RDD scopes).
  *  - `--plan`: `explain("formatted")` of the unexecuted query, exactly
  *    as Spark renders it (nothing else goes to stdout).
  *  - `--show`: the first 20 result rows, untruncated.
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR` (as in Bench); the session
  * is `local[SPARK_GRAFT_CPUS]` (32 if unset).
  *
  * Usage: sbt "runMain graft.tools.Inspect <query> [sfDir] --time|--jobs|--stages|--plan|--show"
  */
object Inspect {
  private val modes = Seq("--time", "--jobs", "--stages", "--plan", "--show")
  private val usage =
    s"usage: Inspect <query> [sfDir] ${modes.mkString("|")} (sfDir defaults to SPARK_GRAFT_SF_DIR)"

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.toSeq.partition(_.startsWith("--"))
    val mode = flags match {
      case Seq(m) if modes.contains(m) => m
      case _ => sys.error(usage)
    }
    val name = positional.headOption.getOrElse(sys.error(usage))
    val sfDir = positional.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(usage))
    val query = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt)

    def run(): Unit =
      query(spark, sfDir).write.format("noop").mode("overwrite").save()

    mode match {
      case "--plan" =>
        print(query(spark, sfDir).queryExecution.explainString(FormattedMode))
      case "--show" =>
        query(spark, sfDir).show(20, truncate = false)
      case "--time" =>
        run() // codegen warm
        val secs = (1 to 3).map { i =>
          val s = timed(run())._2
          println(f"PROFILE $name run $i: $s%.3f s")
          s
        }
        println(Json.line(Seq("query" -> name, "sec" -> Json.seconds(secs.min), "sf" -> sfDir)))
      case _ =>
        run() // codegen warm — profile steady state, not Janino
        val (wall, rec) = record(spark)(timed(run())._2)
        if (mode == "--jobs") printJobs(name, wall, rec) else printStages(name, wall, rec)
    }
    spark.stop()
  }

  /** `body`'s result and what a [[Recorder]] on `spark` saw while it ran. */
  private[graft] def record[T](spark: SparkSession)(body: => T): (T, Recorder) = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      val out = body
      // the listener bus is asynchronous: wait (up to 10 s) until every
      // started job and every submitted stage has reported its end
      val deadline = System.nanoTime() + 10e9.toLong
      while (rec.pending && System.nanoTime() < deadline) Thread.sleep(50)
      (out, rec)
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  private[graft] final case class Job(id: Int, start: Long, stages: Int, tasks: Int,
                                      desc: String, var end: Long = 0L)
  /** One stage's task metrics, summed over its tasks; `peakMemBytes` is
    * the largest task's peak execution memory.
    */
  private[graft] final case class Stage(id: Int, var name: String = "",
                                        var start: Long = 0L, var end: Long = 0L,
                                        var tasks: Int = 0, var runMs: Long = 0L,
                                        var cpuMs: Long = 0L, var gcMs: Long = 0L,
                                        var serMs: Long = 0L, var memSpilledBytes: Long = 0L,
                                        var diskSpilledBytes: Long = 0L,
                                        var peakMemBytes: Long = 0L,
                                        var shuffleWriteBytes: Long = 0L)

  /** Jobs and stages of the instrumented run, from one listener. */
  private[graft] final class Recorder extends SparkListener {
    val jobs = mutable.ArrayBuffer[Job]()
    val stages = mutable.LinkedHashMap[Int, Stage]()

    def pending: Boolean =
      synchronized(jobs.exists(_.end == 0) || stages.values.exists(_.end == 0))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs += Job(e.jobId, e.time, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum, d)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, Stage(e.stageInfo.stageId))
      s.name = stageLabel(e)
      s.start = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.end = System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, Stage(e.stageId))
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1000000L
        s.gcMs += m.jvmGCTime
        s.serMs += m.executorDeserializeTime + m.resultSerializationTime
        s.memSpilledBytes += m.memoryBytesSpilled
        s.diskSpilledBytes += m.diskBytesSpilled
        s.peakMemBytes = math.max(s.peakMemBytes, m.peakExecutionMemory)
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** What a stage ran, as plan operators: its SQL execution id and the
    * distinct RDD scope names of its RDDs (`Exchange`,
    * `WholeStageCodegen (3)`, …) in RDD order, e.g. `sql 12:
    * WholeStageCodegen (3), Exchange`. Under adaptive execution most
    * stages are named after a `CompletableFuture` lambda, so the
    * call-site name Spark gives the stage leads only where there is no
    * execution id: the metadata stages of a read (`parquet at
    * Tables.scala:43: parallelize, mapPartitions`) carry RDD scopes
    * that alone do not say which read they serve.
    */
  private def stageLabel(e: SparkListenerStageSubmitted): String = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map("sql " + _)
    val scopes = e.stageInfo.rddInfos.sortBy(_.id).flatMap(_.scope).map(_.name).distinct
    val head = exec.getOrElse(e.stageInfo.name.take(60))
    if (scopes.isEmpty) head else head + ": " + scopes.mkString(", ")
  }

  private def printJobs(name: String, wall: Double, rec: Recorder): Unit = {
    val done = rec.jobs.filter(_.end > 0).sortBy(_.start)
    val jobSum = done.map(j => (j.end - j.start) / 1e3).sum
    println(f"PROFILE $name: wall=$wall%.3f s, ${done.size} jobs, " +
      f"job-sum=$jobSum%.3f s, driver-gap=${wall - jobSum}%.3f s")
    // chronological, with the gap BEFORE each job (driver time)
    var prevEnd = done.headOption.map(_.start).getOrElse(0L)
    done.foreach { j =>
      val gap = (j.start - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, j.end)
      val dur = (j.end - j.start) / 1e3
      val tag = if (j.desc.nonEmpty) " [" + j.desc.take(60) + "]" else ""
      println(f"  job ${j.id}%4d  ${dur}%7.3f s  (gap before: ${gap}%6.3f s)  " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d$tag")
    }
  }

  private def printStages(name: String, wall: Double, rec: Recorder): Unit = {
    println(f"STAGEPROFILE $name: wall=$wall%.3f s, ${rec.stages.size} stages")
    rec.stages.values.toSeq.sortBy(-_.runMs).take(30).foreach { s =>
      val span = (s.end - s.start) / 1e3
      println(f"  stage ${s.id}%4d  span=$span%7.3f s  run=${s.runMs / 1e3}%7.3f s  " +
        f"cpu=${s.cpuMs / 1e3}%7.3f s  gc=${s.gcMs / 1e3}%6.3f s  " +
        f"ser=${s.serMs / 1e3}%6.3f s  tasks=${s.tasks}%3d  [${s.name}]")
    }
  }
}
