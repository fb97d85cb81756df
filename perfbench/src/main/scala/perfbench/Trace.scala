package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Named counters: sums, plus peaks for gauges such as state size. */
final class Counts {
  val sums = mutable.Map.empty[String, Double]
  val peaks = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  def peak(k: String, v: Double): Unit = peaks(k) = math.max(peaks.getOrElse(k, 0.0), v)
  def addAll(o: Counts): Unit = {
    o.sums.foreach { case (k, v) => add(k, v) }
    o.peaks.foreach { case (k, v) => peak(k, v) }
  }
}

/** One timed call. `op` is the index of the operation (pass or
  * tick) the span belongs to; its root span has no parent.
  */
final class Span(val id: Int, val name: String, val parent: Span, val op: Int,
                 val startMs: Long) {
  @volatile var endMs: Long = -1L
  def group: String = s"perfbench-span-$id"
}

/** Spans and listener counts of a traced run.
  *
  * Every span sets its own Spark job group, so the jobs, stages, tasks
  * and SQL executions it starts are attributed to it exactly; a
  * streaming query's jobs run under its run id, which `alias` maps to
  * the span that started it. Everything is kept in memory and read once
  * by `report` at the end of the run. While disabled, no listener is
  * registered and `span` only runs its body, so untraced operations pay
  * nothing; toggling between operations gives the traced/untraced A/B
  * from which the tracing overhead is measured.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[Span]
  private val spanOfGroup = new ConcurrentHashMap[String, Span]
  @volatile private var on = false

  // written on the listener-bus threads, read after a drain
  private val byGroup = new ConcurrentHashMap[String, Counts]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val openJobs = new ConcurrentHashMap[Int, (String, Long)]
  private val jobSpans = new ConcurrentLinkedQueue[(String, Long, Long)]
  private val execGroup = new ConcurrentHashMap[Long, String]
  private val executions = new ConcurrentLinkedQueue[(Long, Counts)]

  private def counts(group: String): Counts = byGroup.computeIfAbsent(group, _ => new Counts)
  private def locked[T](c: Counts)(f: => T): T = c.synchronized(f)

  private def groupOf(props: java.util.Properties): String =
    if (props == null) null else props.getProperty("spark.jobGroup.id")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      if (g != null) {
        openJobs.put(e.jobId, (g, e.time))
        val c = counts(g); locked(c)(c.add("spark.jobs", 1))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (g, t0) => jobSpans.add((g, t0, e.time)) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = groupOf(e.properties)
      if (g != null) {
        stageGroup.put(e.stageInfo.stageId, g)
        val c = counts(g); locked(c)(c.add("spark.stages", 1))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (g != null && m != null) {
        val c = counts(g)
        locked(c) {
          c.add("spark.tasks", 1)
          c.add("exec.run_s", m.executorRunTime / 1e3)
          c.add("exec.cpu_s", m.executorCpuTime / 1e9)
          c.add("exec.gc_s", m.jvmGCTime / 1e3)
          c.add("exec.ser_s", (m.executorDeserializeTime + m.resultSerializationTime) / 1e3)
          c.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          c.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          c.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          c.add("spill.bytes", m.diskBytesSpilled.toDouble)
          c.add("io.read_bytes", m.inputMetrics.bytesRead.toDouble)
          c.add("io.write_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case s: SparkListenerSQLExecutionEnd =>
        Internals.queryExecution(s).foreach(qe => record(s.executionId, qe))
      case _ =>
    }
  }

  /** Catalyst phase times from `QueryExecution.tracker`, plus operator,
    * scan and sink counts from the executed (final adaptive) plan. The
    * execution-end event is what drives Spark's QueryExecutionListener
    * callbacks; it is read directly because it also carries the
    * execution id that ties the query to its span's job group.
    */
  private def record(executionId: Long, qe: QueryExecution): Unit = {
    val c = new Counts
    qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning")(phase))
        c.add(s"catalyst.${phase}_s", s.durationMs / 1e3)
    }
    def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    PlanNodes(qe.executedPlan).foreach {
      case _: ShuffleExchangeLike => c.add("plan.exchanges", 1)
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => c.add("plan.broadcast_joins", 1)
      case _: SortMergeJoinExec => c.add("plan.sort_merge_joins", 1)
      case _: WindowExec => c.add("plan.windows", 1)
      case s: FileSourceScanLike =>
        c.add("io.files_read", metric(s, "numFiles"))
        c.add("io.partitions_read", metric(s, "numPartitions"))
      case w: DataWritingCommandExec =>
        val files = metric(w, "numFiles")
        c.add("io.files_written", files)
        if (files > 0) c.add("io.dirs_written", math.max(1.0, metric(w, "numParts")))
      case _ =>
    }
    executions.add((executionId, c))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def s(k: String): Double = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      val c = counts(p.runId.toString)
      locked(c) {
        c.add("streaming.batches", 1)
        c.add("streaming.planning_s", s("queryPlanning"))
        c.add("streaming.add_batch_s", s("addBatch"))
        c.add("streaming.wal_commit_s", s("walCommit") + s("commitOffsets"))
        c.add("streaming.trigger_s", s("triggerExecution"))
        c.peak("streaming.state_rows", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
        c.peak("streaming.state_bytes", p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
        c.add("streaming.dropped_by_watermark",
          p.stateOperators.map(_.numRowsDroppedByWatermark.toDouble).sum)
      }
    }
  }

  def enabled: Boolean = on

  def setEnabled(want: Boolean): Unit = if (want != on) {
    if (want) {
      sc.addSparkListener(sparkListener)
      spark.streams.addListener(streamListener)
      on = true
    } else {
      on = false
      Internals.drainListeners(sc)
      sc.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Time `body` as span `name`. A span opened with no enclosing span
    * is the root of operation `op`.
    */
  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), name, parent,
        if (parent != null) parent.op else op, System.currentTimeMillis())
      spans.add(s)
      spanOfGroup.put(s.group, s)
      current.set(s)
      sc.setJobGroup(s.group, name)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        current.set(parent)
        if (parent != null) sc.setJobGroup(parent.group, parent.name) else sc.clearJobGroup()
      }
    }

  /** Attribute work under job group `group` (a streaming run id) to
    * the innermost open span.
    */
  def alias(group: String): Unit =
    if (on) Option(current.get).foreach(s => spanOfGroup.put(group, s))

  /** Add harness-side counts (such as JVM GC time) to the open span. */
  def note(k: String, v: Double): Unit =
    if (on) Option(current.get).foreach { s => val c = counts(s.group); locked(c)(c.add(k, v)) }

  /** Per-operation counts of every traced operation, and per span name
    * (count, total seconds, self seconds), summed over all traced ops.
    */
  def report(): (Map[Int, Counts], Map[String, (Int, Double, Double)], Int) = {
    Internals.drainListeners(sc)
    val done = spans.asScala.toVector.filter(_.endMs >= 0)
    val perOp = mutable.Map.empty[Int, Counts]
    def opCounts(s: Span): Counts = perOp.getOrElseUpdate(s.op, new Counts)
    var unattributed = 0
    byGroup.asScala.foreach { case (g, c) =>
      Option(spanOfGroup.get(g)) match {
        case Some(s) => opCounts(s).addAll(c)
        case None => unattributed += 1
      }
    }
    executions.asScala.foreach { case (id, c) =>
      Option(execGroup.get(id)).flatMap(g => Option(spanOfGroup.get(g))) match {
        case Some(s) => opCounts(s).addAll(c)
        case None => unattributed += 1
      }
    }
    // driver gap: root-span wall time not covered by any of its jobs
    val jobsByOp = jobSpans.asScala.toVector.flatMap { case (g, a, b) =>
      Option(spanOfGroup.get(g)).map(s => s.op -> (a, b))
    }.groupBy(_._1)
    done.filter(_.parent == null).foreach { root =>
      val iv = jobsByOp.getOrElse(root.op, Vector.empty).map(_._2)
        .map { case (a, b) => (math.max(a, root.startMs), math.min(b, root.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = root.startMs
      iv.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      opCounts(root).add("spark.driver_gap_s", (root.endMs - root.startMs - covered) / 1e3)
    }
    val childTime = done.filter(_.parent != null).groupBy(_.parent.id)
      .map { case (id, cs) => id -> cs.map(c => c.endMs - c.startMs).sum }
    val byName = done.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => s.endMs - s.startMs).sum
      val self = ss.map(s => s.endMs - s.startMs - childTime.getOrElse(s.id, 0L)).sum
      name -> (ss.size, total / 1e3, self / 1e3)
    }
    (perOp.toMap, byName, unattributed)
  }
}

/** Every node of an executed plan, including adaptive query stages and
  * subqueries.
  */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }
}
