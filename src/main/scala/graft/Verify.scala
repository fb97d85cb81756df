package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a small thread pool — Spark's scheduler interleaves
  * their jobs, so the many tiny stages of 50 queries overlap instead
  * of serializing (~2-3× faster gate on local[32]). Failures stay
  * per-query: one broken query never blocks the rest or the oracle
  * JSON.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query-name filter (local
    // iterate-on-a-few loop; the driver always calls with two args)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // A failed query must be LOUD: write an _ERROR sentinel into its
    // output dir (so the driver's parquet read fails → it records
    // `err` instead of silently omitting the row) and make the whole
    // run exit nonzero. Round 5 proved the alternative: 81 throwing
    // queries vanished from CORRECTNESS_r05 and the scoreboard looked
    // all-green while the engine was broken.
    val failed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def markFailed(name: String, msg: String): Unit = {
      failed.put(name, msg)
      System.err.println(s"[verify] $name FAILED: $msg")
      new java.io.File(s"$outDir/$name").mkdirs()
      Files.writeString(Paths.get(s"$outDir/$name/_ERROR"), msg)
    }
    val completed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val runs = selected.map { case (name, fn) =>
      Future {
        // per-query job group: the watchdog below can cancel a hung
        // query's Spark jobs without touching the others
        spark.sparkContext.setJobGroup(s"verify-$name", name, interruptOnCancel = true)
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          completed.add(name)
        } catch { case e: Throwable =>
          markFailed(name, Option(e.getMessage).getOrElse(e.getClass.getName))
        } finally spark.sparkContext.clearJobGroup()
      }
    }
    // A single hung query must not stall the round forever: past the
    // global budget, cancel every verify job group — each stuck query
    // then throws into its own catch above and lands as an _ERROR row.
    val budget = Duration(sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET_MIN", "45").toInt, "min")
    try Await.result(Future.sequence(runs), budget)
    catch { case _: java.util.concurrent.TimeoutException =>
      System.err.println(s"[verify] global budget $budget exhausted — cancelling stragglers")
      SparkEntry.queries.keys.foreach(n => spark.sparkContext.cancelJobGroup(s"verify-$n"))
      try Await.result(Future.sequence(runs), Duration(2, "min"))
      catch { case _: Throwable => }
    }
    // Drain the pool BEFORE the accounting sweep: a plain shutdown()
    // still runs queued-not-yet-started futures, and such a task would
    // overwrite-write its output dir AFTER the sweep below marked it
    // failed — deleting the _ERROR sentinel and making the on-disk
    // state disagree with the exit code. shutdownNow() discards the
    // queue and interrupts stragglers, so nothing runs after the sweep.
    pool.shutdownNow()
    // A straggler that ignores interruption past the 2-min grace never
    // reaches its own catch — without this sweep it would be silently
    // MISSING from the output and the run could still exit 0. Account
    // for every selected query explicitly.
    selected.map(_._1).foreach { name =>
      if (!completed.contains(name) && !failed.containsKey(name))
        markFailed(name, "unaccounted after global budget — cancelled straggler")
    }

    Json.write(s"$outDir/oracle_sql.json", SparkEntry.oracleSql.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) })
    spark.stop()
    if (!failed.isEmpty) {
      import scala.jdk.CollectionConverters._
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.keySet.asScala.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
