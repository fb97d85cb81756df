package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** One way to build a session: every main and the test session go
  * through [[GraftExtensions.session]]. One way to scope a conf: a
  * query row that needs its own confs runs on a clone of the caller's
  * session ([[GraftExtensions.isolated]]), never on the caller's.
  */
class SessionSpec extends SparkSpec {
  import spark.implicits._

  /** Every line of `src/main/scala` matching `pattern`, as
    * `<file>: <the nearest def above it>`.
    */
  private def scan(pattern: scala.util.matching.Regex): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val sources = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    sources.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.filter(i => pattern.findFirstIn(lines(i)).isDefined).map { i =>
        val owner = lines.take(i).reverseIterator.map(_.trim)
          .find(_.startsWith("def ")).map(_.takeWhile(c => c != '(' && c != '[')).getOrElse("<none>")
        s"${root.relativize(p)}: $owner"
      }
    }
  }

  test("SparkSession.builder() appears only inside GraftExtensions.session") {
    val hits = scan("""SparkSession\.builder\(\)""".r)
    assert(hits == List("graft/GraftExtensions.scala: def session"), hits.mkString("\n"))
  }

  test("no session conf is set in place; setActiveSession only inside GraftExtensions.isolated") {
    val confHits = scan("""\b(s|spark)\.conf\.(set|unset)\(""".r)
    assert(confHits.isEmpty, confHits.mkString("\n"))
    val activeHits = scan("""setActiveSession""".r).distinct
    assert(activeHits == List("graft/GraftExtensions.scala: def isolated"), activeHits.mkString("\n"))
  }

  test("the test session is built through it: extensions, no-fork local FS, UTC") {
    assert(spark.catalog.functionExists("float_vec_dot"))
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      "graft.io.NioLocalFileSystem")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("j8_bloom_join and st_restart_agg_rocksdb_parity leave the caller's confs alone") {
    val dir = Files.createTempDirectory("graft_session_spec").toString
    (1 to 2000).map(i => (i.toLong, if (i % 5 == 0) "1-URGENT" else "3-MEDIUM"))
      .toDF("o_orderkey", "o_orderpriority").write.parquet(s"$dir/orders.parquet")
    (1 to 20000).map(i => ((i % 2000 + 1).toLong, i * 0.5))
      .toDF("l_orderkey", "l_extendedprice").write.parquet(s"$dir/lineitem.parquet")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 300).map(i => (new java.sql.Timestamp(t0 + i * 120000L),
        Seq("a", "b", "c")(i % 3), (i % 7).toLong, i * 0.25))
      .toDF("ts", "event_type", "user_id", "value").write.parquet(s"$dir/events.parquet")

    // every conf these rows pin: the bloom-join confs, the state-store
    // provider, the streaming confs and partition-type inference
    val touched = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpointFileManagerClass",
      "spark.sql.sources.partitionColumnTypeInference.enabled")
    def callerConfs = touched.map(k => k -> spark.conf.getOption(k))
    val before = callerConfs

    // while the rows run, a second thread reads the caller's confs
    // every 10 ms: a row that pins a conf on the caller's session and
    // restores it afterwards still shows here
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val drifted = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Option[String])]]()
    @volatile var running = true
    val poller = new Thread(() => while (running) {
      val now = callerConfs
      reads.incrementAndGet()
      if (now != before) drifted.add(now.diff(before))
      Thread.sleep(10)
    })
    poller.start()
    val rows = try {
      Seq("j8_bloom_join", "st_restart_agg_rocksdb_parity", "st_hourly_parity",
        "st_restart_v2_parity", "k22_sink_hygiene").map { name =>
        val df = SparkEntry.queries(name)(spark, dir)
        name -> (df, df.collect())
      }.toMap
    } finally {
      running = false
      poller.join()
    }
    assert(reads.get > 10)
    val changed = drifted.asScala.toSet // the changed (key, value) pairs seen
    assert(changed.isEmpty)
    assert(callerConfs == before)

    val (j8, j8Rows) = rows("j8_bloom_join")
    // 400 urgent orders × 10 line items each
    assert(j8Rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq("1-URGENT" -> 4000L))
    val plan = j8.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().toSet
    assert(rows("st_restart_agg_rocksdb_parity")._2.toSet == hourly)
    assert(rows("st_hourly_parity")._2.toSet == hourly)
    assert(rows("st_restart_v2_parity")._2.map(_.getAs[Long]("n_events")).sum == 300L)
    // 300 events two minutes apart all fall on 2024-01-01
    assert(rows("k22_sink_hygiene")._2.map(r => (r.getString(0), r.getLong(1), r.getBoolean(3))).toSeq ==
      Seq(("2024-01-01", 300L, true)))
    assert(callerConfs == before)
  }
}
