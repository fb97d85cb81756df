package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** One way to build a session: every main and the test session go
  * through [[GraftExtensions.session]], and a query row that needs its
  * own confs sets them on a session of its own, never on the caller's.
  */
class SessionSpec extends SparkSpec {
  import spark.implicits._

  test("SparkSession.builder() appears only inside GraftExtensions.session") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val sources = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    val hits = sources.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.filter(i => lines(i).contains("SparkSession.builder()")).map { i =>
        // the enclosing definition: the nearest `def` above the hit
        val owner = lines.take(i).reverseIterator.map(_.trim)
          .find(_.startsWith("def ")).map(_.takeWhile(_ != '(')).getOrElse("<none>")
        s"${root.relativize(p)}: $owner"
      }
    }
    assert(hits == List("graft/GraftExtensions.scala: def session"), hits.mkString("\n"))
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
    (0 until 300).map(i => (new java.sql.Timestamp(t0 + i * 120000L), Seq("a", "b", "c")(i % 3)))
      .toDF("ts", "event_type").write.parquet(s"$dir/events.parquet")

    val touched = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.streaming.stateStore.providerClass")
    def callerConfs = touched.map(k => k -> spark.conf.getOption(k))
    val before = callerConfs

    val j8 = SparkEntry.queries("j8_bloom_join")(spark, dir)
    val agg = SparkEntry.queries("st_restart_agg_rocksdb_parity")(spark, dir)
    assert(callerConfs == before)
    // 400 urgent orders × 10 line items each
    assert(j8.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq("1-URGENT" -> 4000L))
    val plan = j8.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(agg.collect().toSet == hourly.collect().toSet)
    assert(callerConfs == before)
  }
}
