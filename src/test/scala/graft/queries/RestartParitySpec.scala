package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}

/** A checkpoint restart does not change the answer: each `st_*` restart
  * row, which stops its query after the first micro-batch and resumes a
  * new one on the same checkpoint, equals its single-run twin row for
  * row. The DuckDB oracle checks each row against SQL; this checks the
  * pairs against each other on a small events table of its own.
  */
class RestartParitySpec extends graft.SparkSpec {
  import spark.implicits._

  /** 300 events two minutes apart with an hour's pause after every 60,
    * so each of the 7 users has several sessions and one of them spans
    * the midpoint cut; event types cycle per user, so every click has a
    * purchase of its user 14 minutes later unless a pause intervenes.
    */
  private lazy val dir = {
    val dir = Files.createTempDirectory("graft_restart_parity").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 300).map(i => (new java.sql.Timestamp(t0 + i * 120000L + (i / 60) * 3600000L),
        Seq("click", "purchase", "view")(i % 3), (i % 7).toLong, i * 0.25))
      .toDF("ts", "event_type", "user_id", "value").write.parquet(s"$dir/events.parquet")
    dir
  }

  private def rows(name: String) = SparkEntry.queries(name)(spark, dir).collect().toSeq

  test("st_restart_parity and st_restart_v2_parity equal st_sessionize_parity row for row") {
    val once = rows("st_sessionize_parity")
    assert(once.size > 7 && once.map(_.getAs[Long]("n_events")).sum == 300L, once)
    assert(rows("st_restart_parity") == once)
    assert(rows("st_restart_v2_parity") == once)
  }

  test("st_join_restart_parity equals st_join_parity row for row") {
    val once = rows("st_join_parity")
    // both matched and unmatched clicks
    assert(once.exists(_.isNullAt(2)) && once.exists(!_.isNullAt(2)), once)
    assert(rows("st_join_restart_parity") == once)
  }

  test("st_restart_agg_parity equals the batch hourly count") {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().toSet
    assert(rows("st_restart_agg_parity").toSet == hourly)
  }
}
