package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * Spark session startup dominates test wall-time otherwise).
  */
object TestSpark {
  // local[4, 2]: allow ONE task retry — normal runs never fail a task,
  // but TaskRetrySpec injects first-attempt failures to pin retry
  // determinism, and local's default maxFailures=1 would fail the whole
  // job instead of re-attempting the task
  lazy val spark: SparkSession = GraftExtensions.session("local[4, 2]", 4,
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
