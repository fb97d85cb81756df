package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** File hygiene of the partitioned sinks — the positive AND negative
  * shape of the AQE `rebalance(partitionCols)` contract that
  * `k22_sink_hygiene` pins in the oracle gate and
  * `tools.SinkHygieneProbe` measures at the 100× tier.
  *
  * The failure mode (the reference's own documented production issue,
  * doc/GLUE_JOBS_GUIDE.md:310,404-407) is structural: a partitionBy
  * write emits one file per (task, partition-value) pair, so input
  * that arrives hash-scattered across tasks fragments into
  * tasks × values files. The rebalance hint re-clusters rows on the
  * partition columns first (AQE coalesces small output partitions and
  * splits skewed ones), collapsing that product to ~1 file per value.
  * This spec pins BOTH sides at test scale — fragmentation is visible
  * at any volume even though the probe's 128 MB file-size target only
  * binds at cluster volume — plus losslessness of the clustered write.
  */
class SinkHygieneSpec extends SparkSpec {
  import spark.implicits._

  /** (data files, partition dirs) under a hive-partitioned root —
    * the shared census (same walk the k22 row and the probe use).
    */
  private def census(root: String): (Int, Int) = {
    val (files, dirs, _) = FileCensus.census(root)
    (files, dirs)
  }

  // 8 days × 400 rows, hash-SCATTERED across 16 partitions — the
  // shuffle residue a real pipeline's upstream stage leaves behind
  // (every task holds rows of every day).
  private def scattered: DataFrame =
    spark.range(3200)
      .select(
        concat(lit("2024-01-0"), (col("id") % 8 + 1).cast("string")).as("day"),
        col("id").as("v"))
      .repartition(16, col("v"))

  test("unclustered partitionBy fragments: files ≈ tasks × values") {
    val out = java.nio.file.Files.createTempDirectory("hyg_plain").toString
    scattered.write.mode("overwrite").partitionBy("day").parquet(out)
    val (files, dirs) = census(out)
    assert(dirs === 8)
    // 16 tasks each holding all 8 days → 128 files; accept any
    // clearly-fragmented census (> 2 per dir is the k22 red line)
    assert(files.toDouble / dirs > 2.0, s"expected fragmentation, got $files/$dirs")
  }

  test("rebalance-hinted write is ~1 file per partition dir and lossless") {
    val out = java.nio.file.Files.createTempDirectory("hyg_rebal").toString
    scattered.hint("rebalance", col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val (files, dirs) = census(out)
    assert(dirs === 8)
    assert(files.toDouble / dirs <= 2.0, s"fragmented despite rebalance: $files/$dirs")
    // lossless: read-back multiset equals the input, `day` read back as
    // the string it was written as
    val back = graft.io.Layout.readStringPartitioned(spark, out, Seq("day"))
      .select("day", "v")
    assert(back.count() === 3200)
    assert(back.exceptAll(scattered.select("day", "v")).isEmpty &&
      scattered.select("day", "v").exceptAll(back).isEmpty)
  }
}
