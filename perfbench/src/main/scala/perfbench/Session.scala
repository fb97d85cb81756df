package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** The benchmark's session, wired the way `graft.Bench` wires its own:
  * graft extensions (asserted), the no-fork local filesystem, UTC, no
  * UI, `local[cpus]` with `cpus` shuffle partitions. Spark's scratch
  * space and warehouse stay under `work`.
  */
object Session {
  def build(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.io.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.io.NioLocalFs")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    graft.GraftExtensions.assertWired(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
