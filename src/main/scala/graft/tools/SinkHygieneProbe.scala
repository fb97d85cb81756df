package graft.tools

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output-file hygiene of the partitioned sinks — the reference's own
  * documented production failure (`doc/GLUE_JOBS_GUIDE.md:310,404-407`:
  * 50–200 KB files against a 128–256 MB target, because each task
  * writes one file per partition VALUE it happens to hold). A
  * partitionBy write with no clustering emits
  * tasks × touched-partitions files; at 1000 executors that is a
  * small-file storm the downstream scan pays for forever.
  *
  * The cure shipped in the sinks is an AQE `rebalance` hint on the
  * partition columns: rows cluster so each output partition is owned
  * by as few tasks as the advisory partition size allows — AQE
  * coalesces small partitions (few files) and SPLITS oversized ones
  * (bounded file size under day-level skew), which a static
  * `repartition(cols)` cannot do. This probe writes the k1 events
  * sink both ways and reports the file census:
  *
  *   {"sink":…,"part_dirs":…,"files":…,"total_mb":…,"mean_mb":…,
  *    "files_per_dir":…,"hygiene_ok":…}
  *
  * `hygiene_ok` is the scale-invariant structural check: mean files
  * per partition dir ≤ 2 once the data outgrows one advisory chunk —
  * at test scale a 128 MB absolute floor is unreachable, but
  * fragmentation (files ≫ partition dirs) is visible at ANY scale.
  *
  * Usage: sbt "runMain graft.tools.SinkHygieneProbe /tmp/stress/sf10"
  */
object SinkHygieneProbe {

  // shared null-safe walk + part- filter (graft.io.FileCensus — one
  // census contract across the probe, the k22 oracle row, and the
  // spec); the probe additionally restricts the dir count to
  // hive-partition (`k=v`) dirs for its files-per-dir report
  private def census(root: String): (Int, Int, Long) = {
    val data = graft.io.FileCensus.dataFiles(root)
    val partDirs = data.map(_.getParentFile).distinct
      .count(_.getName.contains("="))
    (math.max(partDirs, 1), data.size, data.map(_.length).sum)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/stress/sf10"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt)

    def r1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def r2v(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    val ev = graft.Tables.load(spark, dir, "events")
      .withColumn("year", date_format(col("ts"), "yyyy"))
      .withColumn("month", lpad(month(col("ts")).cast("string"), 2, "0"))
      .withColumn("day", lpad(dayofmonth(col("ts")).cast("string"), 2, "0"))

    def sink(name: String, df: DataFrame): Unit = {
      val out = java.nio.file.Files.createTempDirectory(s"graft_hyg_$name")
      val t0 = System.nanoTime()
      df.write.mode("overwrite")
        .partitionBy("year", "month", "day").parquet(out.toString)
      val sec = (System.nanoTime() - t0) / 1e9
      val (dirs, files, bytes) = census(out.toString)
      val filesPerDir = files.toDouble / dirs
      val meanMb = if (files == 0) 0.0 else bytes / 1048576.0 / files
      val ok = filesPerDir <= 2.0
      println(s"""{"sink":"$name","part_dirs":$dirs,"files":$files,""" +
        s""""total_mb":${r1(bytes / 1048576.0)},"mean_mb":${r2v(meanMb)},""" +
        s""""files_per_dir":${r2v(filesPerDir)},"sec":${r1(sec)},"hygiene_ok":$ok}""")
      // temp output is probe-local; drop it so repeated runs don't fill /tmp
      def rm(f: File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete(); ()
      }
      rm(out.toFile)
    }

    sink("events_day_plain", ev)
    sink("events_day_rebalance",
      ev.hint("rebalance", col("year"), col("month"), col("day")))
    spark.stop()
  }
}
