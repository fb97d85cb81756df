package graft.io

import java.io.File

/** Census of the data files under a (possibly hive-partitioned) sink
  * root — the shared contract behind the file-hygiene checks
  * (`k22_sink_hygiene`, `ScaleBench sink-hygiene`, `SinkHygieneSpec`):
  * a partitionBy write emits one file per (task, partition-value)
  * pair, so files ≫ partition dirs is the fragmentation signature at
  * ANY scale. One implementation so the `part-` filter and the
  * null-safe directory walk (listFiles returns null on unreadable or
  * concurrently-deleted dirs) cannot drift between the probe, the
  * oracle row, and the spec.
  */
object FileCensus {

  /** All `part-*` data files under `root`. */
  def dataFiles(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(root)).filter(_.getName.startsWith("part-"))
  }

  /** (data files, distinct parent dirs, total bytes) under `root`. */
  def census(root: String): (Int, Int, Long) = {
    val data = dataFiles(root)
    (data.size, data.map(_.getParentFile.getPath).distinct.size,
      data.map(_.length).sum)
  }

  /** The scale-invariant hygiene check: mean data files per partition
    * dir ≤ `maxFilesPerDir` (fragmentation is visible at any volume
    * even where an absolute file-size floor is unreachable).
    */
  def hygieneOk(root: String, maxFilesPerDir: Double = 2.0): Boolean = {
    val (files, dirs, _) = census(root)
    dirs > 0 && files.toDouble / dirs <= maxFilesPerDir
  }
}
