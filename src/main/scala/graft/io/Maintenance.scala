package graft.io

import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Table-maintenance operators.
  *
  * The reference ships 50–200 KB parquet files against its own stated
  * 128–256 MB target (`doc/GLUE_JOBS_GUIDE.md:310,404-407`; SURVEY
  * §7.4-7) — the classic small-files problem of per-hour incremental
  * writes. `compact` rewrites a (possibly hive-partitioned) parquet
  * table into near-target-size files, preserving partition layout and
  * content.
  */
object Maintenance {

  /** Recursively list leaf parquet files. */
  def dataFiles(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(root))
  }

  /** Rewrite `path` with files sized toward `targetBytes`.
    *
    * File-count control is PER HIVE PARTITION: each leaf partition's
    * byte size (from the file listing) sets its own budget
    * ceil(partitionBytes / targetBytes), and a per-row hash salt
    * spreads the partition's rows across exactly that many shuffle
    * partitions. (Repartitioning on the partition columns alone hashes
    * every row of a partition to ONE task — a 5 GB partition would
    * compact to a single 5 GB file; a global round-robin repartition
    * would make every task write a sliver of every partition — the
    * small-files problem reborn ×nFiles.) Partition values are matched
    * as strings against the directory names, so values that hive-escape
    * (URL-encoded chars) are not supported here.
    *
    * Swap semantics (two renames, not atomic): write new table to
    * `path__compact_tmp`, move old to `path__compact_old`, move tmp in,
    * delete old. A crash BETWEEN the renames leaves the table parked at
    * `path__compact_old` and nothing at `path` — recovery is a single
    * manual rename back; content is never mixed or lost. (True atomic
    * swap needs a catalog pointer — see [[Snapshots]] for the
    * manifest-committed version of this pattern.)
    */
  def compact(spark: SparkSession, path: String, partitionCols: Seq[String],
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val files = dataFiles(path)
    // partition-column values must round-trip as the literal dir-name
    // strings for the budget join below
    val df = Layout.readStringPartitioned(spark, path, partitionCols)
    val tmp = path + "__compact_tmp"
    val dataCols = df.columns.filterNot(partitionCols.contains).map(col).toSeq
    if (partitionCols.isEmpty) {
      val totalBytes = files.map(_.length).sum
      val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      df.repartition(nFiles).write.mode("overwrite").parquet(tmp)
    } else {
      // leaf-partition byte sizes from the listing → per-partition
      // file budgets, joined back (broadcast: one row per partition)
      val rootUri = new File(path).toURI
      val budgets = files
        .groupBy { f =>
          rootUri.relativize(f.getParentFile.toURI).getPath
            .split("/").filter(_.contains("="))
            .map(seg => seg.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
        }
        .map { case (vals, fs) =>
          val n = math.max(1,
            math.ceil(fs.map(_.length).sum.toDouble / targetBytes).toInt)
          partitionCols.map(vals.getOrElse(_,
            sys.error(s"partition col not in layout: $vals"))) :+ n
        }.toSeq
      val budgetSchema = StructType(
        partitionCols.map(StructField(_, StringType)) :+
          StructField("__files", IntegerType))
      val budgetDf = spark.createDataFrame(
        spark.sparkContext.parallelize(budgets.map(Row.fromSeq), 1), budgetSchema)
      val nFiles = math.max(1, budgets.map(_.last.asInstanceOf[Int]).sum)
      // Null partition values write to __HIVE_DEFAULT_PARTITION__ dirs and
      // read back as null, while the budget table holds the literal dir
      // string — a plain equi-join would silently drop those rows. Join on
      // null-coalesced key columns instead so both sides carry the hive
      // default-partition sentinel.
      val hiveDefault = "__HIVE_DEFAULT_PARTITION__"
      val keyCols = partitionCols.map(p => s"__pk_$p")
      val keyed = partitionCols.zip(keyCols).foldLeft(df) { case (d, (p, k)) =>
        d.withColumn(k, coalesce(col(p).cast(StringType), lit(hiveDefault)))
      }
      val budgetKeyed = partitionCols.zip(keyCols).foldLeft(budgetDf) {
        case (d, (p, k)) => d.withColumnRenamed(p, k)
      }
      // a partition-cols-only table has no data columns to hash. A
      // per-row id salt (monotonically_increasing_id) is NONdeterministic
      // under task retry — a recomputed map task could reassign rows
      // across shuffle partitions, duplicating or losing rows (the
      // classic nondeterministic-repartition hazard; SPARK-23207's sort
      // fix covers only round-robin). Such a table's rows are constant
      // within each partition, so write each as ONE file (salt 0):
      // deterministic, and parquet RLE collapses the constant columns
      // to near-nothing regardless of row count.
      val saltSrc =
        if (dataCols.isEmpty) lit(0)
        else hash(dataCols: _*)
      // Left join + per-row loud failure: hive URL-escaped partition
      // values don't round-trip as literal dir-name strings (documented
      // unsupported above) — but compact() is a destructive rewrite, so
      // an unmatched row must FAIL the job before the swap instead of
      // silently vanishing from the rewritten table.
      keyed.join(broadcast(budgetKeyed), keyCols, "left")
        .withColumn("__files",
          when(col("__files").isNull, raise_error(lit(
            "compact: partition value does not round-trip as its directory name (hive-escaped values unsupported)")))
            .otherwise(col("__files")))
        .withColumn("__salt", pmod(saltSrc, col("__files")))
        .repartition(nFiles, (partitionCols.map(col) :+ col("__salt")): _*)
        .drop((keyCols :+ "__files" :+ "__salt"): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tmp)
    }
    val old = new File(path + "__compact_old")
    require(new File(path).renameTo(old), s"cannot move $path aside")
    require(new File(tmp).renameTo(new File(path)), s"cannot move $tmp into place")
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(old)
  }
}
