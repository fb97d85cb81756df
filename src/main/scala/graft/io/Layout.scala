package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Physical data layout for scan pruning — the write-side half of
  * "filters reach the parquet scan".
  *
  * Parquet footers carry per-column min/max for every file and row
  * group; the reader skips units whose range can't match a pushed
  * predicate. That only pays off if the writer CLUSTERS values: after
  * a random-ordered write every file spans the whole key domain and
  * nothing is skippable. `writeRangeClustered` makes the layout
  * prunable: a range repartition (sampled range exchange — the same
  * mechanism as a global sort, minus the local sort when not asked
  * for) puts disjoint key ranges in disjoint files, so a point or
  * range predicate touches O(1) of them instead of all. At 100 TB the
  * difference is reading gigabytes instead of the corpus.
  *
  * Mirrors the layout levers large tables actually use (cf. Delta/
  * Iceberg OPTIMIZE ... ZORDER/sort): cluster by the dominant filter
  * column(s); secondary `sortCols` additionally order rows WITHIN each
  * file so row-group stats subdivide the primary ranges.
  */
object Layout {

  /** Range-cluster `df` on `clusterCols` into `numFiles` files and
    * write parquet at `path`. Rows are additionally sorted within each
    * partition by `clusterCols ++ sortCols` to tighten row-group
    * stats. One sampled range exchange — no global sort barrier.
    */
  def writeRangeClustered(df: DataFrame, path: String, numFiles: Int,
                          clusterCols: Seq[String],
                          sortCols: Seq[String] = Nil): Unit = {
    val cluster = clusterCols.map(col)
    df.repartitionByRange(numFiles, cluster: _*)
      .sortWithinPartitions(cluster ++ sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Z-ORDER the table on `clusterCols` and write `numFiles` parquet
    * files: each column is normalized to a `bits`-bit integer
    * coordinate and the coordinates' bits are INTERLEAVED into one
    * Z-address, which is then range-clustered like a single key.
    *
    * Why: linear clustering (`writeRangeClustered`) makes ONE column
    * prunable — files are disjoint in k, but any other column spans
    * the whole domain in every file. The Z-curve keeps files compact
    * in EVERY clustered dimension (a file covers a ~2^(bits)/numFiles
    * hypercube of the key space), so min/max footer pruning works for
    * predicates on ANY subset of the clustered columns — the
    * multi-dimension layout lever (Delta/Iceberg `ZORDER BY`) for
    * fact tables filtered by several independent columns.
    *
    * Mechanics, all relational and codegen'd (no UDF, no driver data):
    * a 1-row min/max stats aggregate is broadcast-joined back (the
    * scale-safe stand-in for a driver collect), each column is
    * linearly scaled to [0, 2^bits), and the Z-address is a reduce of
    * `((c >> b) & 1) << (b*n + i)` shift/mask terms. One sampled range
    * exchange on the address, no global sort.
    *
    * Linear min/max scaling keeps the address cheap; heavy skew in a
    * cluster column degrades it toward fewer effective bits (the
    * classic Z-order caveat — cluster on roughly-uniform or
    * pre-bucketed keys).
    */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
                    clusterCols: Seq[String], bits: Int = 16): Unit = {
    val z = zAddress(df, clusterCols, bits)
    // exchange + within-partition sort both run on the address; the
    // projection dropping it applies after, so written files keep the
    // Z-curve row order without carrying the metadata column
    z.repartitionByRange(numFiles, col(ZCol))
      .sortWithinPartitions(col(ZCol))
      .drop(ZCol)
      .write.mode("overwrite").parquet(path)
  }

  val ZCol = "__zaddr"

  /** `df` plus the interleaved Z-address column [[ZCol]]. */
  def zAddress(df: DataFrame, clusterCols: Seq[String], bits: Int): DataFrame = {
    val n = clusterCols.size
    require(n >= 1 && n * bits < 63, s"$n cols × $bits bits must fit a Long")
    val maxBucket = (1L << bits) - 1
    val statExprs = clusterCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__lo_$c"),
      max(col(c).cast("double")).as(s"__hi_$c")))
    val stats = df.agg(statExprs.head, statExprs.tail: _*)
    val withStats = df.crossJoin(broadcast(stats))
    val coords = clusterCols.map { c =>
      val (lo, hi) = (col(s"__lo_$c"), col(s"__hi_$c"))
      when(hi <= lo, lit(0L)).otherwise(
        least(lit(maxBucket),
          floor((col(c).cast("double") - lo) / (hi - lo) * (maxBucket + 1))
            .cast("long")))
    }
    val terms = for {
      b <- 0 until bits
      (c, i) <- coords.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i)
    withStats
      .withColumn(ZCol, terms.reduce(_.bitwiseOR(_)))
      .drop(clusterCols.flatMap(c => Seq(s"__lo_$c", s"__hi_$c")): _*)
  }

  val HCol = "__haddr"

  /** HILBERT-curve layout — the locality-tighter sibling of
    * [[writeZOrdered]]. The Z-curve's big jumps (address 0x0FFF →
    * 0x1000 teleports across the key plane) put distant key regions in
    * the same file at every power-of-two seam; the Hilbert curve is
    * CONTINUOUS (consecutive addresses are Manhattan-adjacent cells),
    * so equal address ranges cover compact, roughly-square key
    * regions — measurably fewer files overlap a given 2-D range
    * predicate (cf. Delta Lake's OPTIMIZE ... ZORDER successor
    * "liquid clustering", which is Hilbert-based for exactly this
    * reason).
    *
    * 2-D only here (the dominant case: e.g. two filter columns, or
    * lat/lon). Coordinates must already be integers in
    * [0, 2^order) — pre-bucket with the same min/max scaling
    * [[zAddress]] uses if needed; keeping the mapping integer-exact is
    * what lets the DuckDB oracle replay it bit-for-bit.
    *
    * Per level `s = 2^(order-1) … 1` (the standard xy2d walk):
    * {{{
    *   rx = (x & s) > 0;  ry = (y & s) > 0
    *   d += s² · ((3·rx) ⊕ ry)
    *   if (ry == 0) { if (rx == 1) { x = s-1-x; y = s-1-y }; swap(x, y) }
    * }}}
    * unrolled as `order` chained projections (integer ops only — no
    * floating point anywhere, so cross-engine equality is exact, and
    * each level stays a small expression instead of an exponentially
    * inlined tree).
    */
  def withHilbertAddress(df: DataFrame, xCol: Column, yCol: Column,
                         order: Int, outCol: String = HCol): DataFrame = {
    require(order >= 1 && order <= 31, s"order $order out of range")
    var cur = df
      .withColumn("__hx", xCol.cast("long"))
      .withColumn("__hy", yCol.cast("long"))
      .withColumn("__hd", lit(0L))
    for (lvl <- (order - 1) to 0 by -1) {
      val s = 1L << lvl
      cur = cur
        .withColumn("__rx",
          when(col("__hx").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L)))
        .withColumn("__ry",
          when(col("__hy").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L)))
        .withColumn("__hd",
          col("__hd") + lit(s * s) * (lit(3L) * col("__rx")).bitwiseXOR(col("__ry")))
        .withColumn("__nx",
          when(col("__ry") === 0,
            when(col("__rx") === 1, lit(s - 1) - col("__hy")).otherwise(col("__hy")))
            .otherwise(col("__hx")))
        .withColumn("__ny",
          when(col("__ry") === 0,
            when(col("__rx") === 1, lit(s - 1) - col("__hx")).otherwise(col("__hx")))
            .otherwise(col("__hy")))
        .withColumn("__hx", col("__nx"))
        .withColumn("__hy", col("__ny"))
        .drop("__nx", "__ny", "__rx", "__ry")
    }
    cur.withColumn(outCol, col("__hd")).drop("__hx", "__hy", "__hd")
  }

  /** Hilbert-cluster `df` on integer coords `(xCol, yCol)` (each in
    * [0, 2^order)) into `numFiles` parquet files at `path` — one
    * sampled range exchange on the address, no global sort.
    */
  def writeHilbertOrdered(df: DataFrame, path: String, numFiles: Int,
                          xCol: Column, yCol: Column, order: Int): Unit =
    withHilbertAddress(df, xCol, yCol, order)
      .repartitionByRange(numFiles, col(HCol))
      .sortWithinPartitions(col(HCol))
      .drop(HCol)
      .write.mode("overwrite").parquet(path)

  /** The SAME xy2d walk as DuckDB SQL — a chain of `order` CTE levels
    * generated from the identical per-level formulas, so the oracle
    * replays the address computation exactly (all-integer ⇒ bit-equal).
    * `from` is a table name or subquery; `keepCols` are passed through
    * every level; the final level exposes `hd` (plus `keepCols`).
    */
  def hilbertSqlCte(from: String, xSql: String, ySql: String, order: Int,
                    keepCols: Seq[String]): String = {
    val keep = keepCols.map(c => s"$c, ").mkString
    val init =
      s"h_init AS (SELECT $keep CAST(($xSql) AS BIGINT) AS hx, " +
        s"CAST(($ySql) AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM $from)"
    val levels = ((order - 1) to 0 by -1).zipWithIndex.map { case (lvl, i) =>
      val s = 1L << lvl
      val prev = if (i == 0) "h_init" else s"h_lvl${i - 1}"
      s"""h_lvl$i AS (
         |  SELECT $keep
         |    CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END ELSE hx END AS hx,
         |    CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END ELSE hy END AS hy,
         |    hd + ${s * s} * xor(3 * rx, ry) AS hd
         |  FROM (SELECT *,
         |      CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |      CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
         |    FROM $prev))""".stripMargin
    }
    (init +: levels).mkString("WITH ", ",\n", "")
  }

  /** Name of the final CTE level emitted by [[hilbertSqlCte]]. */
  def hilbertFinalCte(order: Int): String = s"h_lvl${order - 1}"

  /** Parquet BLOOM FILTERS on write — the point-lookup data-skipping
    * lever min/max stats can't provide. Range clustering prunes RANGE
    * predicates, but an equality probe on a column the layout is NOT
    * clustered on (user_id in a time-partitioned event log) matches
    * every file's [min,max] span — nothing skips. A per-row-group
    * bloom answers "definitely absent" without decoding pages, so the
    * reader drops row groups on a hash check. Costs a few bits/value
    * in the footer; `ndv` sizes the filter (overestimating wastes
    * footer bytes, underestimating inflates false positives).
    */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                     ndv: Long = 100000L): Unit =
    bloomCols.foldLeft(df.write.mode("overwrite")) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.parquet(path)

  /** True iff EVERY row group of every parquet file under `path`
    * carries a bloom filter for `column` (footer-level check through
    * parquet-hadoop — the reader-side proof the writer option took).
    */
  def hasBloomFilter(spark: SparkSession, path: String, column: String): Boolean = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val files = dir.getFileSystem(conf).listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
    files.nonEmpty && files.forall { st =>
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try {
        val blocks = rdr.getFooter.getBlocks.asScala
        blocks.nonEmpty && blocks.forall { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .exists(c => rdr.readBloomFilter(c) != null)
        }
      } finally rdr.close()
    }
  }

  /** Per-file min/max of `keyCol` as seen by a reader of `path` —
    * the footer stats a pruning scan consults, reconstructed
    * relationally (one scan, no driver loops). Used to VERIFY a
    * layout: clustered ⇒ file ranges are (near-)disjoint.
    */
  def fileRanges(spark: SparkSession, path: String, keyCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
        count(lit(1)).as("n_rows"))

  /** Fraction of files a reader must touch for an equality/range
    * predicate `lo ≤ key ≤ hi`, given the layout at `path` — the
    * measurable pruning win (1.0 = unclustered, ~1/numFiles =
    * perfectly clustered).
    */
  def touchedFileFraction(spark: SparkSession, path: String, keyCol: String,
                          lo: Column, hi: Column): Double = {
    val ranges = fileRanges(spark, path, keyCol)
    val row = ranges.agg(
      sum(when(col("lo") <= hi && col("hi") >= lo, 1).otherwise(0)).as("touched"),
      count(lit(1)).as("total")).head()
    row.getLong(0).toDouble / row.getLong(1).toDouble
  }

  /** Read hive-partitioned parquet at `path` with the named partition
    * columns typed as the strings their directory names spell ("01"
    * stays "01", not 1). The columns are declared `StringType` in the
    * read schema; a declared partition type is taken as written
    * (SPARK-26188), and pruning on them still works. The other columns
    * keep their inferred types, so this lists `path` twice: once to
    * infer, once to read.
    */
  def readStringPartitioned(spark: SparkSession, path: String,
                            partitionCols: Seq[String]): DataFrame = {
    val inferred = spark.read.parquet(path).schema
    spark.read.schema(StructType(inferred.map(f =>
        if (partitionCols.contains(f.name)) f.copy(dataType = StringType) else f)))
      .parquet(path)
  }
}
