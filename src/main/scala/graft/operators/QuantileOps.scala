package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact per-group interpolated quantiles at scale, via
  * histogram-guided selection (iterative bisection).
  *
  * Spark's exact `percentile` aggregate builds a value→count hashmap
  * per group: fine for low-cardinality columns (`l_quantity`, 50
  * distinct — the map stays tiny and merges map-side), degenerate for
  * CONTINUOUS columns, where the map holds every distinct value, the
  * shuffle ships one hashmap the size of the group to ONE reducer per
  * group, and that reducer sorts the whole group single-threaded
  * (measured: 11–73 s for 3 groups × 2M values at the 10× stress set,
  * GC-bound — a14× scaling ratio on an otherwise-linear query; the
  * 100 TB shape is a straight OOM).
  *
  * This operator computes the SAME value (Spark `percentile` ≡ DuckDB
  * `quantile_cont`: pos = q·(n−1), linear interpolation between the
  * two neighboring order statistics) with bounded memory everywhere:
  *
  *   1. one scan for per-group (n, min, max);
  *   2. per round, one scan histogramming each target's candidate
  *      interval into `buckets` equi-width buckets (count/min/max per
  *      bucket — a codegen hash-agg, map-side combinable; intervals
  *      are DEDUPED so round 1 is one histogram per group, not per
  *      rank); the bucket containing the target rank becomes the next
  *      interval, narrowed to the bucket's ACTUAL [min,max];
  *   3. when a candidate set fits `sliceThreshold`, one final scan
  *      collects the surviving slices and the order statistic is read
  *      off the sorted slice.
  *
  * Each round shrinks a candidate set by ~`buckets`× (or snaps to the
  * exact value when a bucket degenerates to a single point — the
  * heavy-ties case), so uniform-ish doubles resolve in 2 rounds and
  * `maxRounds` is a generous ceiling, asserted rather than silently
  * degraded. Driver state is O(groups × quantiles × buckets) per
  * round and O(groups × quantiles × sliceThreshold) at the slice —
  * the operator targets DRIVER-BOUNDED group cardinalities (telemetry
  * / audit groupings; reference: glue_jobs/process_openaq_raw.py's
  * per-parameter stats). The contract is SELF-ENFORCING: a cheap
  * HLL++ pre-scan counts groups and fails fast above `maxGroups`
  * (default 100k) before anything per-group reaches the driver. For
  * unbounded groups use the t-digest aggregate instead
  * (`graftx.TDigest` — estimates with rank bounds).
  *
  * `maxGroups` resolution: any EXPLICIT argument wins (the default is
  * the [[QuantileOps.useSessionMaxGroups]] sentinel, so passing the
  * documented 100k explicitly is distinguishable from omitting it —
  * a session conf can never silently override a caller's stated
  * bound); otherwise `spark.graft.quantile.maxGroups` (session conf —
  * safety knobs belong in conf, not call sites, on a shared cluster);
  * otherwise 100k. A resolved value ≤ 0 DISABLES the guard and skips
  * the pre-scan entirely — the caller-asserts-bounded escape hatch
  * for callers that already know their group cardinality (repeated
  * calls on the same frame, tiny literal test frames) and would
  * otherwise pay one whole pass of pure overhead per call.
  *
  * Everything is deterministic: no rand/partition-id anywhere, so the
  * result is replay-identical (ReplayStabilitySpec sweeps it).
  *
  * NaN values are rejected (one `isnan` guard in the stats scan);
  * null values are ignored like both reference engines; an
  * all-null/empty group yields a null quantile array. A null GROUP is
  * a group like any other (as in `groupBy`): the interval joins match
  * it null-safely (`<=>`).
  */
object QuantileOps {

  /** Session-conf name for the cardinality-guard bound (scaladoc above). */
  val maxGroupsConf = "spark.graft.quantile.maxGroups"

  /** Built-in guard bound when neither the argument nor the conf sets one. */
  val defaultMaxGroups = 100000

  /** Default-argument sentinel: "no explicit bound — resolve from the
    * session conf, else [[defaultMaxGroups]]". Kept distinct from any
    * meaningful bound (every real value, including the guard-disabling
    * ≤ 0 ones, wins over the conf when passed explicitly).
    */
  val useSessionMaxGroups: Int = Int.MinValue

  /** (groupCol, quantiles array<double> aligned with `qs`) — one row
    * per group, built driver-side (bounded by group cardinality) so
    * callers can broadcast-join it back to facts.
    */
  def exactQuantilesDF(df: DataFrame, groupCol: String, valueCol: String,
                       qs: Seq[Double], buckets: Int = 4096,
                       sliceThreshold: Int = 4096,
                       maxRounds: Int = 6,
                       maxGroups: Int = useSessionMaxGroups): DataFrame = {
    val spark = df.sparkSession
    val groupField = df.schema(groupCol)
    val res = exactQuantiles(df, groupCol, valueCol, qs, buckets,
      sliceThreshold, maxRounds, maxGroups)
    val rows = res.toSeq.map { case (g, vs) =>
      Row(g, if (vs == null) null else vs)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      StructType(Seq(groupField.copy(nullable = true),
        StructField("quantiles", ArrayType(DoubleType), nullable = true))))
  }

  private implicit class SeqAsJava[A](private val s: Seq[A]) extends AnyVal {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.size)
      s.foreach(l.add)
      l
    }
  }

  /** Driver-side result: group value → quantile values aligned with
    * `qs` (null for an empty/all-null group).
    */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     qs: Seq[Double], buckets: Int = 4096,
                     sliceThreshold: Int = 4096,
                     maxRounds: Int = 6,
                     maxGroups: Int = useSessionMaxGroups): Map[Any, Seq[Double]] = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1]: $qs")
    val spark = df.sparkSession
    val g = col(groupCol)
    val v = col(valueCol).cast(DoubleType)
    val raw = df.select(g.as("__g"), v.as("__v"))
    val base = raw.filter(col("__v").isNotNull)

    // Fail-fast cardinality guard: driver state is O(groups × quantiles
    // × buckets) and pass 1 collects one row per group — a miscalled
    // high-cardinality group column (e.g. a fact-table key) would OOM
    // the driver with only the scaladoc as defense. One cheap pre-scan
    // (HLL++ sketch, a single row to the driver — no per-group shuffle)
    // makes the documented contract self-enforcing. The default 100k
    // bound keeps driver state ≤ a few GB at the default buckets; the
    // sketch's ~5% rsd is immaterial at OOM-protection granularity.
    // Bound resolution (see object scaladoc): explicit arg > session
    // conf > 100k default; ≤ 0 disables the guard (and its scan).
    val effMaxGroups =
      if (maxGroups != useSessionMaxGroups) maxGroups
      else graft.GraftConf.intConf(spark, maxGroupsConf)
        .getOrElse(defaultMaxGroups)
    if (effMaxGroups > 0) {
      val approxGroups = raw
        .agg(approx_count_distinct(col("__g")).as("g")).collect()(0).getLong(0)
      require(approxGroups <= effMaxGroups,
        s"~$approxGroups distinct '$groupCol' groups exceeds maxGroups=$effMaxGroups: " +
          "exactQuantiles targets DRIVER-BOUNDED group cardinalities; for " +
          "unbounded groups use the t-digest aggregate " +
          "(org.apache.spark.sql.graftx.TDigestQuantiles — rank-bounded estimates)")
    }

    // pass 1: per-group n / min / max (+ NaN guard — NaN breaks the
    // ordering every engine's quantile assumes). Computed on the
    // UNFILTERED frame with null-skipping aggregates so an
    // all-null group still yields a (null-quantile) row, matching
    // `percentile`'s groupBy semantics.
    val stats = raw.groupBy("__g").agg(
      count(col("__v")).as("n"), min("__v").as("mn"), max("__v").as("mx"),
      max(when(isnan(col("__v")), 1).otherwise(0)).as("has_nan")).collect()
    require(stats.forall(_.getInt(4) == 0),
      s"NaN in $valueCol — exact quantiles are undefined under NaN")

    // a target is one order statistic: (group, 0-indexed rank)
    final case class Target(tid: Int, gIdx: Int, rank: Long) {
      var lo: Double = 0; var hi: Double = 0
      var off: Long = 0 // rank within the current candidate set
      var resolved: Option[Double] = None
      var slice: Boolean = false
    }
    val groups = stats.map(_.get(0))
    val nByG = stats.map(_.getLong(1))
    val targets = mutable.ArrayBuffer.empty[Target]
    val ranksNeeded: Array[Seq[(Double, Long, Long)]] = stats.indices.map { i =>
      val n = nByG(i)
      if (n == 0) Seq.empty
      else qs.map { q =>
        val pos = q * (n - 1)
        (pos, math.floor(pos).toLong, math.ceil(pos).toLong)
      }
    }.toArray
    stats.indices.foreach { i =>
      if (nByG(i) > 0) {
        val mn = stats(i).getDouble(2); val mx = stats(i).getDouble(3)
        ranksNeeded(i).flatMap(r => Seq(r._2, r._3)).distinct.foreach { r =>
          val t = Target(targets.size, i, r)
          t.lo = mn; t.hi = mx; t.off = r
          if (mn == mx) t.resolved = Some(mn) // constant group
          targets += t
        }
      }
    }

    val groupType = df.schema(groupCol).dataType

    // one scan: equi-width histogram of every unresolved target's
    // candidate interval. Intervals are deduped on (group, lo, hi) —
    // round 1 has ONE interval per group however many ranks — and the
    // map from interval to its targets is replayed driver-side.
    def histogram(active: Seq[Target]): Map[Int, Array[(Int, Long, Double, Double)]] = {
      val intervals = active.map(t => (groups(t.gIdx), t.lo, t.hi)).distinct
      val iid = intervals.zipWithIndex.toMap
      val byTarget = active.map(t => t.tid -> iid((groups(t.gIdx), t.lo, t.hi))).toMap
      val intDf = spark.createDataFrame(
        intervals.zipWithIndex.map { case ((gv, lo, hi), id) =>
          Row(gv, lo, hi, id)
        }.asJava,
        StructType(Seq(StructField("__ig", groupType), StructField("lo", DoubleType),
          StructField("hi", DoubleType), StructField("iid", IntegerType))))
      val b = when(col("hi") > col("lo"),
          least(lit(buckets - 1),
            floor((col("__v") - col("lo")) / (col("hi") - col("lo")) * buckets)
              .cast(IntegerType)))
        .otherwise(lit(0))
      val hist = base.join(broadcast(intDf),
          col("__g") <=> col("__ig") &&
            col("__v") >= col("lo") && col("__v") <= col("hi"))
        .groupBy(col("iid"), b.as("__b"))
        .agg(count(lit(1)).as("c"), min("__v").as("bmn"), max("__v").as("bmx"))
        .collect()
      val byIid = hist.groupBy(_.getInt(0)).map { case (id, rows) =>
        id -> rows.map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
          .sortBy(_._1)
      }
      byTarget.map { case (tid, id) => tid -> byIid.getOrElse(id, Array.empty) }
    }

    var round = 0
    var active = targets.filter(t => t.resolved.isEmpty && !t.slice).toSeq
    while (active.nonEmpty && round < maxRounds) {
      val hists = histogram(active)
      active.foreach { t =>
        var cum = 0L
        var done = false
        for ((_, c, bmn, bmx) <- hists(t.tid) if !done) {
          if (t.off < cum + c) {
            t.off -= cum
            t.lo = bmn; t.hi = bmx
            if (bmn == bmx) t.resolved = Some(bmn) // exact point (ties)
            else if (c <= sliceThreshold) t.slice = true
            done = true
          } else cum += c
        }
        assert(done, s"rank ${t.rank} not found in histogram (group ${groups(t.gIdx)})")
      }
      active = targets.filter(t => t.resolved.isEmpty && !t.slice).toSeq
      round += 1
    }
    require(active.isEmpty,
      s"quantile bisection did not converge in $maxRounds rounds " +
        s"(${active.size} targets; pathological value clustering — raise buckets)")

    // final scan: collect the surviving slices (≤ sliceThreshold rows
    // per target by construction) and read the order statistic off the
    // local sort
    val slicers = targets.filter(_.slice).toSeq
    if (slicers.nonEmpty) {
      val intervals = slicers.map(t => (groups(t.gIdx), t.lo, t.hi)).distinct
      val iid = intervals.zipWithIndex.toMap
      val intDf = spark.createDataFrame(
        intervals.zipWithIndex.map { case ((gv, lo, hi), id) => Row(gv, lo, hi, id) }.asJava,
        StructType(Seq(StructField("__ig", groupType), StructField("lo", DoubleType),
          StructField("hi", DoubleType), StructField("iid", IntegerType))))
      val vals = base.join(broadcast(intDf),
          col("__g") <=> col("__ig") &&
            col("__v") >= col("lo") && col("__v") <= col("hi"))
        .select(col("iid"), col("__v")).collect()
        .groupBy(_.getInt(0))
        .map { case (id, rows) => id -> rows.map(_.getDouble(1)).sorted }
      slicers.foreach { t =>
        val arr = vals(iid((groups(t.gIdx), t.lo, t.hi)))
        t.resolved = Some(arr(t.off.toInt))
      }
    }

    val valueAt: Map[(Int, Long), Double] =
      targets.map(t => (t.gIdx, t.rank) -> t.resolved.get).toMap
    stats.indices.map { i =>
      val out: Seq[Double] =
        if (nByG(i) == 0) null
        else ranksNeeded(i).map { case (pos, rf, rc) =>
          // Spark `percentile`'s own arithmetic, so results match it bit
          // for bit (vf + (pos - rf) * (vc - vf) differs in the last bits)
          val (vf, vc) = (valueAt((i, rf)), valueAt((i, rc)))
          if (rf == rc || vf == vc) vf else (rc - pos) * vf + (pos - rf) * vc
        }
      groups(i) -> out
    }.toMap
  }

  /** WEIGHTED threshold selection, the weighted twin of
    * [[exactQuantilesDF]]: per group, for each fraction r, the value
    * `min(v | cumW(≤ v) ≥ r·W)` where `cumW(≤ v)` is the total weight
    * of rows with value ≤ v and `W` the group's total weight — exactly
    * the `min(CASE WHEN cw >= W*r THEN v END)` read off a cumulative
    * window over the per-group value sort, WITHOUT the window: a
    * window partitioned by a LOW-cardinality group column sorts every
    * group through one task (3 groups at 100 TB = 3 tasks holding the
    * corpus — the exact shape `percentile` dies by, see the object
    * scaladoc), where this runs the same histogram-guided bisection as
    * the unweighted operator with per-bucket `sum(weight)` instead of
    * `count` (map-side-combinable hash aggregates only).
    *
    * Threshold comparison semantics match the window form exactly:
    * cumulative weights accumulate in LONG (exact), the threshold is
    * the one double product `W·r`, and the comparison is the same
    * long-promoted-to-double `cumW ≥ W·r`. Ties in `v` are immaterial
    * (the whole tie group shares one cumulative endpoint).
    *
    * Returns one row per group: (groupCol, total_w LONG, thresholds
    * ARRAY<DOUBLE> aligned with `fracs`). Weights must be non-negative
    * longs; null/NaN values and null weights are rejected loudly (the
    * window form counts a null-value row's weight into every later
    * cumulative — a semantics no caller has wanted; fail fast instead
    * of silently diverging).
    */
  def exactWeightedThresholdsDF(df: DataFrame, groupCol: String,
                                valueCol: String, weightCol: String,
                                fracs: Seq[Double], buckets: Int = 4096,
                                sliceThreshold: Int = 4096,
                                maxRounds: Int = 6,
                                maxGroups: Int = useSessionMaxGroups): DataFrame = {
    require(fracs.nonEmpty && fracs.forall(r => r >= 0.0 && r <= 1.0),
      s"fractions must be in [0,1]: $fracs")
    val spark = df.sparkSession
    val groupField = df.schema(groupCol)
    val raw = df.select(col(groupCol).as("__g"),
      col(valueCol).cast(DoubleType).as("__v"),
      col(weightCol).cast(LongType).as("__w"))

    val effMaxGroups =
      if (maxGroups != useSessionMaxGroups) maxGroups
      else graft.GraftConf.intConf(spark, maxGroupsConf)
        .getOrElse(defaultMaxGroups)
    if (effMaxGroups > 0) {
      val approxGroups = raw
        .agg(approx_count_distinct(col("__g")).as("g")).collect()(0).getLong(0)
      require(approxGroups <= effMaxGroups,
        s"~$approxGroups distinct '$groupCol' groups exceeds maxGroups=$effMaxGroups: " +
          "exactWeightedThresholds targets DRIVER-BOUNDED group cardinalities; " +
          "for unbounded groups use the weighted t-digest aggregate " +
          "(org.apache.spark.sql.graftx.TDigest — rank-bounded estimates)")
    }

    // pass 1: per-group totals + loud input validation
    val stats = raw.groupBy("__g").agg(
      count(lit(1)).as("n"), sum("__w").as("W"),
      min("__v").as("mn"), max("__v").as("mx"),
      max(when(col("__v").isNull || isnan(col("__v")) ||
        col("__w").isNull || col("__w") < 0, 1).otherwise(0)).as("bad")).collect()
    require(stats.forall(_.getInt(5) == 0),
      s"null/NaN $valueCol or null/negative $weightCol — weighted " +
        "thresholds are undefined; filter or fix upstream")

    val groups = stats.map(_.get(0))
    val totW = stats.map(r => if (r.isNullAt(2)) 0L else r.getLong(2))

    // a target is one (group, threshold): resolved when pinned to a value
    final case class Target(tid: Int, gIdx: Int, thresh: Double) {
      var lo: Double = 0; var hi: Double = 0
      var prefix: Long = 0 // exact weight of rows with __v < lo
      var resolved: Option[Double] = None
      var slice: Boolean = false
    }
    val targets = mutable.ArrayBuffer.empty[Target]
    stats.indices.foreach { i =>
      if (stats(i).getLong(1) > 0) {
        val mn = stats(i).getDouble(3); val mx = stats(i).getDouble(4)
        fracs.map(r => totW(i) * r).distinct.foreach { t =>
          val tg = Target(targets.size, i, t)
          tg.lo = mn; tg.hi = mx
          if (mn == mx) tg.resolved = Some(mn)
          // threshold ≤ 0 (r = 0, or an all-zero-weight group): the
          // first row already satisfies cumW ≥ t, so the answer is the
          // group min — matching min(CASE WHEN cw >= 0 …) over all rows
          else if (t <= 0) tg.resolved = Some(mn)
          targets += tg
        }
      }
    }
    val groupType = df.schema(groupCol).dataType

    // one scan per round: per-bucket (sum(weight), count, min, max)
    // over every unresolved target's candidate interval (deduped)
    def histogram(active: Seq[Target])
        : Map[Int, Array[(Int, Long, Long, Double, Double)]] = {
      val intervals = active.map(t => (groups(t.gIdx), t.lo, t.hi)).distinct
      val iid = intervals.zipWithIndex.toMap
      val byTarget = active.map(t => t.tid -> iid((groups(t.gIdx), t.lo, t.hi))).toMap
      val intDf = spark.createDataFrame(
        intervals.zipWithIndex.map { case ((gv, lo, hi), id) =>
          Row(gv, lo, hi, id)
        }.asJava,
        StructType(Seq(StructField("__ig", groupType), StructField("lo", DoubleType),
          StructField("hi", DoubleType), StructField("iid", IntegerType))))
      val b = when(col("hi") > col("lo"),
          least(lit(buckets - 1),
            floor((col("__v") - col("lo")) / (col("hi") - col("lo")) * buckets)
              .cast(IntegerType)))
        .otherwise(lit(0))
      val hist = raw.join(broadcast(intDf),
          col("__g") <=> col("__ig") &&
            col("__v") >= col("lo") && col("__v") <= col("hi"))
        .groupBy(col("iid"), b.as("__b"))
        .agg(sum("__w").as("wsum"), count(lit(1)).as("c"),
          min("__v").as("bmn"), max("__v").as("bmx"))
        .collect()
      val byIid = hist.groupBy(_.getInt(0)).map { case (id, rows) =>
        id -> rows.map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).sortBy(_._1)
      }
      byTarget.map { case (tid, id) => tid -> byIid.getOrElse(id, Array.empty) }
    }

    var round = 0
    var active = targets.filter(t => t.resolved.isEmpty && !t.slice).toSeq
    while (active.nonEmpty && round < maxRounds) {
      val hists = histogram(active)
      active.foreach { t =>
        var cum = t.prefix
        var done = false
        for ((_, wsum, c, bmn, bmx) <- hists(t.tid) if !done) {
          // the SAME comparison shape as the window form: exact long
          // cumulative vs the one double product W·r
          if ((cum + wsum).toDouble >= t.thresh) {
            t.prefix = cum
            t.lo = bmn; t.hi = bmx
            if (bmn == bmx) t.resolved = Some(bmn)
            else if (c <= sliceThreshold) t.slice = true
            done = true
          } else cum += wsum
        }
        assert(done, s"threshold ${t.thresh} not reached in histogram " +
          s"(group ${groups(t.gIdx)}) — inconsistent weights")
      }
      active = targets.filter(t => t.resolved.isEmpty && !t.slice).toSeq
      round += 1
    }
    require(active.isEmpty,
      s"weighted threshold bisection did not converge in $maxRounds rounds " +
        s"(${active.size} targets; pathological value clustering — raise buckets)")

    // final scan: collect surviving slices and walk the cumulative
    val slicers = targets.filter(_.slice).toSeq
    if (slicers.nonEmpty) {
      val intervals = slicers.map(t => (groups(t.gIdx), t.lo, t.hi)).distinct
      val iid = intervals.zipWithIndex.toMap
      val intDf = spark.createDataFrame(
        intervals.zipWithIndex.map { case ((gv, lo, hi), id) => Row(gv, lo, hi, id) }.asJava,
        StructType(Seq(StructField("__ig", groupType), StructField("lo", DoubleType),
          StructField("hi", DoubleType), StructField("iid", IntegerType))))
      val vals = raw.join(broadcast(intDf),
          col("__g") <=> col("__ig") &&
            col("__v") >= col("lo") && col("__v") <= col("hi"))
        .select(col("iid"), col("__v"), col("__w")).collect()
        .groupBy(_.getInt(0))
        .map { case (id, rows) =>
          id -> rows.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
        }
      slicers.foreach { t =>
        val arr = vals(iid((groups(t.gIdx), t.lo, t.hi)))
        var cum = t.prefix
        var ans = Double.NaN
        var found = false
        for ((v, w) <- arr if !found) {
          cum += w
          if (cum.toDouble >= t.thresh) { ans = v; found = true }
        }
        assert(found, s"threshold ${t.thresh} not reached in slice " +
          s"(group ${groups(t.gIdx)})")
        t.resolved = Some(ans)
      }
    }

    val valueAt: Map[(Int, Double), Double] =
      targets.map(t => (t.gIdx, t.thresh) -> t.resolved.get).toMap
    val rows = stats.indices.map { i =>
      val out: Seq[Double] =
        if (stats(i).getLong(1) == 0) null
        else fracs.map(r => valueAt((i, totW(i) * r)))
      Row(groups(i), totW(i), out)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      StructType(Seq(groupField.copy(nullable = true),
        StructField("total_w", LongType, nullable = false),
        StructField("thresholds", ArrayType(DoubleType), nullable = true))))
  }
}
