package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins [[QuantileOps.exactQuantiles]] bit-for-bit against Spark's own
  * exact `percentile` aggregate (≡ DuckDB quantile_cont — that
  * equivalence is already pinned by the a11 driver rows) on the cases
  * that stress each branch of the bisection: interpolation between
  * neighbors, heavy ties (bucket degenerating to a point), constant
  * groups, single-row groups, all-null groups, values clustered inside
  * one bucket width (forcing extra rounds), and negatives.
  */
class QuantileOpsSpec extends graft.SparkSpec {
  import spark.implicits._

  private val QS = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)

  private def sparkExact(df: DataFrame): Map[Any, Seq[Double]] =
    df.filter(col("v").isNotNull).groupBy("g")
      .agg(expr(s"percentile(v, array(${QS.mkString(",")}))").as("p"))
      .collect()
      .map(r => r.get(0) -> r.getSeq[Double](1).toVector.asInstanceOf[Seq[Double]])
      .toMap

  private def check(df: DataFrame, buckets: Int = 64,
                    sliceThreshold: Int = 16): Unit = {
    val got = QuantileOps.exactQuantiles(df, "g", "v", QS,
      buckets = buckets, sliceThreshold = sliceThreshold)
    val exp = sparkExact(df)
    val gotNonNull = got.filter(_._2 != null)
    assert(gotNonNull.keySet == exp.keySet,
      s"groups differ: got=${gotNonNull.keySet} exp=${exp.keySet}")
    exp.foreach { case (g, vs) =>
      vs.zip(gotNonNull(g)).zipWithIndex.foreach { case ((e, a), i) =>
        assert(e == a, s"group $g q=${QS(i)}: exact=$e bisection=$a")
      }
    }
  }

  test("continuous values, several groups — matches percentile() exactly") {
    val df = (1 to 5000).map { i =>
      (s"g${i % 3}", math.sin(i * 0.7) * 1000 + i * 0.013)
    }.toDF("g", "v")
    check(df)
  }

  test("heavy ties: 90% of one group at a single value") {
    val df = ((1 to 900).map(_ => ("a", 42.0)) ++
      (1 to 100).map(i => ("a", i * 1.5)) ++
      (1 to 50).map(i => ("b", (i % 7).toDouble))).toDF("g", "v")
    check(df)
  }

  test("constant group, single-row group, two-row interpolation") {
    val df = Seq(("c", 5.0), ("c", 5.0), ("c", 5.0),
      ("one", 9.25), ("two", 1.0), ("two", 2.0)).toDF("g", "v")
    check(df)
  }

  test("all-null group yields null; nulls ignored elsewhere") {
    val df = Seq(("n", Option.empty[Double]), ("n", None),
      ("m", Some(3.0)), ("m", None), ("m", Some(7.0))).toDF("g", "v")
    val got = QuantileOps.exactQuantiles(df, "g", "v", QS,
      buckets = 64, sliceThreshold = 16)
    assert(got("n") == null)
    check(df)
  }

  test("values clustered inside one bucket width force extra rounds") {
    // 2000 values within [1e9, 1e9 + 1e-3] plus two far outliers: the
    // first histogram puts nearly everything in one bucket, so the
    // interval must re-narrow via the bucket's actual min/max
    val df = ((1 to 2000).map(i => ("t", 1e9 + i * 5e-7)) ++
      Seq(("t", -1e9), ("t", 3e9))).toDF("g", "v")
    check(df, buckets = 8, sliceThreshold = 8)
  }

  test("negatives and mixed magnitudes") {
    val df = (1 to 1000).map(i =>
      ("z", (if (i % 2 == 0) -1 else 1) * math.exp(i % 13))).toDF("g", "v")
    check(df)
  }

  test("NaN is rejected loudly") {
    val df = Seq(("g", 1.0), ("g", Double.NaN)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      QuantileOps.exactQuantiles(df, "g", "v", Seq(0.5))
    }
    assert(e.getMessage.contains("NaN"))
  }

  test("group-cardinality guard fails fast above maxGroups, naming t-digest") {
    // a miscalled high-cardinality group column (fact-table key) must
    // error BEFORE anything per-group reaches the driver
    val wide = (1 to 1000).map(i => (s"k$i", i * 1.0)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      QuantileOps.exactQuantiles(wide, "g", "v", Seq(0.5), maxGroups = 10)
    }
    assert(e.getMessage.contains("maxGroups"))
    assert(e.getMessage.contains("TDigest"))
    // well under the bound: unaffected (exactness re-pinned)
    val ok = QuantileOps.exactQuantiles(wide, "g", "v", Seq(0.5), maxGroups = 5000)
    assert(ok.size == 1000 && ok("k7") == Seq(7.0))
    // the DF wrapper threads the bound through
    val e2 = intercept[IllegalArgumentException] {
      QuantileOps.exactQuantilesDF(wide, "g", "v", Seq(0.5), maxGroups = 10).collect()
    }
    assert(e2.getMessage.contains("maxGroups"))
  }

  test("guard bound resolves from spark.graft.quantile.maxGroups; <= 0 disables it") {
    // safety knobs belong in conf, not call sites, on a shared
    // cluster: the session conf must bind when the caller leaves the
    // default, an explicit argument must still win, and a
    // non-positive resolved bound must DISABLE the guard (the
    // caller-asserts-bounded escape hatch — no pre-scan tax for
    // callers that already know their cardinality)
    val wide = (1 to 1000).map(i => (s"k$i", i * 1.0)).toDF("g", "v")
    val conf = QuantileOps.maxGroupsConf
    try {
      // conf binds in place of the default
      spark.conf.set(conf, "10")
      val e = intercept[IllegalArgumentException] {
        QuantileOps.exactQuantiles(wide, "g", "v", Seq(0.5))
      }
      assert(e.getMessage.contains("maxGroups=10"))
      // explicit non-default argument overrides the conf
      val ok = QuantileOps.exactQuantiles(wide, "g", "v", Seq(0.5), maxGroups = 5000)
      assert(ok.size == 1000)
      // conf <= 0 disables the guard entirely (not "a bound of -1")
      spark.conf.set(conf, "-1")
      val ok2 = QuantileOps.exactQuantiles(wide, "g", "v", Seq(0.5))
      assert(ok2.size == 1000 && ok2("k7") == Seq(7.0))
      // explicit <= 0 argument disables it too, conf notwithstanding
      spark.conf.set(conf, "10")
      val ok3 = QuantileOps.exactQuantiles(wide, "g", "v", Seq(0.5), maxGroups = -1)
      assert(ok3.size == 1000)
      // EVERY explicit value wins — including ones matching the
      // built-in default (the sentinel is out-of-band, so a caller
      // stating the documented 100k bound is distinguishable from
      // omitting it and can never be overridden by a conf another
      // job set, in either direction)
      spark.conf.set(conf, "10") // stricter conf must NOT override
      val ok4 = QuantileOps.exactQuantiles(wide, "g", "v", Seq(0.5),
        maxGroups = QuantileOps.defaultMaxGroups)
      assert(ok4.size == 1000)
      spark.conf.set(conf, "-1") // guard-disabling conf must NOT override
      val e5 = intercept[IllegalArgumentException] {
        QuantileOps.exactQuantiles(wide, "g", "v", Seq(0.5), maxGroups = 100)
      }
      assert(e5.getMessage.contains("maxGroups=100"),
        "an explicit bound must bind even when the conf disables the guard")
      // a junk conf value names itself instead of a bare NumberFormatException
      spark.conf.set(conf, "lots")
      val e6 = intercept[IllegalArgumentException] {
        QuantileOps.exactQuantiles(wide, "g", "v", Seq(0.5))
      }
      assert(e6.getMessage.contains(conf))
    } finally spark.conf.unset(conf)
  }

  test("exactQuantilesDF round-trips the map as a broadcastable frame") {
    val df = (1 to 300).map(i => (s"g${i % 2}", i * 1.1)).toDF("g", "v")
    val out = QuantileOps.exactQuantilesDF(df, "g", "v", Seq(0.5, 0.9))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val exp = sparkExact(df.select(col("g"), col("v")))
    // sparkExact uses QS; recompute for the two requested quantiles
    val exp2 = df.groupBy("g").agg(expr("percentile(v, array(0.5, 0.9))").as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(out.keySet == exp2.keySet)
    exp2.foreach { case (g, vs) => assert(out(g) == vs) }
    assert(exp.nonEmpty) // silence unused warning path
  }

  // ---- weighted threshold selection (r14: the a11_tdigest_weighted
  // bounds without the per-group cumulative-sort window) ----

  private val WFRACS = Seq(0.0, 0.25, 0.48, 0.52, 0.5, 0.975, 1.0)

  /** The window formulation the operator replaces — ground truth. */
  private def windowWeighted(df: DataFrame): Map[String, (Long, Seq[Double])] = {
    import org.apache.spark.sql.expressions.Window
    val cum = df
      .withColumn("cw", sum("w").over(
        Window.partitionBy("g").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("W", sum("w").over(Window.partitionBy("g")))
    cum.groupBy("g").agg(
        max("W").as("tw"),
        array(WFRACS.map(r =>
          min(when(col("cw") >= col("W") * r, col("v")))): _*).as("ths"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Double](2).toVector: Seq[Double]))
      .toMap
  }

  private def checkWeighted(df: DataFrame, buckets: Int = 64,
                            sliceThreshold: Int = 16): Unit = {
    val got = QuantileOps.exactWeightedThresholdsDF(df, "g", "v", "w", WFRACS,
        buckets = buckets, sliceThreshold = sliceThreshold)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Double](2).toVector: Seq[Double]))
      .toMap
    val exp = windowWeighted(df)
    assert(got.keySet == exp.keySet)
    exp.foreach { case (g, (tw, ths)) =>
      assert(got(g)._1 == tw, s"group $g total_w: exp=$tw got=${got(g)._1}")
      ths.zip(got(g)._2).zipWithIndex.foreach { case ((e, a), i) =>
        assert(e == a, s"group $g frac=${WFRACS(i)}: window=$e bisection=$a")
      }
    }
  }

  test("weighted thresholds == cumulative-window form (continuous, several groups)") {
    val df = (1 to 5000).map { i =>
      (s"g${i % 3}", math.sin(i * 0.7) * 1000 + i * 0.013, (i % 17 + 1).toLong)
    }.toDF("g", "v", "w")
    checkWeighted(df)
  }

  test("weighted thresholds: heavy value ties and zero weights") {
    val df = ((1 to 900).map(i => ("a", 42.0, (i % 3).toLong)) ++ // some zero weights
      (1 to 100).map(i => ("a", i * 1.5, 2L)) ++
      (1 to 50).map(i => ("b", (i % 7).toDouble, 5L)) ++
      Seq(("c", 9.0, 1L))).toDF("g", "v", "w") // single-row group
    checkWeighted(df)
  }

  test("weighted thresholds: clustered values force extra rounds") {
    val df = ((1 to 2000).map(i => ("t", 1e9 + i * 5e-7, (i % 5 + 1).toLong)) ++
      Seq(("t", -1e9, 3L), ("t", 3e9, 2L))).toDF("g", "v", "w")
    checkWeighted(df, buckets = 8, sliceThreshold = 8)
  }

  test("a null group is a group: same answer as under a non-null label, window form agrees") {
    val raw = (1 to 600).map { i =>
      (if (i % 3 == 0) None else Some(s"g${i % 2}"), math.cos(i * 0.3) * 50 + i * 0.01,
        (i % 4).toLong)
    }
    val labelled = raw.map { case (g, v, w) => (g.getOrElse("none"), v, w) }
    // unweighted: the null group's quantiles are those of the same rows
    // under a non-null label (the interval joins used to drop them)
    val got = QuantileOps.exactQuantiles(raw.map(t => (t._1, t._2)).toDF("g", "v"),
      "g", "v", QS, buckets = 64, sliceThreshold = 16)
    val ref = QuantileOps.exactQuantiles(labelled.map(t => (t._1, t._2)).toDF("g", "v"),
      "g", "v", QS, buckets = 64, sliceThreshold = 16)
    assert(got.keySet == Set[Any](null, "g0", "g1"))
    assert(got.map { case (g, q) => Option(g).getOrElse("none") -> q } == ref)
    // weighted: the gated bisection vs the cumulative-window form
    val df = raw.toDF("g", "v", "w")
    checkWeighted(df)
    assert(QuantileOps.exactWeightedThresholdsDF(df, "g", "v", "w", WFRACS)
      .filter(col("g").isNull).count() == 1)
  }

  test("weighted thresholds reject null/NaN values and negative weights loudly") {
    val bad1 = Seq(("g", Some(1.0), 1L), ("g", None, 2L)).toDF("g", "v", "w")
    val e1 = intercept[IllegalArgumentException] {
      QuantileOps.exactWeightedThresholdsDF(bad1, "g", "v", "w", Seq(0.5)).collect()
    }
    assert(e1.getMessage.contains("weighted"))
    val bad2 = Seq(("g", 1.0, 1L), ("g", 2.0, -4L)).toDF("g", "v", "w")
    val e2 = intercept[IllegalArgumentException] {
      QuantileOps.exactWeightedThresholdsDF(bad2, "g", "v", "w", Seq(0.5)).collect()
    }
    assert(e2.getMessage.contains("weighted"))
  }
}
