package graft

import org.apache.spark.sql.types.BooleanType

/** Empirical scaling comparator: times the same queries at two data
  * dirs (canonically /root/testdata/sf0.1 and a
  * [[graft.tools.StressGen]] 10× set) and prints one JSON line per
  * query with both times, the ratio, and the conjunction of every
  * boolean self-check column in the result (the recall/exactness pins
  * — `recall_ok`, `exactness_ok`, … — so LSH geometry claims are
  * MEASURED as n grows, not argued).
  *
  * Same methodology as [[Bench]]: per-query warm run + min-of-3 timed
  * noop-sink materializations, persisted state dropped between queries.
  *
  * Usage:
  *   sbt "runMain graft.ScaleBench <dirSmall> <dirBig> [q1,q2,…]"
  * With no query list: the TOP set below (the most expensive queries
  * per BENCHNOTES plus the flagship composites).
  */
object ScaleBench {

  /** Most expensive per BENCHNOTES round-9 isolated top-15, plus the
    * flagship composites and the recall-pinned ANN/dedup surface.
    */
  val TOP: Seq[String] = Seq(
    "dd_embedding_clusters_lsh", "ann_ivf_train", "ann_pca_topk",
    "dd_repeated_spans", "gr_components_star", "a11_tdigest",
    "dd_embedding_lsh", "tx_bpe_apply", "gr_pagerank", "dd_containment",
    "gr_bfs", "dd_canonical", "mm_embed_neardup", "a11_tdigest_rollup",
    "dd_minhash_lsh", "dd_ngram_jaccard", "dd_simhash", "dd_clusters",
    "pipe_mart", "pipe_curate", "j6_star_join", "tx_tfidf",
    "ann_lsh_topk", "ann_ivf_search", "dd_chunk_dedup", "tx_quality",
    "w1_window_dedup", "dq_profile")

  def main(args: Array[String]): Unit = {
    val dirA = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val dirB = if (args.length > 1) args(1) else "/tmp/stress/sf1"
    val names = if (args.length > 2) args(2).split(",").toSeq.map(_.trim) else TOP
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Independent shuffle-partition override: partition count is THE
    // per-task memory knob at scale (hash-agg/join state per partition
    // shrinks as partitions grow) — the constrained-memory sweep uses
    // this to measure how much spill the standard knob recovers.
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = GraftExtensions.session(s"local[$cpus]", parts.toInt)

    def clearState(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      Tables.resetRegistration() // dirs alternate per query
    }

    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // (min-of-3 seconds, all boolean self-check columns true)
    def run(name: String, dir: String): (Double, Boolean) = {
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // codegen warm
      val best = (1 to 3).map(_ => once()).min
      val df = SparkEntry.queries(name)(spark, dir)
      // self-check columns follow the `*_ok` naming convention; a bare
      // boolean is DATA (dd_canonical's is_kept is false for every
      // non-survivor row) and must not be conjoined into the check
      val boolCols = df.schema.fields
        .filter(f => f.dataType == BooleanType && f.name.endsWith("_ok"))
        .map(_.name)
      val ok = if (boolCols.isEmpty) true else {
        import org.apache.spark.sql.functions.{min => smin, col}
        df.agg(smin(boolCols.map(col).reduce(_ && _)).as("ok"))
          .collect()(0).getBoolean(0)
      }
      (best, ok)
    }

    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm

    names.foreach { name =>
      try {
        val (tA, okA) = run(name, dirA); clearState()
        val (tB, okB) = run(name, dirB); clearState()
        println(s"""{"query":"$name","small_sec":${r3(tA)},"big_sec":${r3(tB)},""" +
          s""""ratio":${r3(tB / math.max(tA, 1e-9))},"checks_small":$okA,"checks_big":$okB}""")
      } catch { case e: Throwable =>
        clearState()
        val msg = graft.GraftConf.jsonSafeMsg(e, 160)
        println(s"""{"query":"$name","error":"$msg"}""")
      }
    }
    spark.stop()
  }
}
