package graft

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR; a full-detail JSON line followed by a compact
  * final JSON line (the driver's stdout tail keeps ~2000 chars, so the
  * LAST line must be small enough to fit that window whole).
  *
  * Methodology: each query runs FOUR times — an untimed warm run
  * (Janino codegen compilation of the query's stages dominates first
  * execution and would mis-attribute ~1-3s per query), then THREE timed
  * steady-state runs of which the MINIMUM is reported (a single timed
  * run is exposed to host-level noise: an identical binary measured 45
  * minutes apart showed 0.8s vs 4.1s on the same sink query purely
  * from co-tenant I/O pressure; min-of-2 absorbs one bad draw but not a
  * sustained load window — BENCH_r08 recorded five phantom 2-9×
  * regressions on unchanged code that an isolated re-run reproduced
  * none of, hence the third draw).
  * Materialized fully via a noop-format write (count() would let
  * Catalyst prune computed columns). Queries run in sorted name order
  * for stable attribution.
  */
object Bench {
  /** The final line's queries. The bench runner keeps only the last
    * ~2000 chars of stdout; a 115-query map blows past that window and
    * truncates the JSON mid-line (the exact failure in BENCH_r02/r03:
    * "parsed": null), so the FINAL line carries these alone, at 3
    * decimals, sized to always fit inside the tail window.
    */
  private[graft] val headline = Seq(
    "pipe_mart", "pipe_curate", "j6_star_join", "j5_asof_join",
    "k1_partitioned_sink", "s1_ndjson_roundtrip", "a1_pivot",
    "w4_sessionize", "er_golden_records", "fz_edit_pairs",
    "dd_minhash_lsh", "dd_ngram_jaccard", "dd_simhash", "dd_clusters",
    "dd_embedding_lsh", "ann_lsh_topk", "ann_two_stage", "tx_tfidf",
    "tx_lm_gate", "scd2_intervals", "t1_tumbling_hourly",
    "tx_bpe_train", "gr_triangles", "dd_chunk_dedup", "dd_bloom_incremental",
    "j11_spatial_join", "a11_tdigest_rollup", "sql_recursive_cte",
    "dq_profile", "ml_feature_hash", "dd_repeated_spans", "ann_pca_topk",
    "ann_pq_topk", "ann_ivf_pq", "ann_ivf_pq_append",
    // r14 additions (additions only — never remove/rename): the
    // paths this round optimized, so future rounds get per-query
    // tracking of them. Line-size check: 43 entries ≈ 1.3 KB, inside
    // the runner's ~2000-char stdout tail window (`BenchSpec`).
    "st_join_parity", "st_join_skew_parity", "st_restart_agg_parity",
    "st_sessionize_parity", "gr_pagerank", "gr_components_star",
    "gr_bfs", "a11_tdigest_weighted")

  /** The two stdout lines of a run: the full per-query detail (for
    * humans reading the run log), then the compact summary the bench
    * runner parses. `results` holds each timed query's min-of-3 seconds in
    * run order, `failed` the queries that threw.
    */
  private[graft] def lines(results: Seq[(String, Double)], failed: Seq[String],
                           sfDir: String): Seq[String] = {
    val total = results.map(_._2).sum
    val byName = results.toMap
    Seq(
      Json.line(Seq("metric" -> "total_detail", "value" -> total, "unit" -> "sec",
        "queries" -> Json.obj(results), "failed" -> java.util.List.of(failed: _*),
        "sf" -> sfDir)),
      Json.line(Seq("metric" -> "total", "value" -> Json.seconds(total), "unit" -> "sec",
        "n_queries" -> results.size, "n_failed" -> failed.size,
        "queries" -> Json.obj(headline.flatMap(n => byName.get(n).map(v => n -> Json.seconds(v)))),
        "sf" -> sfDir)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Same session wiring as Verify: the bench must measure the SAME
    // engine the correctness gate checks (k20_approx_rewrite requires
    // the injected optimizer rules and fails loudly without them).
    val spark = GraftExtensions.session(s"local[$cpus]", cpus.toInt)

    def materialize(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    // untimed warmup: JVM + shuffle machinery
    spark.range(1000000).selectExpr("sum(id)").collect()

    // Iterative operators (LSH banding, connected components, k-means)
    // materialize localCheckpoint/cache blocks that outlive the query;
    // across 205 queries × 3 runs the accumulated blocks GC-pressure
    // later queries (measured: dd_embedding_clusters_lsh 37.7 s inside
    // a full bench vs 14.2 s isolated, same session config). Dropping
    // all persisted state between queries restores per-query isolation.
    // SPARK_GRAFT_BENCH_WARM=1 keeps persisted state across queries —
    // the pre-r6 methodology. The driver-run default stays isolated
    // (honest per-query attribution); the warm total is recorded in
    // BENCHNOTES.md alongside it so cross-round deltas that straddle
    // the r6 methodology change have a same-methodology comparator.
    val warmMode = sys.env.get("SPARK_GRAFT_BENCH_WARM").contains("1")
    def clearState(): Unit = if (!warmMode) {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
    }

    // A throwing query must NOT contribute a time — r5 recorded 81
    // times-to-throw as "speedups". Failures are collected, reported
    // in both JSON lines, and force a nonzero exit code.
    val failures = scala.collection.mutable.SortedMap[String, String]()
    // watchdog: a hung query stalls the whole (sequential) bench, so
    // each query's three runs share a job-group that a timer cancels
    // past the per-query budget — the query then throws into the
    // failure path below instead of wedging the round
    val watchdog = new java.util.Timer("bench-watchdog", true)
    // 14 min: sized for FOUR executions per query (warm + 3 timed) so a
    // ~3-min query that fit min-of-2's budget isn't cancelled mid-run
    val budgetMs = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERY_BUDGET_MIN", "14").toLong * 60000L
    val results = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      spark.sparkContext.setJobGroup(s"bench-$name", name, interruptOnCancel = true)
      val kill = new java.util.TimerTask {
        def run(): Unit = {
          System.err.println(s"[bench] $name exceeded ${budgetMs / 60000} min — cancelling")
          spark.sparkContext.cancelJobGroup(s"bench-$name")
        }
      }
      watchdog.schedule(kill, budgetMs)
      try {
        materialize(name, sfDir) // codegen warm; a genuinely broken query throws here
        val secs = (1 to 3).map(_ => Timer.timed(materialize(name, sfDir))._2)
        Some(name -> secs.min)
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures(name) = msg
        System.err.println(s"[bench] $name FAILED: $msg")
        None
      } finally {
        kill.cancel()
        spark.sparkContext.clearJobGroup()
        clearState()
      }
    }
    lines(results, failures.keys.toSeq, sfDir).foreach(println)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[bench] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
