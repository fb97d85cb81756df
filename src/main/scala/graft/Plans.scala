package graft

import java.nio.file.{Files, Paths}

/** Physical-plan audit: dumps `explain("formatted")` for a set of
  * plan-shape-critical queries so scan pushdown, broadcast selection,
  * and exchange counts are reviewable evidence (PLANS.md).
  *
  * Usage: sbt "runMain graft.Plans [sfDir] [outFile]"
  */
object Plans {
  val audited: Seq[String] = Seq(
    "a1_groupby_agg",      // filter+projection pushdown to parquet
    "p1_select_cast_filter", // PushedFilters with range predicates
    "j1_join_groupby",     // broadcast joins for dims
    "j6_star_join",        // 6-table star: dim broadcasts + pushed date filter
    "w6_funnel",           // per-step partial aggs, user-keyed joins
    "o2_topk",             // TakeOrderedAndProject, no global sort
    "w1_window_dedup",     // single exchange for the window
    "pipe_mart",           // the full chain: exchange reuse
    "ann_bruteforce_topk", // broadcast + codegen'd FloatVecDot
    "dd_ngram_jaccard",    // inverted-index self-join shape
    "dd_embedding_lsh",    // banded candidates: equi-joins only, no BNLJ
    "dd_minhash_lsh",      // slim band exchange (no shingle arrays)
    "ann_ivf_search",      // centroid broadcast + cell equi-join probe
    "ann_two_stage",       // int8 candidate scan + rescore-only-candidates joins
    "tx_decontaminate",    // benchmark shingles broadcast, no corpus shuffle
    "k6_catalog_partitions", // partition-recovered catalog scan
    "mm_embed_neardup",    // encoder materialized once; singleton-bucket LSH
    "dq_referential",      // key-distinct parents, AQE-picked join sides
    "w7_retention",        // user-keyed partial aggs, cohort-grain join
    "dd_canonical",        // cluster window on top of CC labels
    "dd_incremental_neardup", // batch postings × full index, broadcast hot-set anti-join
    "j7_range_join",       // bucket-decomposed interval join: equi exchange, no BNLJ
    "p13_exists_subquery", // EXISTS/NOT EXISTS rewritten to semi/anti joins
    "k7_merge_upsert",     // MERGE as one full-outer key join
    "ts_gapfill",          // spine generated at the bounds row, no driver loop
    "fz_edit_pairs",       // q-gram inverted index + count bound, lev on candidates only
    "a9_cube",             // all 2^k grouping sets via one Expand, single scan
    "k9_dpp",              // dynamicpruning subquery in the fact scan's PartitionFilters
    "s7_schema_evolution", // merged-schema scan over heterogeneous file batches
    "k11_bucketed_join",   // bucketed SMJ: zero join-side exchanges
    "j9_salted_join",      // hot-key fan-out: salted exchange keys
    "dq_drift",            // broadcast stats row + generated spine, one corpus scan
    "o3b_topn_heap",       // custom TopKPerGroupExec: two heap stages, one exchange, NO sort
    "gr_pagerank",         // iterative: per-level caches, contribution join + agg per round
    "gr_triangles",        // degree-ordered wedge join: equi-joins only, O(m^1.5) bound
    "dd_chunk_dedup",      // chunk digests in the scan projection: exchange carries no text
    "j10_interval_overlap", // interval x interval via first-shared-bucket equi-join, no BNLJ
    "ts_concurrency",      // two-level prefix sum: day-partitioned windows + tiny offset join
    "w12_seq_pattern",     // nested LOCF struct carry: one exchange, two window passes, no self-join
    "dd_bloom_incremental", // bloom literal probe map-side, exact anti-join on survivors only
    "k15_incremental_agg", // delta-agg + full-outer merge: history never rescanned
    "p15_lateral_topn",    // decorrelated lateral: window shape, no nested loop
    "j11_spatial_join",    // radius join as a grid-cell equi-join: 3x3 probe, no cross join
    "w14_pattern_quantifier", // islands + island adjacency: every hop hashes on user_id
    "ts_interpolate",      // both-side neighbor struct carry: one partitioning, no range join
    "dq_profile",          // all per-column stats in ONE scan (multi-distinct = one Expand)
    "sql_recursive_cte",   // frontier loop over a cached key frame, lineage truncated every 4 rounds
    "sql_recursive_cte_native", // WITH RECURSIVE: engine-iterated frontier joins, no driver loop
    "s3_paged_source",     // DataSourceV2 paged landing scan: one InputPartition per page
    "a11_tdigest_rollup",  // per-shard digest agg, union agg over sketch bytes only
    "j12_point_in_polygon", // broadcast cell+edge dims, cross-product verify as agg
    "k17_parquet_bloom",   // point-lookup scan over the bloom-written layout
    "fz_damerau_pairs",    // q-gram candidates (q+1 bound) + native DL verify on candidates only
    "fz_jaro_winkler",     // first-char blocking equi-join, codegen'd JW on block pairs
    "k18_hilbert_layout",  // chained integer projections, range exchange on the address
    "tx_bottomk_sample",   // partial bottom-k heaps: shuffle carries k rows per group
    "j14_nearest_asof",    // union + ONE sort: two frames, no self-join, no range explosion
    "sk_pareto_front",     // level aggregate + running max, window over distinct levels only
    "ts_m4_downsample",    // single hash aggregate: min/max/min_by/max_by in one pass
    "dd_embedding_clusters_lsh", // LSH-edge CC: label assembly over checkpointed loop state, paired-node broadcast
    "gr_components_star",  // star-contraction CC: converged star edges + broadcast singleton anti-join
    "dd_repeated_spans",   // exact-substring dedup: O(n) WindowHashes pass 1, string verify on candidates only
    "dd_embedding_lsh_vskew", // planted hot cluster: capped bucket join, broadcast-fused verify, zero hot-hot
    "ann_pca_topk",        // PCA 16-dim stage-1 scan + full-width rescore on candidates only
    "tx_quality_quantile_gate", // 5-row per-lang threshold broadcast back over the corpus
    "tx_topk_tokens_heap", // TopKPerGroupExec over (lang, term) counts: heap stages, no sort
    "w10_distinct_window_hicard", // exact running distinct: indicator + running sum, O(1) window state
    "a10_metadata_audit",  // two single-pass audits (raw + mart) unioned; map-side-combined aggs
    "tx_url_canonicalize", // codegen'd regex/array chain in the scan projection; one window on url_canon
    "tx_embed_decontaminate", // corpus scan x broadcast fixed benchmark; corpus never shuffles pre-agg
    "ann_pq_topk",         // PQ: sample-trained codebooks, 16-byte ADC code scan, heap top-k, candK rescore
    "ann_ivf_pq",          // IVF-PQ composed: cell-equi candidate join (never all-pairs), native ADC, candK rescore
    "ann_ivf_pq_append",   // frozen-index delta ingest: assign+encode the delta only, union, same search shape
    "ann_ivf_pq_filtered", // metadata pre-filter rides the coded-index scan; inverse-selectivity probe mass
    "tx_cluster_sample",   // sample-trained cells + ONE corpus assign; heap top-quota per cell, no per-cell sort
    "dq_anomaly")          // 5-row stats broadcast back over the corpus; no full-table window

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftExtensions.session("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by `graft.Plans`)\n\n")
    sb.append("Evidence that the plan shapes hold what the scaladocs claim: ")
    sb.append("filters/projections reach the parquet scans, dims broadcast, ")
    sb.append("top-k avoids global sorts, the custom expressions stay inside ")
    sb.append("whole-stage codegen.\n")
    audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      // giant literals (e.g. a bloom filter's binary constant) would
      // dump megabytes of hex into the audit — elide them
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        .replaceAll("0x[0-9A-Fa-f]{256,}", "0x<ELIDED-BINARY-LITERAL>")
      sb.append(if (plan.length <= 100000) plan
        else plan.take(100000) + s"\n… [truncated ${plan.length - 100000} chars]\n")
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
