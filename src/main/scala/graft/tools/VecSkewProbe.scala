package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** Embedding-skew tier measurement (companion to [[StressGen]]'s
  * `vskew` mode): one tight cluster holds ~5% of the corpus at
  * pairwise cosine ≈ 0.999, which is OUTPUT-VOLUME skew — every
  * hot-hot pair is a true near-dup, so a correct miner either pays
  * the ~(0.05·n)²/2 pair bill or the bucket-cap quantile drops the
  * hot buckets and it doesn't. This probe reports which happened and
  * whether the part of the answer that must NOT degrade — recall on
  * the uncapped remainder, i.e. the normal near-dup population among
  * the other 95% — held:
  *
  *   - `remainder_recall`: sampled exact-twin recall of
  *     [[SimilarityOps.embeddingLshPairsAuto]] restricted to pairs
  *     with NEITHER side hot (the driver-hashed dd_embedding_lsh
  *     check, minus the planted cluster) — must stay ≥ 0.9;
  *   - `hot_pair_coverage`: emitted hot-hot pairs over the exact
  *     hot-hot pair count nHot·(nHot−1)/2 (every such pair is true by
  *     construction). 1.0 means the cap admitted the cluster and the
  *     miner paid the full (correct) quadratic bill; ~0 means the
  *     0.999-quantile cap classified the cluster's buckets as
  *     pathological and bounded the work — either is a defensible
  *     operating point, the number makes the trade visible;
  *   - `topk_remainder_recall`: [[SimilarityOps.lshTopKAuto]] top-10
  *     recall vs brute force over sampled NON-hot queries against the
  *     non-hot corpus (a hot query's true top-k is trivially its own
  *     cluster; the remainder is where cap-induced loss would show);
  *   - wall seconds for the pair mine, so the skew run can sit next
  *     to the uniform 10× ScaleBench row in BENCHNOTES.
  *
  * The hot rule is recomputed here exactly as StressGen plants it
  * (`pmod(xxhash64(vec_id, 'vdup'), 1000) >= 950`) — the probe needs
  * no side-channel file.
  *
  * An optional second arg sets the miner's similarity threshold
  * (default 0.45, the dd_embedding_lsh operating point). The 20M tier
  * runs at 0.8 — the production NEAR-DUP threshold the uniform decade
  * sweep (LshDecadeProbe) also pins — because the measured n^(1+ρ)
  * law with ρ(0.45) ≈ 0.62 prices a 0.45 mine at 20M in days, while
  * the contracts this probe tests (the cap bounds hot-bucket work;
  * remainder recall holds) are threshold-independent: both planted
  * populations sit at cosine ≈ 0.999, far above either threshold.
  *
  * Usage: sbt "runMain graft.tools.VecSkewProbe /tmp/stress/sf1vskew [minSim]"
  */
object VecSkewProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/stress/sf1vskew"
    val minSim = if (args.length > 1) args(1).toDouble else 0.45
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the 20M tier needs FINER shuffle partitions than cores: the
    // band-bucket aggregation's per-task hash map scales with rows per
    // partition, and 32 concurrent ~240 MB maps exhaust the execution
    // pool faster than cooperative spilling can rebalance it
    // (measured: UNABLE_TO_ACQUIRE at map creation, 20M × 8 bands on
    // 32 partitions under a 24 g heap). Same env knob as the decade
    // probes.
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = graft.GraftExtensions.session(s"local[$cpus]", parts.toInt)

    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val isHot = pmod(xxhash64(col("vec_id"), lit("vdup")), lit(1000L)) >= 950
    val n = emb.count()
    val nHot = emb.filter(isHot).count()
    val hotTruePairs = nHot * (nHot - 1) / 2

    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // pair mine over the FULL corpus (hot cluster included), default
    // auto geometry + default 0.999 bucket-cap quantile — exactly the
    // dd_embedding_lsh operating point
    val t0 = System.nanoTime()
    val lsh = SimilarityOps.embeddingLshPairsAuto(emb,
        "vec_id", "embedding", dim = 64, bands = 0, minSim = minSim)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val nLshPairs = lsh.count()
    val mineSec = (System.nanoTime() - t0) / 1e9

    val hotA = pmod(xxhash64(col("id_a"), lit("vdup")), lit(1000L)) >= 950
    val hotB = pmod(xxhash64(col("id_b"), lit("vdup")), lit(1000L)) >= 950
    val nHotHot = lsh.filter(hotA && hotB).count()
    val hotCoverage = if (hotTruePairs == 0) 1.0 else nHotHot.toDouble / hotTruePairs

    // remainder recall: sampled exact twin with NEITHER side hot (the
    // st dd_embedding_lsh pin, minus the planted cluster)
    val cold = emb.filter(!isHot)
    val k = SimilarityOps.sampleModulus(n, 512)
    val sample = cold.filter(col("vec_id") % k === 0)
    val exact = SimilarityOps.cosinePairsFor(sample, cold,
        "vec_id", "embedding", minSim = minSim)
      .select(col("id_a"), col("id_b"))
    val pinned = exact.count()
    val hits = exact.join(lsh, Seq("id_a", "id_b")).count()
    val remainderRecall = if (pinned == 0) 1.0 else hits.toDouble / pinned

    // top-k remainder recall: lshTopKAuto over the FULL corpus (the
    // production call never gets to pre-filter the cluster away), but
    // judged on non-hot queries against their non-hot brute-force
    // top-10. The LSH side runs at k=25 and is then filtered to cold
    // neighbors: a hot vector that LEGITIMATELY outranks a cold one in
    // the full-corpus ordering must not read as recall loss, and the
    // 15-rank slack absorbs the ≤ a-few hot crowd-ins a cold query can
    // see (cold-vs-hot cosines sit in the isotropic noise band).
    val qHot = pmod(xxhash64(col("query_id"), lit("vdup")), lit(1000L)) >= 950
    val nHotN = pmod(xxhash64(col("neighbor_id"), lit("vdup")), lit(1000L)) >= 950
    val topk = SimilarityOps.lshTopKAuto(emb, "vec_id", "embedding",
        dim = 64, bands = 0, k = 25)
      .filter(!qHot && !nHotN)
      .filter(col("query_id") % k === 0)
      .select(col("query_id"), col("neighbor_id"))
    val brute = SimilarityOps.bruteForceTopK(sample, cold,
        "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val bruteN = brute.count()
    val topkHits = brute.join(topk, Seq("query_id", "neighbor_id")).count()
    val topkRecall = if (bruteN == 0) 1.0 else topkHits.toDouble / bruteN

    println(s"""{"probe":"vec_skew","dir":"$dir","n":$n,"min_sim":$minSim,"n_hot":$nHot,""" +
      s""""mine_sec":${r3(mineSec)},"lsh_pairs":$nLshPairs,""" +
      s""""hot_true_pairs":$hotTruePairs,"hot_pair_coverage":${r3(hotCoverage)},""" +
      s""""remainder_pinned":$pinned,"remainder_recall":${r3(remainderRecall)},""" +
      s""""topk_pinned":$bruteN,"topk_remainder_recall":${r3(topkRecall)}}""")
    spark.stop()
  }
}
