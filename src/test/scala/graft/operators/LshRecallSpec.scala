package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Recall guarantees for the bucketed (scale-path) similarity plans
  * against their exact twins, on data with PLANTED structure — the
  * synthetic sf tables have no pairs above the near-dup threshold, so
  * recall there is vacuous. Geometry is controlled here: jittered
  * copies sit at cos ≈ 0.99, unrelated random 64-dim vectors at
  * cos ≈ 0 ± 0.13.
  */
class LshRecallSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private val rnd = new scala.util.Random(42)

  private def randVec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)

  private def jitter(v: Array[Float], eps: Double): Array[Float] =
    v.map(x => (x + eps * rnd.nextGaussian()).toFloat)

  /** 150 independent vectors + 40 near-dup copies (ids 1000+i of i). */
  private lazy val planted: DataFrame = {
    val base = (0 until 150).map(i => (i.toLong, randVec()))
    val dups = base.take(40).map { case (i, v) => (1000L + i, jitter(v, 0.12)) }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("embeddingLshPairs: subset of exact pairs (precision 1.0), recall >= 0.9") {
    val exact = pairSet(SimilarityOps.cosinePairs(planted, "vec_id", "embedding", 0.8))
    assert(exact.size >= 35, s"planted data must contain near-dups, got ${exact.size}")
    val lsh = pairSet(SimilarityOps.embeddingLshPairs(planted, "vec_id", "embedding",
      dim, bands = 12, bitsPerBand = 5, minSim = 0.8))
    assert(lsh.subsetOf(exact), "exact verification must keep precision at 1.0")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("embeddingLshPairs: bucket cap drops a degenerate hot bucket without killing recall") {
    // a pile of near-identical vectors all land in the same buckets in
    // every band; with the cap at 50 the pile is skipped, planted pairs
    // elsewhere still surface through uncapped buckets
    val pile = (0 until 120).map(i => (5000L + i, jitter(planted.head().getSeq[Float](1).toArray, 0.01)))
    val withPile = planted.union(pile.toDF("vec_id", "embedding"))
    val capped = SimilarityOps.embeddingLshPairs(withPile, "vec_id", "embedding",
      dim, bands = 12, bitsPerBand = 5, minSim = 0.8, maxBucket = Some(50))
    val pairs = pairSet(capped)
    val pileIds = pile.map(_._1).toSet
    val nonPile = pairs.filterNot { case (a, b) => pileIds(a) || pileIds(b) }
    assert(nonPile.nonEmpty, "capping the hot bucket must not erase unrelated near-dups")
  }

  test("embeddingLshPairs: broadcast-verify and shuffle-verify branches are bit-identical") {
    // the r11 scale fix branches on plan stats ≤ the broadcast-verify
    // bound: small corpora take the fused broadcast shape, corpora
    // above it the dedup-first shuffle shape (the 100 TB fallback).
    // Ordinary runs only ever exercise ONE branch per corpus size, so
    // without this pin the fallback could silently diverge. Force the
    // large-side branch by conf'ing the bound down to 1 byte and
    // assert (id_a, id_b, cos) equality with the broadcast branch —
    // the cos column included: verification arithmetic (per-band
    // re-dot vs dedup-first single dot) must agree exactly, not just
    // on the surviving pair ids.
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    def mine() = SimilarityOps.embeddingLshPairs(planted, "vec_id", "embedding",
      dim, bands = 12, bitsPerBand = 5, minSim = 0.8)
    val viaBroadcast = mine()
    val conf = "spark.graft.lsh.broadcastVerifyBound"
    val viaShuffle = try {
      spark.conf.set(conf, "1")
      mine()
    } finally spark.conf.unset(conf)
    // the conf genuinely selected a different logical shape (dedup
    // position moves across the verify joins)…
    assert(viaBroadcast.queryExecution.optimizedPlan.toString !=
      viaShuffle.queryExecution.optimizedPlan.toString,
      "bound conf did not change the verify branch")
    // …and both shapes emit the same verified pairs with the same cos
    assert(rows(viaShuffle) == rows(viaBroadcast))
  }

  /** 10 tight clusters of 40 vectors each around well-separated centers. */
  private lazy val clustered: DataFrame = {
    val centers = (0 until 10).map(_ => randVec().map(_ * 5f))
    val rows = for {
      c <- 0 until 10
      i <- 0 until 40
    } yield (c * 100L + i, jitter(centers(c), 0.3), c)
    rows.toDF("vec_id", "embedding", "label")
  }

  test("ivfSearch: recall >= 0.9 vs brute force on clustered corpus") {
    val queries = clustered.filter($"vec_id" % 100 === 0) // one per cluster
    val exact = SimilarityOps.bruteForceTopK(queries, clustered, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityOps.ivfSearch(queries, clustered, "vec_id", "embedding", "label",
      nprobe = 2, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivf intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall")
  }

  test("ivfSearch: each query returns exactly k ranked rows") {
    val queries = clustered.filter($"vec_id" === 0L)
    val out = SimilarityOps.ivfSearch(queries, clustered, "vec_id", "embedding", "label",
      nprobe = 2, k = 5).collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("trainIvf: centroid affinity does not degrade with more Lloyd iterations") {
    def meanCos(iters: Int): Double =
      SimilarityOps.trainIvf(clustered, "vec_id", "embedding", k = 10, iters = iters)
        .agg(avg(col("cos"))).head().getDouble(0)
    val one = meanCos(1)
    val four = meanCos(4)
    assert(four >= one - 1e-9, s"distortion ascent: iter1=$one iter4=$four")
    // hash init can merge planted clusters (k cells for k clusters, no
    // restarts) — 0.85 is the floor Lloyd's always clears on this geometry
    assert(four > 0.85, s"tight clusters must be near their centroids, got $four")
  }

  test("quantizeInt8 roundtrip: reconstruction error bounded by half a quantization step") {
    val scale = 16.0 // ±127/16 ≈ ±7.9 — clamp never binds on N(0,1) data
    val out = planted.select(
      array_max(zip_with(
        SimilarityOps.dequantizeInt8(SimilarityOps.quantizeInt8(col("embedding"), scale), scale),
        col("embedding"),
        (deq, orig) => abs(deq - orig.cast("double")))).as("err"),
      array_max(SimilarityOps.quantizeInt8(col("embedding"), scale)).as("qmax"),
      array_min(SimilarityOps.quantizeInt8(col("embedding"), scale)).as("qmin"))
    val rows = out.collect()
    assert(rows.forall(_.getDouble(0) <= 0.5 / scale + 1e-6), "error exceeds half-step")
    assert(rows.forall(r => r.getLong(1) <= 127 && r.getLong(2) >= -127), "clamp violated")
  }

  test("twoStageTopK: degenerates to exact brute force when candK covers the corpus") {
    val queries = planted.filter(col("vec_id") < 5)
    def key(df: DataFrame) = df
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    val exact = key(SimilarityOps.bruteForceTopK(queries, planted, "vec_id", "embedding", k = 5))
    val two = key(SimilarityOps.twoStageTopK(queries, planted, "vec_id", "embedding",
      scale = 64.0, candK = 1000, k = 5).drop("qdot"))
    assert(two == exact, "uncapped candidate stage must reproduce brute force exactly")
  }

  test("twoStageTopK: int8 candidates at candK=20 keep top-1 recall >= 0.95") {
    val queries = planted.filter(col("vec_id") < 40) // each has a planted near-dup
    def top1(df: DataFrame) = df.filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val exact = top1(SimilarityOps.bruteForceTopK(queries, planted, "vec_id", "embedding", k = 1))
    val two = top1(SimilarityOps.twoStageTopK(queries, planted, "vec_id", "embedding",
      scale = 64.0, candK = 20, k = 1))
    val hits = exact.count { case (q, n) => two.get(q).contains(n) }
    assert(hits >= (exact.size * 0.95).floor.toInt,
      s"top-1 recall ${hits.toDouble / exact.size} after int8 candidate stage")
  }

  test("lshTopK: banded candidates recover brute-force top-1 for clustered data") {
    val top1 = SimilarityOps.lshTopK(clustered, "vec_id", "embedding",
      dim, bands = 6, bitsPerBand = 10, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val exact1 = SimilarityOps.bruteForceTopK(clustered, clustered, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = exact1.count { case (q, n) => top1.get(q).contains(n) }
    val recall = hits.toDouble / exact1.size
    assert(recall >= 0.9, s"top-1 recall $recall")
  }

  test("lshTopK corpus recall: shipped auto geometry holds ≥0.9 on real embeddings") {
    // pins the SHIPPED operating point of ann_lsh_topk (lshTopKAuto:
    // recall-derived table count via autoBands(n, 0.5), radius-1
    // multiprobe, bits = log₂(n/32)) against silent geometry drift —
    // the exact path the checked query runs
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = SimilarityOps.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = SimilarityOps.lshTopKAuto(emb, "vec_id", "embedding",
        dim = 64, bands = 0, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"corpus recall $recall")
  }

  test("autoBitsPerBand grows buckets with the corpus") {
    assert(SimilarityOps.autoBitsPerBand(200) == 5)   // floor binds at small n
    assert(SimilarityOps.autoBitsPerBand(2000) == 6)  // 2000/32 → 2^6 buckets
    assert(SimilarityOps.autoBitsPerBand(200000) == 13)
    assert(SimilarityOps.autoBitsPerBand(2000000000L) == 24) // ceiling binds
  }

  test("autoBands grows tables as bits grow, holding recall at the threshold") {
    // the r10 ScaleBench finding: bits 6→9 (n 2000→20000) dropped the
    // τ=0.45 recall of a FIXED 12 bands from ~0.99 to ~0.78; the band
    // count must grow with bits to hold the s-curve target
    val b2k = SimilarityOps.autoBands(2000, 0.45)
    val b20k = SimilarityOps.autoBands(20000, 0.45)
    assert(b2k >= 8 && b2k <= 16, s"sf0.1 operating point moved: $b2k")
    assert(b20k > b2k && b20k <= 48, s"10x operating point: $b20k")
    // near-dup thresholds stay cheap at large n (mild exponent)
    assert(SimilarityOps.autoBands(20000000L, 0.9) <= 24)
    // weak thresholds saturate the cap instead of exploding
    assert(SimilarityOps.autoBands(20000000L, 0.45) == 96)
  }

  test("autoBitsForNoise sizes bands against the noise floor, not random collisions") {
    // noiseSim = 0 (isotropic corpus): exactly the autoBitsPerBand formula
    assert(SimilarityOps.autoBitsForNoise(2000, 0.0) ==
      SimilarityOps.autoBitsPerBand(2000))
    assert(SimilarityOps.autoBitsForNoise(200000, 0.0) ==
      SimilarityOps.autoBitsPerBand(200000))
    // a cos≈0.62 noise floor (p/bit ≈ 0.713) needs log2(1/p) ≈ 0.49 —
    // about 2× the bits of the isotropic formula at the same n
    val b5k = SimilarityOps.autoBitsForNoise(5000, 0.62)
    val b50k = SimilarityOps.autoBitsForNoise(50000, 0.62)
    assert(b5k >= 14 && b5k <= 17, s"5k-doc dense operating point: $b5k")
    assert(b50k >= 21 && b50k <= 24, s"50k-doc dense operating point: $b50k")
    // recall at the τ=0.9 verify threshold (p/bit ≈ 0.856) at the
    // wider bands needs no more tables than the old fixed-24 geometry
    // — while each band is ~2^10 times more noise-selective
    assert(SimilarityOps.autoBandsForBits(b50k, 0.9) <= 24)
  }

  test("quantile bucket cap: candidates survive n >> buckets (the 100x recall-collapse guard)") {
    // 1590 vectors forced into 5-bit bands: E[bucket] ≈ 50 per table —
    // the regime where an absolute cap starts discarding typical
    // (not just degenerate) buckets and recall decays toward 0 as n
    // grows. The quantile default must keep the planted near-dups.
    val big = (0 until 1400).map(i => (10000L + i, randVec()))
    val corpus = planted.union(big.toDF("vec_id", "embedding"))
    val exact = pairSet(SimilarityOps.cosinePairs(corpus, "vec_id", "embedding", 0.8))
    val quantileCap = pairSet(SimilarityOps.embeddingLshPairs(corpus, "vec_id", "embedding",
      dim, bands = 12, bitsPerBand = 5, minSim = 0.8))
    assert(quantileCap.nonEmpty, "quantile cap must keep candidates when buckets are full")
    val recall = quantileCap.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall under quantile cap $recall (${quantileCap.size}/${exact.size})")
  }

  test("auto geometry at n=2000 (6-bit bands) keeps pair recall >= 0.9 on planted dups") {
    // the sf0.1 operating point: autoBitsPerBand(2000) = 6 — wider
    // bands than the 5-bit floor the other specs exercise. Recall must
    // survive the bucket growth (this is the spec version of the
    // `ScaleBench recall` measurement: 0.92 top-k / 0.99 pair at sf0.1).
    val big = (0 until 1810).map(i => (20000L + i, randVec()))
    val corpus = planted.union(big.toDF("vec_id", "embedding")) // 150+40+1810 = 2000
    val exact = pairSet(SimilarityOps.cosinePairs(corpus, "vec_id", "embedding", 0.8))
    assert(exact.size >= 35)
    val lsh = pairSet(SimilarityOps.embeddingLshPairsAuto(
      corpus, "vec_id", "embedding", dim, bands = 12, minSim = 0.8))
    assert(lsh.subsetOf(exact), "exact verification keeps precision 1.0")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall at 6-bit bands $recall (${lsh.size}/${exact.size})")
  }

  test("dd_embedding_clusters_lsh agrees with the exact-pairs clusters on planted dups") {
    // the first-class LSH-edge clusters plan must reproduce the exact
    // twin's partition of the planted near-dup graph
    import graft.operators.RelationalOps.connectedComponents
    val nodes = planted.select(col("vec_id"))
    def clusters(pairs: DataFrame): Map[Long, Long] =
      connectedComponents(nodes, "vec_id", pairs, "id_a", "id_b")
        .select(col("vec_id"), col("cluster_id").cast("long"))
        .as[(Long, Long)].collect().toMap
    val exact = clusters(SimilarityOps.cosinePairs(planted, "vec_id", "embedding", 0.8))
    val lsh = clusters(SimilarityOps.embeddingLshPairsAuto(
      planted, "vec_id", "embedding", dim, bands = 12, minSim = 0.8))
    val agree = exact.count { case (id, c) => lsh.get(id).contains(c) }
    assert(agree.toDouble / exact.size >= 0.95,
      s"cluster agreement ${agree.toDouble / exact.size}")
  }
}
