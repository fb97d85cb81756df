package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** Product-quantization search across the decade tiers — the
  * compression scale path's cost/recall law. The driver-hashed row
  * (`ann_pq_topk`) pins recall at the oracle-gate scale; this probe
  * measures the SAME operators (512-sample codebook training, full
  * corpus encode, ADC scan + exact rescore) at 20k / 200k / 2M
  * vectors, with recall against the O(n·s) brute-force twin on a
  * fixed 64-query modulus sample, at two candK tiers:
  *
  *   - candK=100: the fixed-rescore production setting — cost per
  *     query is O(n) scan of 16-byte codes + 100 full-precision dots;
  *   - candK=1000: the recall-headroom setting, showing how much of
  *     any recall gap is candidate-selection (recoverable by candK)
  *     vs codebook quality.
  *
  * One JSON line per (tier, candK):
  *   {"probe":"pq_decade","n":…,"candk":…,"train_sec":…,
  *    "encode_sec":…,"search_sec":…,"twin_sec":…,"recall":…}
  *
  * Usage: sbt "runMain graft.tools.PqDecadeProbe /tmp/stress/sf10"
  */
object PqDecadeProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/stress/sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = graft.GraftExtensions.session(s"local[$cpus]", parts.toInt)
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val (dim, m, ksub) = (64, 16, 32)
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val sample = emb.filter(
      col("vec_id") % SimilarityOps.sampleModulus(n, 64) === 0)

    // train on a FIXED 512-vector sample — O(sample) at any corpus
    val t0 = System.nanoTime()
    val codebook = SimilarityOps.trainPq(
      emb.filter(col("vec_id") % SimilarityOps.sampleModulus(n, 512) === 0),
      "vec_id", "embedding", dim, m, ksub, iters = 2).cache()
    codebook.count()
    val trainSec = (System.nanoTime() - t0) / 1e9

    // encode the full corpus once (the index-build cost at this tier)
    val t1 = System.nanoTime()
    val codes = SimilarityOps.pqEncode(emb, "vec_id", "embedding", dim, m, codebook)
      .localCheckpoint()
    val nCodes = codes.count()
    val encodeSec = (System.nanoTime() - t1) / 1e9
    require(nCodes == n, s"encode dropped rows: $nCodes of $n")

    // exact twin once (recall denominator for both candK tiers)
    val t2 = System.nanoTime()
    val exact = SimilarityOps.bruteForceTopK(sample, emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val nExact = exact.count()
    val twinSec = (System.nanoTime() - t2) / 1e9

    for (candK <- Seq(100, 1000)) {
      val t3 = System.nanoTime()
      val pq = SimilarityOps.pqTopKEncoded(sample, emb, "vec_id", "embedding",
          dim, m, ksub, codebook, codes, candK = candK, k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        .localCheckpoint()
      pq.count()
      val searchSec = (System.nanoTime() - t3) / 1e9
      val hits = exact.join(pq, Seq("query_id", "neighbor_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0)))).collect()(0).getLong(0)
      println(s"""{"probe":"pq_decade","dir":"$dir","n":$n,"candk":$candK,""" +
        s""""train_sec":${r3(trainSec)},"encode_sec":${r3(encodeSec)},""" +
        s""""search_sec":${r3(searchSec)},"twin_sec":${r3(twinSec)},""" +
        s""""n_exact":$nExact,"recall":${r3(hits.toDouble / nExact)}}""")
    }

    // the composed index: IVF cells on top of the same PQ levers
    // (index built inside the call — its build time reported
    // separately from search is the pqTopKEncoded split's job; here
    // the one number pins the composed END-TO-END at each decade, and
    // the recall column shows probe-mass × ADC-quality factoring)
    val t4 = System.nanoTime()
    val ivfpq = SimilarityOps.ivfPqTopK(sample, emb, "vec_id", "embedding",
        dim, m, ksub, nCells = 8, nprobe = 4, candK = 1000, k = 5,
        trainSample = Some(emb.filter(
          col("vec_id") % SimilarityOps.sampleModulus(n, 512) === 0)))
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      .localCheckpoint()
    ivfpq.count()
    val ivfSec = (System.nanoTime() - t4) / 1e9
    val ivfHits = exact.join(ivfpq, Seq("query_id", "neighbor_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0)))).collect()(0).getLong(0)
    println(s"""{"probe":"ivfpq_decade","dir":"$dir","n":$n,"nprobe":4,""" +
      s""""cells":8,"candk":1000,"end_to_end_sec":${r3(ivfSec)},""" +
      s""""n_exact":$nExact,"recall":${r3(ivfHits.toDouble / nExact)}}""")
    spark.stop()
  }
}
