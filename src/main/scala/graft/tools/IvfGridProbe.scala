package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** (nCells, nprobe) geometry grid for the IVF-PQ index — the
  * production-shape measurement the toy gate geometry (8 cells,
  * nprobe 4 = half the corpus probed) deliberately avoided. FAISS
  * convention puts nCells ≈ 4√n (balancing the per-query centroid
  * ranking, O(nCells), against the probed-cell scan,
  * O(nprobe·n/nCells)); this probe measures recall and cost across
  * that axis so the gate row's geometry is a measured knee, not a
  * convention taken on faith — on a near-isotropic corpus the probe
  * mass needed for a given recall is the open question.
  *
  * Per nCells tier: ONE index build (timed — the n·nCells assign pass
  * is the build's scale axis), then an nprobe sweep over the stored
  * index via [[SimilarityOps.ivfPqSearch]] (timed per point, recall
  * vs the brute-force twin). The coarse train sample scales with the
  * cell count (≥32 training vectors per centroid, the k-means
  * points-per-cluster floor) — a fixed 512-vector sample cannot place
  * 4√n centroids.
  *
  * One JSON line per (nCells, nprobe):
  *   {"probe":"ivf_grid","n":…,"cells":…,"nprobe":…,"scan_frac":…,
  *    "build_sec":…,"search_sec":…,"recall":…}
  *
  * Usage: sbt "runMain graft.tools.IvfGridProbe /tmp/stress/sf10 [cells…]"
  */
object IvfGridProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/stress/sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = graft.GraftExtensions.session(s"local[$cpus]", parts.toInt)
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val (dim, m, ksub) = (64, 16, 32)
    // repartition to the core count: the stress sets are written in a
    // handful of files and every map-only pass (assign, encode)
    // inherits scan splits — a 50 MB table is 2 splits, serializing
    // the flop wall onto 2 of 32 cores. A cluster scan of the real
    // corpus is thousands of splits; the probe measures the loop, not
    // the file count.
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .repartition(cpus.toInt).localCheckpoint()
    val n = emb.count()
    val queries = emb.filter(
      col("vec_id") % SimilarityOps.sampleModulus(n, 64) === 0)
    // the gate row's candK law
    val candK = math.max(100, math.min(n / 10,
      20L * math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

    val exact = SimilarityOps.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val nExact = exact.count()

    val root4 = (4 * math.ceil(math.sqrt(n.toDouble))).toInt
    val cellTiers: Seq[Int] =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(8, 64, 256, 1024, root4).distinct.filter(_ <= n / 8)

    for (nCells <- cellTiers) {
      val trainTarget = math.max(512, 32 * nCells)
      val trainSample = emb.filter(
        col("vec_id") % SimilarityOps.sampleModulus(n, trainTarget) === 0)
      val t0 = System.nanoTime()
      val (cents, codebook, codes0) = SimilarityOps.buildIvfPq(
        emb, "vec_id", "embedding", dim, m, ksub, nCells, Some(trainSample))
      val codebookCk = codebook.localCheckpoint()
      val codes = codes0.localCheckpoint()
      val nCoded = codes.count()
      val buildSec = (System.nanoTime() - t0) / 1e9
      require(nCoded == n, s"index build dropped rows: $nCoded of $n")

      // the power-of-2 sweep plus the half-mass point the gate row
      // actually runs (nCells/2 is rarely a power of 2); at expensive
      // tiers SPARK_GRAFT_GRID_NPROBES="64,2830" trims the sweep to
      // the points worth a multi-minute search each
      val sweep = sys.env.get("SPARK_GRAFT_GRID_NPROBES")
        .map(_.split(",").map(_.trim.toInt).toSeq)
        .getOrElse(Seq(1, 2, 4, 8, 16, 32, 64, 128) :+ math.max(1, nCells / 2))
      for (nprobe <- sweep.distinct.sorted
           if nprobe <= math.max(1, nCells / 2)) {
        val t1 = System.nanoTime()
        val got = SimilarityOps.ivfPqSearch(queries, emb, "vec_id", "embedding",
            dim, m, ksub, cents, codebookCk, codes, nprobe, candK, k = 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
          .localCheckpoint()
        got.count()
        val searchSec = (System.nanoTime() - t1) / 1e9
        val hits = exact.join(got, Seq("query_id", "neighbor_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0)))).collect()(0).getLong(0)
        println(s"""{"probe":"ivf_grid","dir":"$dir","n":$n,"cells":$nCells,""" +
          s""""nprobe":$nprobe,"scan_frac":${r3(nprobe.toDouble / nCells)},""" +
          s""""candk":$candK,"build_sec":${r3(buildSec)},""" +
          s""""search_sec":${r3(searchSec)},"n_exact":$nExact,""" +
          s""""recall":${r3(hits.toDouble / nExact)}}""")
      }
    }
    spark.stop()
  }
}
