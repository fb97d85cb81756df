package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** Embedding near-dup mining at its DESIGN threshold across the
  * decade tiers. The driver-hashed rows and the 10×/100× ScaleBench
  * numbers pin `dd_embedding_lsh` at τ = 0.45 — a deliberately WEAK
  * threshold chosen because the small synthetic corpus has no pairs
  * above it; its cost law n^(1+ρ) with ρ(0.45) ≈ 0.62 makes the
  * 1000× tier prohibitive there, and that frontier is documented,
  * not hidden. But the threshold a production curation pipeline
  * actually mines is NEAR-DUP (τ ≈ 0.8+, jittered copies / templated
  * boilerplate), where p(τ) ≥ 0.79 keeps the recall-holding band
  * count small and the exponent mild. This probe measures exactly
  * that operating point — [[SimilarityOps.embeddingLshPairsAuto]]
  * with the shipped auto geometry at τ = 0.8 — on the stress tiers
  * (whose generator plants ~1.5% jittered partners at cos ≈ 0.99),
  * with recall pinned against the O(n·s) sampled exact twin:
  *
  *   {"probe":"lsh_decade","n":…,"pairs":…,"mine_sec":…,
  *    "pinned":…,"recall":…,"recall_ok":…}
  *
  * Run at /tmp/stress/sf1, sf10, sf100 → the near-dup path's
  * 10×/100×/1000× cost curve sits next to the τ=0.45 law in
  * BENCHNOTES, showing the SAME operator is third-decade-feasible at
  * the threshold it ships for.
  *
  * Usage: sbt "runMain graft.tools.LshDecadeProbe /tmp/stress/sf100"
  */
object LshDecadeProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/stress/sf1"
    val minSim = if (args.length > 1) args(1).toDouble else 0.8
    // optional broadcast-verify bound (bytes) — the documented sizing
    // knob in action: at n = 2M the vector payload's ~540 MB estimate
    // exceeds the conservative 256 MiB default (which protects a
    // standard executor), routing verification to the dedup-first
    // shuffle shape whose candidate exchange is scratch-bound
    // (measured: disk-full at 13G candidates). A 24 g box CAN hold
    // the ~2 GB broadcast, and the fused branch streams those same
    // candidates without materializing them — so the operator's
    // own conf, raised to match the hardware, is what makes the
    // third decade feasible.
    val bound = if (args.length > 2) Some(args(2).toLong) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = graft.GraftExtensions.session(s"local[$cpus]", parts.toInt)
    bound.foreach(b =>
      spark.conf.set("spark.graft.lsh.broadcastVerifyBound", b.toString))
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()

    val t0 = System.nanoTime()
    val lsh = SimilarityOps.embeddingLshPairsAuto(emb,
        "vec_id", "embedding", dim = 64, bands = 0, minSim = minSim)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val nPairs = lsh.count()
    val mineSec = (System.nanoTime() - t0) / 1e9

    // recall vs the sampled exact twin: pairs incident to a fixed
    // ~512-id modulus sample, O(n·s) — the dd_embedding_lsh pin
    val k = SimilarityOps.sampleModulus(n, 512)
    val exact = SimilarityOps.cosinePairsFor(
        emb.filter(col("vec_id") % k === 0), emb,
        "vec_id", "embedding", minSim = minSim)
      .select(col("id_a"), col("id_b"))
    val pinned = exact.count()
    val hits = exact.join(lsh, Seq("id_a", "id_b")).count()
    val recall = if (pinned == 0) 1.0 else hits.toDouble / pinned

    println(s"""{"probe":"lsh_decade","dir":"$dir","n":$n,"tau":$minSim,""" +
      s""""pairs":$nPairs,"mine_sec":${r3(mineSec)},"pinned":$pinned,""" +
      s""""recall":${r3(recall)},"recall_ok":${recall >= 0.9}}""")
    spark.stop()
  }
}
