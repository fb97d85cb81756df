package graft

import graft.operators.SimilarityOps

/** Measure ANN/near-dup recall of the shipped LSH geometry against
  * the brute-force twin on a real sf directory — the per-round
  * check that the corpus-size-derived band width keeps recall as the
  * driver's testdata grows.
  *
  * Usage: sbt "runMain graft.RecallCheck [sfDir]"
  */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    import spark.implicits._

    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val bits = SimilarityOps.autoBitsPerBand(n)

    val exactTopK = SimilarityOps.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshK = SimilarityOps.lshTopKAuto(emb, "vec_id", "embedding", dim = 64, bands = 8, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val topkRecall = (lshK & exactTopK).size.toDouble / exactTopK.size

    val exactPairs = SimilarityOps.cosinePairs(emb, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lshPairs = SimilarityOps.embeddingLshPairsAuto(
        emb, "vec_id", "embedding", dim = 64, bands = 12, minSim = 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pairRecall =
      if (exactPairs.isEmpty) 1.0
      else (lshPairs & exactPairs).size.toDouble / exactPairs.size

    println(s"""{"n":$n,"bits":$bits,"topk_recall":$topkRecall,"pair_recall":$pairRecall,"exact_pairs":${exactPairs.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
