package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{DedupOps, QualityOps, RelationalOps}

/** End-to-end training-data curation: the composition the scale
  * operators exist for. One declarative flow over a `documents`-shaped
  * corpus (doc_id, text, lang, source):
  *
  *   1. text analysis — token counts, quality score, language ID
  *   2. gates — length/quality, repetition (dup-token + top-bigram
  *      boilerplate filters), and optional benchmark decontamination
  *   3. exact dedup — one survivor per content digest
  *   4. near-dup clustering — MinHash-LSH candidates, exact-Jaccard
  *      verified, connected components, keep cluster minimum
  *   5. domain-mixture downsampling (per-source content-hash rates)
  *      and a deterministic train/test split on a content-hash bucket
  *
  * Shuffle inventory at 100 TB: step 1 and the length/quality gate are
  * scan-local; the repetition gate shuffles (doc, bigram) partials;
  * decontamination broadcasts the benchmark shingle set; step 3 is
  * one digest-keyed hash aggregate; step 4 shuffles candidate pairs
  * only (banded LSH, never O(n²)); step 5 is scan-local. Every keep/
  * drop decision is content-deterministic, so incremental re-runs
  * converge.
  */
object CurationPipeline {

  case class Config(
      minTokens: Long = 10,
      minQuality: Double = 0.05,
      maxDupTokenFrac: Double = 0.95,
      maxTopBigramFrac: Double = 0.5,
      decontamNgram: Int = 8,
      nearDupSim: Double = 0.5,
      shingleSize: Int = 3,
      lshBands: Int = 8,
      lshRowsPerBand: Int = 4,
      mixtureRates16: Map[String, Int] = Map.empty, // source → keep k of 16
      trainFraction16: Int = 12) // of 16 hash buckets → train

  /** Annotate + gate + dedup + sample + split. Returns the curated
    * corpus with lineage columns (quality, cluster, split) retained
    * for audit. `benchmark` (doc_id, text) enables the held-out-set
    * decontamination gate.
    */
  def curate(docs: DataFrame, cfg: Config = Config(),
             benchmark: Option[DataFrame] = None): DataFrame = {
    // 1. analysis columns (scan-local, codegen'd). TextFunctions'
    // token metrics assume single-space-normalized text (split on one
    // space); real-world newlines/double spaces would otherwise gate
    // docs on garbage token counts — so METRICS run on a whitespace-
    // collapsed view, while the fingerprint (dedup identity) and the
    // emitted text stay byte-exact.
    val normText = regexp_replace(trim(col("text")), "\\s+", " ")
    val annotated = docs
      .withColumn("__norm_text", normText)
      .withColumn("n_tokens", TextFunctions.tokenCount(col("__norm_text")))
      .withColumn("quality", TextFunctions.qualityScore(col("__norm_text")))
      .withColumn("pred_lang", TextFunctions.langIdHeuristic(col("__norm_text")))
      .withColumn("fingerprint", md5(col("text").cast("binary")))

    // 2. gates: length/quality (scan-local), repetition (per-doc
    // bigram partials), optional benchmark decontamination
    val gated0 = annotated.filter(
      col("n_tokens") >= cfg.minTokens && col("quality") >= cfg.minQuality)
    val repetitionKeep = QualityOps.repetitionMetrics(gated0, "doc_id", "__norm_text",
        cfg.maxDupTokenFrac, cfg.maxTopBigramFrac)
      .filter(col("keep")).select("doc_id")
    val gated1 = gated0.join(repetitionKeep, "doc_id")
    val gated = benchmark.fold(gated1) { b =>
      gated1.join(
        QualityOps.contaminationScan(gated1, b, "doc_id", "text", cfg.decontamNgram)
          .filter(!col("contaminated")).select("doc_id"), "doc_id")
    }

    // 3. exact dedup: smallest doc_id per digest survives
    val exactKeep = gated.groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
    val exact = gated.join(exactKeep, Seq("fingerprint", "doc_id"))

    // 4. near-dup clusters over the exact-deduped corpus
    val pairs = DedupOps.minHashLshPairs(exact, "doc_id", "text",
      cfg.shingleSize, cfg.lshBands, cfg.lshRowsPerBand, cfg.nearDupSim)
    val clusters = RelationalOps.connectedComponents(
      exact.select("doc_id"), "doc_id", pairs, "id_a", "id_b")
    // cluster_size rides along so audit() can report REAL clustering
    // numbers — on the canonical frame alone every row is its own
    // cluster minimum and countDistinct(cluster_id) == count(*)
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    val canonical = exact.join(clusters, "doc_id")
      .filter(col("doc_id") === col("cluster_id"))
      .join(sizes, "cluster_id")

    // 5. per-source mixture downsampling (content-hash deterministic;
    // unlisted sources keep everything), then the split
    val sampled =
      if (cfg.mixtureRates16.isEmpty) canonical
      else {
        val thr = cfg.mixtureRates16.foldLeft(lit(QualityOps.nibbleChar(16))) {
          case (acc, (src, k)) =>
            when(col("source") === src, lit(QualityOps.nibbleChar(k))).otherwise(acc)
        }
        // the digest already exists — compare its first nibble instead
        // of re-running a full-text MD5 on the scan path
        canonical.filter(substring(col("fingerprint"), 1, 1) < thr)
      }
    // split on the SECOND digest nibble: the mixture filter consumed
    // the first, and keying both on the same nibble would hand every
    // downsampled source's survivors entirely to train (a source kept
    // at k/16 retains only nibbles < k, all inside the train range) —
    // md5 nibbles are independent, so nibble 2 restores the unbiased
    // trainFraction16/16 split within every source
    sampled.withColumn("split",
      when(substring(col("fingerprint"), 2, 1).isin(
        (0 until cfg.trainFraction16).map(java.lang.Integer.toHexString): _*),
        lit("train")).otherwise(lit("test")))
      .select("doc_id", "text", "lang", "source", "n_tokens", "quality",
        "pred_lang", "fingerprint", "cluster_id", "cluster_size", "split")
  }

  /** Write the curated corpus partitioned by split (train/test dirs —
    * the layout a training job consumes).
    */
  def write(curated: DataFrame, path: String): Unit =
    // per-WRITE option, not a session conf mutation: setting the conf
    // would silently flip every later overwrite in the session to
    // dynamic mode (stale partitions surviving a full-table replace)
    curated.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("split").parquet(path)

  /** Corpus-level audit: one row of counts a curation run reports.
    * Cluster metrics come from the carried `cluster_size` (every
    * curated row is its own cluster's canonical doc, so a naive
    * countDistinct(cluster_id) would vacuously equal n_docs).
    */
  def audit(curated: DataFrame): DataFrame =
    curated.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("split") === "train", 1)).as("n_train"),
      count(when(col("split") === "test", 1)).as("n_test"),
      count(when(col("cluster_size") > 1, 1)).as("n_neardup_clusters"),
      coalesce(sum(col("cluster_size") - 1), lit(0L)).as("n_neardup_removed"),
      round(avg("quality"), 4).as("mean_quality"))

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftExtensions.session("local[8]", 8)
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val out = java.nio.file.Files.createTempDirectory("curated").toString
    val curated = curate(docs)
    write(curated, out)
    println("CURATED=" + spark.read.parquet(out).count())
    audit(curated).show()
    spark.stop()
  }
}
