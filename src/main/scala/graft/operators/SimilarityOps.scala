package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.GraftFunctions.{vecDot, vecNorm}
import graft.functions.DetRound.r4

/** Vector-similarity operators over an `array<float>` embedding column.
  *
  * Dot products run through the native codegen'd
  * [[org.apache.spark.sql.graftx.FloatVecDot]] expression — a
  * sequential double-precision fold in index order, bit-identical to
  * DuckDB's `list_reduce` fold, so brute-force cosine stays
  * oracle-checkable while the pair-join hot path stays inside
  * whole-stage codegen. Norms are computed ONCE per vector before any
  * pair join (never per pair).
  *
  * Scale design: brute-force is the correctness baseline (O(n·q));
  * the production path pre-partitions by a coarse quantizer — either
  * random-hyperplane LSH buckets (`rhpSignature`) or IVF centroids
  * (`ivfAssign`) — so each query probes a small fraction of vectors.
  */
object SimilarityOps {

  def dot(a: Column, b: Column): Column = vecDot(a, b)

  def l2Norm(a: Column): Column = vecNorm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Double-precision fold dot product over two numeric arrays,
    * shared by every centroid/PCA scoring path so a numeric change
    * lands in ONE place. Formerly the HOF `aggregate(zip_with(·))`
    * fold — interpreted per element, which made IVF assignment at
    * production geometry (cells ~4√n → an n × 4√n × dim loop) hours
    * instead of minutes at the 2M decade — now the native codegen'd
    * [[org.apache.spark.sql.graftx.NumVecDot]], BIT-IDENTICAL to that
    * fold (double accumulation in index order; NumVecDotSpec pins the
    * equivalence element-for-element, so every oracle hash riding on
    * dotD arithmetic is preserved). Float and double arrays mix
    * freely, as before.
    */
  private def dotD(a: Column, b: Column): Column =
    org.apache.spark.sql.graftx.GraftFunctions.numVecDot(a, b)

  /** id + vector + precomputed norm — the shape every pair op joins on.
    * ZERO-NORM vectors are excluded: cosine is undefined for them, and
    * IEEE 0/0 = NaN, which Spark orders ABOVE every double — one
    * all-zero vector (empty doc, failed encode) would otherwise rank
    * as every query's top-1 "neighbor" and pass every `cos >= minSim`
    * filter, silently corrupting near-dup pairs and clusters.
    */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
                       id: String, vec: String, nrm: String): DataFrame =
    df.select(col(idCol).as(id), col(vecCol).as(vec),
      vecNorm(col(vecCol)).as(nrm))
      .filter(col(nrm) > 0)

  /** Brute-force top-k cosine neighbors for each query vector: small
    * query side broadcast, norms precomputed per side, per-query
    * TakeOrdered via window row_number.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
    // no parallelism floor: the fixed-size query sample keeps per-row
    // scan work light (sampleModulus), so the extra exchange costs
    // more than the 1-task scan saves (measured +5–15% on the
    // twin-bearing gate rows at sf0.1)
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), r4(col("cos")).as("cos"))
  }

  /** Embedding-level benchmark decontamination: per corpus vector, the
    * max cosine against ANY benchmark vector, flagged at `minSim` —
    * the semantic sibling of n-gram decontamination
    * ([[graft.operators.QualityOps]] contaminationScan): paraphrased
    * test-set leakage that shares no n-grams still collides in
    * embedding space. A benchmark is small by nature (a test set), so
    * it BROADCASTS and the scan is one corpus pass, O(n·|B|), no
    * corpus shuffle beyond the final per-id aggregate — at 100 TB the
    * corpus never moves, only the k-row benchmark does.
    */
  def embeddingDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, minSim: Double): DataFrame = {
    // no parallelism floor: |B| is benchmark-sized (small), so the
    // per-row scan work is light — measured +25% from the extra
    // exchange at sf0.1
    val c = withNorm(corpus, idCol, vecCol, "__cid", "cv", "cn")
    val b = withNorm(benchmark, idCol, vecCol, "__bid", "bv", "bn")
    val scored = c.crossJoin(broadcast(b))
      .withColumn("cos", vecDot(col("cv"), col("bv")) / (col("cn") * col("bn")))
      .groupBy(col("__cid"))
      .agg(max(col("cos")).as("__max_cos"))
    // total over the corpus: an empty benchmark (or a zero-norm corpus
    // vector, excluded from the cosine scan) still yields a row — null
    // max_cos, contaminated=false — instead of silently vanishing into
    // a downstream inner join
    corpus.select(col(idCol)).distinct()
      .join(scored.withColumnRenamed("__cid", idCol), Seq(idCol), "left")
      .select(col(idCol), r4(col("__max_cos")).as("max_cos"),
        coalesce(col("__max_cos") >= minSim, lit(false)).as("contaminated"))
  }

  /** All pairs with cosine ≥ minSim (embedding near-dup detection),
    * exact O(n²/2) — the correctness baseline the LSH path is judged
    * against.
    */
  def cosinePairs(vectors: DataFrame, idCol: String, vecCol: String,
                  minSim: Double): DataFrame = {
    // parallelism floor on the STREAMED side: the O(n²/2) pair scan
    // multiplies each input row n/2× — r13 measured the whole scan on
    // one task when the corpus is a single parquet row group
    // (RelationalOps.parallelismFloor; identity at scale)
    val a = withNorm(graft.operators.RelationalOps.parallelismFloor(
      vectors, col(idCol)), idCol, vecCol, "id_a", "va", "na")
    val b = withNorm(vectors, idCol, vecCol, "id_b", "vb", "nb")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", vecDot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= minSim)
      .select(col("id_a"), col("id_b"), r4(col("cos")).as("cos"))
  }

  /** Modulus k such that `id % k == 0` keeps ≈ `target` of `n`
    * densely-numbered ids — the deterministic thinning every
    * brute-force RECALL TWIN samples its query side with. A
    * proportional sample (id % 4) makes a twin O(n²/c): at 100× data
    * it does 10,000× the work. A FIXED-size sample keeps verification
    * at O(n·s) — the twin's cost grows only linearly with the corpus,
    * while the recall estimate stays unbiased (the thinning is
    * uncorrelated with embedding geometry).
    */
  def sampleModulus(n: Long, target: Int): Long = math.max(1L, n / target)

  /** Exact cosine pairs INCIDENT TO a query sample: every unordered
    * pair {q, c} with cos ≥ minSim and q drawn from `queries` ⊆
    * corpus. O(|queries| · n) — the sample-capped exact twin the LSH
    * pair paths pin recall against (full [[cosinePairs]] is O(n²) and
    * reserved for small-n oracle baselines). Pairs with BOTH ends
    * sampled arrive twice with identical (least, greatest, cos) and
    * dedupe exactly.
    */
  def cosinePairsFor(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, minSim: Double): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "id_q", "vq", "nq")
    // no parallelism floor: the query side is a fixed-size sample
    // (see bruteForceTopK — measured neutral-to-negative at sf0.1)
    val c = withNorm(corpus, idCol, vecCol, "id_c", "vc", "nc")
    c.join(broadcast(q), col("id_q") =!= col("id_c"))
      .withColumn("cos", vecDot(col("vq"), col("vc")) / (col("nq") * col("nc")))
      .filter(col("cos") >= minSim)
      .select(least(col("id_q"), col("id_c")).as("id_a"),
        greatest(col("id_q"), col("id_c")).as("id_b"),
        r4(col("cos")).as("cos"))
      .distinct()
  }

  /** Random-hyperplane LSH signature: sign bits of `nBits` fixed
    * pseudo-random hyperplanes. Hyperplane components are deterministic
    * hash-derived values in [-1,1] — reproducible across runs/engines
    * with the same construction.
    */
  def rhpSignature(vec: Column, dim: Int, nBits: Int,
                   planeOffset: Int = 0): Column =
    org.apache.spark.sql.graftx.GraftFunctions.rhpSignature(vec, dim, nBits, planeOffset)

  /** Banded RHP signatures: `bands` independent `bitsPerBand`-bit LSH
    * hash tables over disjoint hyperplane stretches. Bands pack into
    * native signature longs (⌊64/bits⌋ bands per word; several words
    * when `bands × bitsPerBand > 64`, each word a disjoint
    * `planeOffset` stretch of the same global plane sequence). Output
    * rows are `(id, band, band_val)` — 20 bytes each, NO vector
    * payload: band exchange volume is O(bands × 20 B/row) regardless
    * of `dim`.
    */
  private def bandedRhp(ids: DataFrame, idCol: String, vecCol: String,
                        dim: Int, bands: Int, bitsPerBand: Int): DataFrame = {
    require(bitsPerBand >= 1 && bitsPerBand < 64, "band width must fit a long")
    val mask = (1L << bitsPerBand) - 1
    val perWord = 64 / bitsPerBand
    val wordSizes = (0 until bands).grouped(perWord).map(_.size).toSeq
    val sigCols = wordSizes.zipWithIndex.map { case (nb, w) =>
      rhpSignature(col(vecCol), dim, nb * bitsPerBand,
        planeOffset = w * perWord * bitsPerBand).as(s"__sig$w")
    }
    val bandArr = array(wordSizes.zipWithIndex.flatMap { case (nb, w) =>
      (0 until nb).map(b =>
        shiftrightunsigned(col(s"__sig$w"), b * bitsPerBand).bitwiseAND(lit(mask)))
    }: _*)
    ids.select(col(idCol).as("id") +: sigCols: _*)
      .select(col("id"), posexplode(bandArr))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_val")
  }

  /** bits/band for a target expected bucket occupancy: buckets must
    * GROW with the corpus (2^bits ≈ n / targetBucket) or E[bucket]
    * grows linearly in n and candidate generation degenerates to
    * worse-than-brute-force — and any absolute bucket cap eventually
    * drops EVERY bucket (recall → 0 at the 100× scale-up). Clamped to
    * [minBits, maxBits]; callers needing high recall at low cosine
    * should raise `bands` as bits rise (per-table collision
    * probability is p^bits).
    */
  def autoBitsPerBand(n: Long, targetBucket: Int = 32,
                      minBits: Int = 5, maxBits: Int = 24): Int =
    math.max(minBits, math.min(maxBits,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket))
        / math.log(2.0)).toInt))

  /** bits/band for a corpus with a similarity NOISE FLOOR — the dense
    * regime [[autoBitsPerBand]] does not model. That formula sizes
    * buckets against RANDOM collisions (orthogonal vectors, per-bit
    * agreement ½); when the bulk of the corpus sits at some
    * `noiseSim > 0` (e.g. feature-hashed byte-gram stubs of documents
    * sharing one vocabulary: unrelated pairs at cosine ≈ 0.6), those
    * pairs collide per band at p(noiseSim)^bits ≫ 2^−bits, and
    * candidates grow ∝ n² however well E[bucket] is controlled —
    * measured: mm_embed_neardup's fixed 24×12 geometry went 15.7× the
    * runtime at 10× the docs. The cure is the same log-ratio with the
    * REAL per-bit collision probability in the base: bits =
    * log(n/targetBucket) / log(1/p(noiseSim)), which keeps
    * noise-pair candidate volume O(n · targetBucket) and reduces to
    * [[autoBitsPerBand]] exactly at noiseSim = 0 (p = ½). Recall at
    * the true-pair threshold is then restored by [[autoBandsForBits]].
    * maxBits is 48 (bands pack into 64-bit signature words).
    */
  def autoBitsForNoise(n: Long, noiseSim: Double, targetBucket: Int = 32,
                       minBits: Int = 5, maxBits: Int = 48): Int = {
    val p = rhpBitProb(noiseSim)
    require(p < 1.0, s"noiseSim $noiseSim leaves no per-bit signal")
    math.max(minBits, math.min(maxBits,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket))
        / math.log(1.0 / p)).toInt))
  }

  /** Drop over-full LSH buckets (skew guard): a bucket with f members
    * yields f² candidate rows, and a degenerate region of the sphere
    * (e.g. near-zero vectors) can capture a large corpus fraction.
    *
    * Two cap modes. `maxBucket` (absolute) is for callers that know
    * their geometry; the DEFAULT is `capQuantile` — drop only buckets
    * above that quantile of the observed bucket-size distribution
    * (never below a floor of 256). A quantile adapts to corpus
    * growth; the old absolute default of 1000 silently dropped EVERY
    * bucket once n/2^bits crossed it — the r5-flagged 100× recall
    * collapse. The quantile runs over the bucket-STATS frame
    * (≤ bands·2^bits rows — microscopic next to the corpus); the
    * build-time action is the same defensible pre-query
    * materialization as the bloom-filter build in DedupOps.
    */
  private def capBuckets(banded: DataFrame, maxBucket: Option[Int],
                         capQuantile: Option[Double]): DataFrame = {
    if (maxBucket.isEmpty && capQuantile.isEmpty) return banded
    val counts = banded.groupBy("band", "band_val").count()
    val cap: Long = maxBucket.map(_.toLong).getOrElse {
      // EXACT quantile over the bucket-stats frame (≤ bands·2^bits
      // rows — microscopic next to the corpus): approxQuantile's
      // result is partitioning-sensitive, and a candidate set that
      // differs across cluster configs would break the repo's
      // determinism contract (and the recall rows the driver hashes)
      val row = counts.agg(expr(s"percentile(count, ${capQuantile.get})")).head()
      if (row.isNullAt(0)) Long.MaxValue else math.max(256L, row.getDouble(0).toLong)
    }
    banded.join(counts.filter(col("count") <= cap).select("band", "band_val"),
      Seq("band", "band_val"))
  }

  /** Radius-1 multiprobe expansion: each row additionally carries the
    * `bitsPerBand` single-bit-flip neighbors of its bucket value in
    * `probe_val`. Collision-within-Hamming-1 is symmetric, so probing
    * from one side of a pair join suffices.
    */
  private def radius1Probes(banded: DataFrame, bitsPerBand: Int): DataFrame =
    banded.select(col("id"), col("band"), col("band_val"),
        explode(array((lit(0L) +:
          (0 until bitsPerBand).map(j => lit(1L << j))): _*)).as("__flip"))
      .withColumn("probe_val", col("band_val").bitwiseXOR(col("__flip")))

  /** Embedding near-duplicate pairs via banded RHP LSH + exact-cosine
    * verification — the FIRST-CLASS plan for near-dup at scale (the
    * all-pairs [[cosinePairs]] stays as its small-n oracle twin, the
    * same division of labor as MinHash-LSH vs exact n-gram Jaccard).
    *
    * Plan shape: equi-joins only (band bucket join, then two hash
    * joins back to the vector table for verification) — NO
    * BroadcastNestedLoopJoin, no cartesian. Cost is O(candidates), and
    * candidates are pairs within Hamming distance 1 on ≥1 of `bands`
    * `bitsPerBand`-bit tables (radius-1 multiprobe — one side of the
    * pair join fans out `bitsPerBand`+1 probe values, the index side
    * stays one bucket per vector per table).
    */
  def embeddingLshPairs(vectors: DataFrame, idCol: String, vecCol: String,
                        dim: Int, bands: Int, bitsPerBand: Int,
                        minSim: Double,
                        maxBucket: Option[Int] = None,
                        capQuantile: Option[Double] = Some(0.999),
                        multiprobe: Boolean = true): DataFrame = {
    val base = withNorm(vectors, idCol, vecCol, "id", "v", "n")
    // localCheckpoint: banded feeds THREE consumers (bucket stats, the
    // probe side, the index side) — materialize the 20 B/row signature
    // table once instead of recomputing the corpus scan per consumer.
    val banded = capBuckets(
      bandedRhp(vectors, idCol, vecCol, dim, bands, bitsPerBand)
        .localCheckpoint(),
      maxBucket, capQuantile)
    val probes =
      if (multiprobe) radius1Probes(banded, bitsPerBand)
      else banded.withColumn("probe_val", col("band_val"))
    val candRaw = probes.as("a")
      .join(banded.hint("SHUFFLE_HASH").as("b"),
        col("a.band") === col("b.band") &&
          col("a.probe_val") === col("b.band_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // Verification order is a SCRATCH-DISK question, not a semantic
    // one. At weak thresholds the auto geometry saturates its band
    // count and candidate volume approaches bands × probes × bucket
    // per vector — at n = 200k / τ = 0.45 that is ~6 G candidate rows,
    // and the old shape (dedup exchange + two shuffle joins to fetch
    // vectors) wrote >80 GB of shuffle and died on a full scratch disk
    // (measured, round-11 100× sweep). When the vector payload fits a
    // broadcast (plan-stats estimate ≤ 256 MB — 200k×64 floats is
    // ~51 MB), verify INLINE instead: two broadcast hash joins + the
    // cosine filter run map-side fused with the bucket join, so the
    // billions of candidates stream through one stage and only
    // τ-survivors (the true output, plus per-extra-band duplicates that
    // distinct() folds) ever hit an exchange. A pair colliding in
    // several bands is dot-producted once per band — idempotent
    // arithmetic traded for not materializing the candidate list.
    // Above the broadcast bound, the shuffle-verify shape remains: at
    // that scale the corpus doesn't broadcast and a real cluster's
    // aggregate scratch is the right place to pay.
    //
    // The bound compares 4× the plan-stats estimate against
    // `spark.graft.lsh.broadcastVerifyBound` (default 256 MiB).
    // sizeInBytes reflects compressed columnar on-disk bytes; the
    // in-memory BroadcastHashedRelation (UnsafeRow rows + hash map +
    // the added norm column) expands that severalfold, so a corpus
    // estimated just under the raw bound could materialize ~1–2 GB
    // per broadcast and OOM a tight driver/executor heap — an
    // availability regression the always-shuffle shape could not hit.
    // The 4× factor keeps the r11 measured case (200k × 64 floats,
    // ~51 MB estimate) on the broadcast path while rejecting
    // estimates that only "fit" before expansion; constrained-heap
    // callers (the 4g `ScaleBench spill` regime) can opt down via the conf,
    // and the branch-parity spec forces the shuffle shape by setting
    // it to 1.
    val bound = graft.GraftConf.sizeConf(vectors.sparkSession,
      "spark.graft.lsh.broadcastVerifyBound", 256L * 1024 * 1024)
    val vecStats = vectors.queryExecution.optimizedPlan.stats.sizeInBytes
    if (vecStats * 4 <= bound) {
      candRaw
        .join(broadcast(base.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na"))), "id_a")
        .join(broadcast(base.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb"))), "id_b")
        .withColumn("cos", vecDot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= minSim)
        .select(col("id_a"), col("id_b"), r4(col("cos")).as("cos"))
        .distinct()
    } else {
      val cand = candRaw.dropDuplicates("id_a", "id_b")
      cand
        .join(base.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")), "id_a")
        .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")), "id_b")
        .withColumn("cos", vecDot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= minSim)
        .select(col("id_a"), col("id_b"), r4(col("cos")).as("cos"))
    }
  }

  /** ANN via banded LSH: candidates agree on ≥1 of `bands` hash
    * tables (multi-table, not single-probe — no recall cliff), buckets
    * are skew-capped, and vectors are joined back only for the
    * candidate pairs. Bucket = shuffle key: the 100 TB path.
    *
    * `multiprobe` (radius-1, on by default): each query additionally
    * visits the `bitsPerBand` single-bit-flip neighbor buckets in
    * every table — per-table hit probability rises from p^b to
    * p^b + b·p^(b-1)(1-p) (a large factor at the mid-cosine
    * similarities where banded RHP is weakest) while the INDEX stays
    * one bucket per (vector, table); only the probe side fans out.
    */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String,
              dim: Int, bands: Int, bitsPerBand: Int, k: Int,
              maxBucket: Option[Int] = None,
              capQuantile: Option[Double] = Some(0.999),
              multiprobe: Boolean = true): DataFrame = {
    val base = withNorm(vectors, idCol, vecCol, "id", "v", "n")
    val banded = capBuckets(
      bandedRhp(vectors, idCol, vecCol, dim, bands, bitsPerBand)
        .localCheckpoint(),
      maxBucket, capQuantile)
    val probes =
      if (multiprobe) radius1Probes(banded, bitsPerBand)
      else banded.withColumn("probe_val", col("band_val"))
    val cand = probes.as("a")
      .join(banded.hint("SHUFFLE_HASH").as("b"),
        col("a.band") === col("b.band") &&
          col("a.probe_val") === col("b.band_val") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand
      .join(base.select(col("id").as("query_id"), col("v").as("qv"), col("n").as("qn")), "query_id")
      .join(base.select(col("id").as("neighbor_id"), col("v").as("cv"), col("n").as("cn")), "neighbor_id")
      .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), r4(col("cos")).as("cos"))
  }

  /** [[lshTopK]] with corpus-size-derived band width: bits/band =
    * log₂(n / targetBucket), so E[bucket] stays ~targetBucket at any
    * corpus size instead of growing linearly with n. The count() is
    * metadata-only for parquet-backed inputs. This is the geometry
    * contract the 100 TB path needs — fixed bits were the r5
    * scale-killer (E[bucket] ∝ n ⇒ candidates ∝ n², then the absolute
    * cap zeroes recall).
    *
    * When `bands <= 0`, the band count comes from [[autoBands]] at
    * `nnSim` — the assumed similarity of the k-th true neighbor. Top-k
    * has no explicit threshold, so recall is governed by where the
    * k-NN cosine typically sits; 0.5 is a conservative default for
    * mid-density corpora (a denser corpus pulls the k-NN similarity
    * UP, which only helps). Without this the fixed band count loses
    * top-k recall exactly like the pairs case as bits grow with n
    * (measured: 8 bands held 0.92 at sf0.1 but failed the 0.9 pin at
    * 10× when bits moved 6 → 9).
    */
  def lshTopKAuto(vectors: DataFrame, idCol: String, vecCol: String,
                  dim: Int, bands: Int, k: Int,
                  targetBucket: Int = 32, nnSim: Double = 0.5): DataFrame = {
    val n = vectors.count()
    val bits = autoBitsPerBand(n, targetBucket)
    val b = if (bands > 0) bands else autoBands(n, nnSim, targetBucket)
    lshTopK(vectors, idCol, vecCol, dim, b, bits, k)
  }

  /** RHP per-bit collision probability for cosine similarity `s`:
    * P[sign agreement under a random hyperplane] = 1 − θ/π.
    */
  private def rhpBitProb(s: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, s))) / math.Pi

  /** Recall-derived band (hash-table) count — the OTHER half of the
    * auto geometry. [[autoBitsPerBand]] keeps E[bucket] flat by
    * GROWING bits with n, but each added bit multiplies the per-band
    * match probability for a τ-similarity pair by p(τ) < 1, so a FIXED
    * band count silently loses recall as the corpus grows (measured:
    * the τ=0.45 pair recall of 12 bands fell 0.99 → ~0.78 when a 10×
    * corpus moved bits from 6 to 9 — the r10 ScaleBench finding).
    * This solves the s-curve for the band count that holds
    * `targetRecall` AT the threshold (pairs above τ recall higher):
    * with radius-1 multiprobe, P_band = p^b + b·p^(b−1)(1−p), and
    * recall over B tables = 1 − (1 − P_band)^B ≥ target.
    *
    * Honest scaling law: holding recall at a FIXED τ costs
    * B ∝ 1/P_band ≈ p(τ)^−bits = (n/targetBucket)^(−log₂ p(τ)) — total
    * candidate work grows as n^(1+ρ), sub-quadratic but real. For
    * near-dup thresholds (τ ≥ 0.8, p ≥ 0.79) the exponent is mild and
    * B stays small at any realistic n; weak thresholds (τ ≈ 0.45)
    * saturate `maxBands` around n ≈ 10⁵·targetBucket, after which
    * recall degrades gracefully below target — callers who need
    * recall there should raise the probe radius or τ. The cap is
    * logged via the return value being == maxBands.
    */
  def autoBands(n: Long, minSim: Double, targetBucket: Int = 32,
                targetRecall: Double = 0.97, maxBands: Int = 96): Int =
    autoBandsForBits(autoBitsPerBand(n, targetBucket), minSim,
      targetRecall, maxBands)

  /** The s-curve solve of [[autoBands]] for an explicit band width —
    * for callers that size bits themselves (e.g. the
    * [[autoBitsForNoise]] dense-corpus geometry).
    */
  def autoBandsForBits(bits: Int, minSim: Double,
                       targetRecall: Double = 0.97, maxBands: Int = 96): Int = {
    val p = rhpBitProb(minSim)
    val pBand = math.pow(p, bits) + bits * math.pow(p, bits - 1) * (1 - p)
    if (pBand >= 0.999) 4
    else {
      val needed = math.log(1.0 - math.min(targetRecall, 0.999)) /
        math.log(1.0 - pBand)
      math.max(4, math.min(maxBands, math.ceil(needed).toInt))
    }
  }

  /** [[embeddingLshPairs]] with corpus-size-derived geometry: bits =
    * log₂(n/targetBucket) (see [[lshTopKAuto]]) and, when `bands <= 0`
    * (the default), the recall-holding band count from [[autoBands]] —
    * pass an explicit positive `bands` only to pin a fixed operating
    * point (specs/benchmarks).
    */
  def embeddingLshPairsAuto(vectors: DataFrame, idCol: String, vecCol: String,
                            dim: Int, bands: Int, minSim: Double,
                            targetBucket: Int = 32): DataFrame = {
    val n = vectors.count()
    val bits = autoBitsPerBand(n, targetBucket)
    val b = if (bands > 0) bands else autoBands(n, minSim, targetBucket)
    embeddingLshPairs(vectors, idCol, vecCol, dim, b, bits, minSim)
  }

  /** Embedding duplicate clusters: near-dup edges → min-label
    * connected components, every vector labeled (singletons label
    * themselves). The DEFAULT edge build is the banded-LSH candidate
    * path ([[embeddingLshPairsAuto]]: equi-joins only, O(candidates))
    * — the plan that survives 100×. `exact = true` switches to the
    * all-pairs O(n²) build and exists ONLY for small-n oracle
    * baselines (`dd_embedding_clusters`); production callers never
    * set it.
    */
  def embeddingClusters(vectors: DataFrame, idCol: String, vecCol: String,
                        dim: Int, minSim: Double, bands: Int = 0,
                        exact: Boolean = false): DataFrame = {
    val pairs =
      if (exact) cosinePairs(vectors, idCol, vecCol, minSim)
      else embeddingLshPairsAuto(vectors, idCol, vecCol, dim, bands, minSim)
    RelationalOps.connectedComponents(
      vectors.select(col(idCol)), idCol, pairs, "id_a", "id_b")
  }

  /** Scalar int8 quantization of an embedding column — 4× smaller
    * storage/shuffle for ANN candidate generation (the standard
    * embedding-compression step of a training-data pipeline). Values
    * round deterministically (the DetRound floor form) and clamp to
    * [-127, 127]; both directions are pure codegen'd expressions and
    * mirror exactly in SQL.
    */
  def quantizeInt8(vec: Column, scale: Double): Column =
    transform(vec, x => greatest(lit(-127L), least(lit(127L),
      floor(x.cast("double") * lit(scale) + lit(0.5) + lit(1.0e-6)).cast("long"))))

  /** Inverse of [[quantizeInt8]] (up to quantization error ≤ 1/(2·scale)). */
  def dequantizeInt8(q: Column, scale: Double): Column =
    transform(q, x => x.cast("double") / lit(scale))

  /** Two-stage retrieval over int8-quantized vectors — the standard
    * compressed-search pattern: (1) candidate generation scans ONLY
    * the quantized corpus (4× less data than float32; int8 products
    * are exact in the double accumulator, so candidate ranking is
    * deterministic), keeping `candK` per query; (2) rescoring joins
    * the candidates — and only the candidates — back to the full-
    * precision vectors for exact cosine top-`k`.
    *
    * Scale shape: queries broadcast in both stages; stage 1 streams
    * the quantized corpus with no shuffle of vectors (per-query top
    * candK via window over a corpus-partitioned scan); stage 2's
    * equi-join touches q·candK rows, negligible against the corpus.
    */
  def twoStageTopK(queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, scale: Double,
                   candK: Int, k: Int): DataFrame = {
    // ONE corpus derivation (id, full vector, norm, quantized vector),
    // cached: the plan below reads the corpus in stage 1 (quantized
    // scan) AND in the rescore join — without sharing a
    // materialization each consumer re-runs the scan + quantize +
    // norm work (the r6 bench measured that recompute as a 10×
    // regression once per-query cache isolation stopped hiding it).
    // cache (lazy) beats localCheckpoint (eager) here: no extra
    // materialization job, the first consumer fills it in-stage.
    // O(corpus) rows of ~5·dim bytes — the same defensible build-step
    // materialization the LSH signature table uses.
    // LIFETIME: the cache entry outlives this call (the returned
    // DataFrame depends on it, so it cannot be unpersisted here).
    // Long-lived sessions issuing many of these should clear the
    // DataFrame cache between searches (as Bench.clearState does) or
    // reuse one search session per corpus — the entry is keyed by
    // plan, so repeated calls with the same corpus hit, not grow.
    val v = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"), vecNorm(col(vecCol)).as("cn"),
        quantizeInt8(col(vecCol), scale).cast("array<float>").as("cq"))
      .cache()
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("zv"), vecNorm(col(vecCol)).as("zn"),
      quantizeInt8(col(vecCol), scale).cast("array<float>").as("qq"))
    val stage1 = v.select(col("neighbor_id"), col("cq"))
      .join(broadcast(qv.select(col("query_id"), col("qq"))),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("qdot", vecDot(col("qq"), col("cq")).cast("long"))
    val wCand = Window.partitionBy("query_id")
      .orderBy(col("qdot").desc, col("neighbor_id").asc)
    val cand = stage1
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= candK)
      .select("query_id", "neighbor_id", "qdot")
    val wFinal = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.join(v.select(col("neighbor_id"), col("cv"), col("cn")), "neighbor_id")
      .join(broadcast(qv.select(col("query_id"), col("zv"), col("zn"))), "query_id")
      .withColumn("cos", vecDot(col("zv"), col("cv")) / (col("zn") * col("cn")))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("qdot"), r4(col("cos")).as("cos"))
  }

  /** IVF build step: per-partition centroids as elementwise means —
    * posexplode → groupBy(cell, dim) avg → re-assemble. Relational and
    * oracle-checkable; at scale this is one shuffle of n·dim scalars.
    */
  def centroids(vectors: DataFrame, cellCol: String, vecCol: String): DataFrame =
    vectors.select(col(cellCol).as("cell"), posexplode(col(vecCol)))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("col").cast("double")).as("mean"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(col("cell"), transform(col("pm"), x => x.getField("mean")).as("centroid"))

  /** IVF assign step: nearest centroid by cosine for each vector —
    * MAP-ONLY via the native [[org.apache.spark.sql.graftx.IvfArgMin]]
    * expression over a DRIVER-BUILT broadcast centroid table. The
    * centroid table is model parameters (k·dim doubles, KB–MB — never
    * corpus rows), so it is collected once, flattened driver-side
    * (cells ascending; norms via the same index-order double fold the
    * relational plan used), and shipped as a Spark Broadcast captured
    * by the expression. Two earlier shapes died by measurement: the
    * join-then-min(struct) aggregation SortAggregated and sorted the
    * n·k scored stream (~300 GB spill at 2M × 5660 cells), and the
    * crossJoin(broadcast(pack)) COLUMN feed paid an O(k·dim) pack
    * memcpy + re-unpack per corpus row (the join's result projection
    * copies every output row; measured 2.3 G madds/s with GC burning
    * ~40% of the wall at the 2M tier). Arithmetic, tie-break, and
    * zero-norm semantics are bit-compatible throughout
    * (IvfAssignParitySpec pins equality against the original
    * join+min formulation).
    */
  def ivfAssign(vectors: DataFrame, idCol: String, vecCol: String,
                cents: DataFrame,
                keepVec: Boolean = false,
                keepCols: Seq[String] = Nil): DataFrame = {
    // keepVec/keepCols thread INPUT columns through the map-only
    // assign (the vector itself, index metadata): downstream builds
    // (trainIvf iteration state, buildIvfPq's fused single-pass
    // encode) then derive everything from the SAME row instead of
    // re-attaching columns with corpus-wide id-equi joins.
    val rows = cents.select(col("cell").cast("int"), col("centroid")).collect()
    if (rows.isEmpty)
      // empty cents → empty output, the old inner join's shape
      return vectors.select(col(idCol).as("id") +:
        lit(0).as("assigned_cell") +: lit(0.0).as("cos") +:
        ((if (keepVec) Seq(col(vecCol).as("v")) else Nil) ++
          keepCols.map(col)): _*).filter(lit(false))
    val sorted = rows.map(r =>
      (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val dim = sorted.head._2.length
    val ids = sorted.map(_._1)
    val cns = sorted.map { case (_, c) =>
      var nn = 0.0; var i = 0
      while (i < c.length) { nn += c(i) * c(i); i += 1 }
      math.sqrt(nn)
    }
    val flat = new Array[Double](sorted.length * dim)
    sorted.zipWithIndex.foreach { case ((_, c), k) =>
      org.apache.spark.sql.graftx.GraftHashOps.checkSameLength(c.length, dim)
      System.arraycopy(c, 0, flat, k * dim, dim)
    }
    val bc = vectors.sparkSession.sparkContext.broadcast(
      new org.apache.spark.sql.graftx.IvfArgMin.Cents(ids, cns, flat, dim))
    vectors.select(col(idCol).as("id") +: col(vecCol).as("__v") +:
        keepCols.map(col): _*)
      // the argmin is null ONLY for a null vector / null element —
      // rows the old inner join dropped. Filtering on m.isNotNull
      // would be pushed below the projection and DUPLICATE the
      // O(nCells·dim) argmin per row (measured 2× the assign wall);
      // this cheap equivalent drops the same rows for O(dim): a null
      // __v makes `exists` null → coalesce(false).
      .filter(coalesce(!exists(col("__v"), x => x.isNull), lit(false)))
      .select(Seq(col("id"), org.apache.spark.sql.graftx.GraftFunctions
        .ivfArgMin(col("__v"), bc).as("m")) ++
        (if (keepVec) Seq(col("__v")) else Nil) ++ keepCols.map(col): _*)
      .select(col("id") +: col("m.cell").as("assigned_cell") +:
        r4(col("m.cos")).as("cos") +:
        ((if (keepVec) Seq(col("__v").as("v")) else Nil) ++
          keepCols.map(col)): _*)
  }

  /** IVF coarse-quantizer TRAINING: Lloyd's k-means over the
    * relational build blocks — deterministic hash init
    * (cell = xxhash64(id) mod k), then `iters` rounds of
    * centroids → re-assign. Returns the final (id, assigned_cell,
    * cos) assignment; feed its cells into [[ivfSearch]] when no
    * natural partitioning column exists.
    *
    * Scale shape per iteration: centroid build is one shuffle of
    * k·dim partial sums (map-side aggregated); re-assignment is a
    * broadcast of k·dim doubles + a per-row argmin — the corpus
    * itself is NEVER shuffled or materialized. The whole iteration
    * state lives in the driver-collected centroid table (model
    * parameters, k·dim doubles): assignment i is a map-only plan over
    * the source, and round i+1's centroid aggregate consumes it
    * directly. The pre-r13 shape cached each round's (id, v, cell)
    * and re-attached the new cells with an id-equi JOIN plus a
    * localCheckpoint — a corpus-wide shuffle and a full
    * materialization per Lloyd round spent carrying a column the
    * map-only plan carries for free (measured: ann_ivf_pq spent its
    * wall on 54 stage-materialization round-trips at sf0.1, and at
    * the decade tiers each round shuffled n rows to move a 4-byte
    * cell id).
    *
    * `keepVec`/`keepCols` thread the vector / metadata columns into
    * the RETURNED assignment so builders ([[buildIvfPq]],
    * [[clusterBalancedSample]]) derive codes/norms/sample-order from
    * the same map-only row instead of re-joining the corpus.
    */
  def trainIvf(vectors: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int,
               onIteration: (Int, DataFrame) => Unit = (_, _) => (),
               keepVec: Boolean = false,
               keepCols: Seq[String] = Nil): DataFrame = {
    require(iters >= 1, "need at least one Lloyd iteration")
    var assigned = vectors
      .select(col(idCol).as("id") +: col(vecCol).as("v") +:
        pmod(xxhash64(col(idCol)), lit(k.toLong)).cast("int").as("cell") +:
        keepCols.map(col): _*)
    var result: DataFrame = null
    for (i <- 1 to iters) {
      val cents = centroids(assigned, "cell", "v")
      // ivfAssign collects cents — ONE job per round (the previous
      // round's map-only assignment replayed inside this round's
      // centroid aggregate); nothing else materializes
      val re = ivfAssign(assigned, "id", "v", cents,
        keepVec = true, keepCols = keepCols)
      result = re
      // observation hook (e.g. per-iteration affinity for descent
      // checks); the default is a no-op
      onIteration(i, re.select(col("id"), col("assigned_cell"), col("cos")))
      if (i < iters)
        assigned = re.select(col("id") +: col("v") +:
          col("assigned_cell").as("cell") +: keepCols.map(col): _*)
    }
    if (keepVec) result
    else result.select(col("id") +: col("assigned_cell") +: col("cos") +:
      keepCols.map(col): _*)
  }

  /** End-to-end IVF probe search: build centroids from a seed cell
    * column, re-assign every corpus vector to its nearest centroid,
    * then for each query probe the `nprobe` nearest cells and run
    * exact top-k cosine over ONLY the vectors in probed cells.
    *
    * Scale shape: centroid scoring is a broadcast of (nCells × dim)
    * doubles — tiny; the candidate step is an EQUI-join on `cell`
    * (queries replicated nprobe×, corpus not replicated at all), so
    * each query scans ~nprobe/nCells of the corpus instead of all of
    * it. Recall comes from probing multiple cells rather than the
    * assignment being perfect.
    */
  def ivfSearch(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, cellCol: String,
                nprobe: Int, k: Int): DataFrame = {
    val cents = centroids(corpus, cellCol, vecCol)
    val assigned = ivfAssign(corpus, idCol, vecCol, cents)
      .select(col("id").as("neighbor_id"), col("assigned_cell").as("cell"))
    val corpusByCell = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
      .join(assigned, "neighbor_id")
    // probe: nprobe nearest centroids per query (centroids broadcast)
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
    val qD = transform(col("qv"), x => x.cast("double"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cell").asc)
    val probed = q.join(broadcast(cents))
      .withColumn("ccos", dotD(qD, col("centroid")) /
        (col("qn") * sqrt(dotD(col("centroid"), col("centroid")))))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    probed.join(corpusByCell, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), r4(col("cos")).as("cos"))
  }

  /** Top-k principal-component basis of an `array<float>` embedding
    * column, via [[org.apache.spark.mllib.linalg.distributed.RowMatrix]]:
    * the d×d covariance Gramian is accumulated per partition and
    * tree-reduced (one O(d²) buffer per partition crosses the wire —
    * never the vectors), then eigen-decomposed on the driver (d is
    * model-sized: 64–4096, so the O(d³) driver step is microseconds).
    * This is the standard embedding-preprocessing step before ANN:
    * project to k ≪ d dims, search in the reduced space, rescore
    * survivors at full precision (same two-stage shape as
    * [[twoStageTopK]]).
    *
    * Returns (basis rows of length d, one per component; explained-
    * variance fraction per component). Deterministic for a fixed
    * input partitioning (LAPACK syevd on an exactly-reduced Gramian).
    */
  def pcaBasis(vectors: DataFrame, vecCol: String, k: Int)
      : (Array[Array[Double]], Array[Double]) = {
    import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = vectors.select(vecCol).rdd.map { r =>
      val s = r.getSeq[Float](0)
      val a = new Array[Double](s.length)
      var i = 0
      while (i < s.length) { a(i) = s(i).toDouble; i += 1 }
      MlVectors.dense(a)
    }
    val (pc, ev) = new RowMatrix(rows)
      .computePrincipalComponentsAndExplainedVariance(k)
    (Array.tabulate(k)(j => Array.tabulate(pc.numRows)(i => pc(i, j))),
      ev.toArray)
  }

  /** Project each vector onto the top-k PCA basis: output keeps the id
    * plus an `array<double>` of k scores. The basis is a broadcast
    * literal (k·d doubles); the projection is k codegen'd zip_with
    * folds per row — no shuffle, no UDF. Variance is shift-invariant,
    * so projections of UNcentered vectors carry the same per-component
    * variance as true (centered) PCA scores — callers that need
    * centered scores subtract the projected mean.
    */
  def pcaProject(vectors: DataFrame, idCol: String, vecCol: String,
                 basis: Array[Array[Double]]): DataFrame = {
    val vD = transform(col(vecCol), x => x.cast("double"))
    val projs = basis.map(b => dotD(vD, typedLit(b.toSeq)))
    vectors.select(col(idCol).as("id"), array(projs: _*).as("proj"))
  }

  /** PCA two-stage top-k: stage 1 ranks candidates by cosine in the
    * reduced PCA space (basis.length dims — a d/k'× cheaper scan than
    * full-width brute force), stage 2 rescores the `candidates`
    * survivors per query at full precision and keeps the true top-k
    * of the candidate set. The same filter-then-rescore shape as
    * [[twoStageTopK]] with dimensionality reduction instead of int8
    * quantization as the cheap stage; compose with LSH/IVF bucketing
    * when the stage-1 scan itself must go sub-linear.
    */
  def pcaTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String,
              basis: Array[Array[Double]],
              candidates: Int, k: Int): DataFrame = {
    val qp = pcaProject(queries, idCol, vecCol, basis)
      .select(col("id").as("query_id"), col("proj").as("qp"))
      .withColumn("qpn", sqrt(dotD(col("qp"), col("qp"))))
    val cpj = pcaProject(corpus, idCol, vecCol, basis)
      .select(col("id").as("neighbor_id"), col("proj").as("cp"))
      .withColumn("cpn", sqrt(dotD(col("cp"), col("cp"))))
    val wCand = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("neighbor_id").asc)
    val cand = cpj.join(broadcast(qp), col("query_id") =!= col("neighbor_id"))
      .withColumn("pcos", dotD(col("qp"), col("cp")) / (col("qpn") * col("cpn")))
      .withColumn("crn", row_number().over(wCand))
      .filter(col("crn") <= candidates)
      .select("query_id", "neighbor_id")
    // stage 2: exact rescore of candidates only, full-width vectors
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.join(broadcast(q), "query_id").join(c, "neighbor_id")
      .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), r4(col("cos")).as("cos"))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the 100 TB vector-COMPRESSION path.
  //
  // int8 quantization (twoStageTopK) compresses 4×; PQ compresses
  // dim·4 bytes → m bytes (64-dim float32 → 8 bytes at m=8: 32×) by
  // splitting each vector into m subvectors and replacing each with
  // the id of its nearest per-subspace k-means centroid (Jégou et al.,
  // "Product Quantization for Nearest Neighbor Search", TPAMI'11).
  // Search never decodes: a query precomputes its dot product against
  // every (subspace, centroid) once — m·ksub doubles, e.g. 128 — and a
  // corpus vector's approximate dot is m MAP LOOKUPS + adds (ADC,
  // asymmetric distance computation). The scan reads codes only; the
  // full-precision vectors are touched for the candK survivors alone.
  //
  // Scale shape: training shuffles n·dim scalars per Lloyd round
  // (map-side-combinable avg, same as trainIvf); encoding is one
  // broadcast (m·ksub·dsub doubles — KB) + per-row argmin; the ADC
  // scan streams the m-byte codes with the per-query tables broadcast
  // WHILE THEY FIT the query-side bound (hash-chunked broadcasts /
  // shuffle-equi fallbacks above it — no smallness assumption is
  // unconditional) and produces candK rows per query through
  // TopKPerGroup (shuffle capped at candK·partitions per query, never
  // n); rescore touches q·candK full vectors. The corpus is never
  // shuffled end to end.
  // ------------------------------------------------------------------

  /** Conf bound for QUERY-side broadcasts in the ANN/PQ serving paths
    * (per-query ADC tables, the probed query fan-out, the rescore
    * query vectors). The r12 lesson — any unconditional smallness
    * assumption dies at some decade — applies verbatim when the query
    * batch is corpus-shaped (decontaminating a full training corpus
    * against the index is the realistic 100 TB case), so every "the
    * query side is small" decision below is gated on measured
    * arithmetic against this bound. Separate from
    * `spark.graft.broadcastDimBound` so forcing the query-side
    * fallback (in a spec or on a cluster) does not also trip the
    * fail-fast corpus-side gates.
    */
  private def queryBroadcastBound(df: DataFrame): Long =
    graft.GraftConf.sizeConf(df.sparkSession,
      "spark.graft.ann.queryBroadcastBound", 256L * 1024 * 1024)

  /** Broadcast a query-derived side only when 2× its closed-form byte
    * estimate fits [[queryBroadcastBound]]; above it, return the frame
    * unhinted so the join plans as a plain shuffle join. Plan stats
    * are the wrong gate here — the query structures are JOIN outputs,
    * and the size-only stats visitor estimates a join as the product
    * of its children (the `requireBroadcastableMeasured` rationale) —
    * but their sizes have closed forms once the query COUNT is known,
    * so one `queries.count()` prices every gate in a search without
    * further jobs. The ×2 covers UnsafeRow/hash-relation overhead on
    * top of the per-row estimates (which already include a fixed
    * header charge).
    */
  private def broadcastIfQueryFits(df: DataFrame, estBytes: Long): DataFrame =
    if (estBytes * 2 <= queryBroadcastBound(df)) broadcast(df) else df

  /** Top-candK candidate selection for the ANN scorers, gated on the
    * operator's own closed-form memory law. The heap
    * [[graftx.TopKPerGroup]] never sorts and its shuffle carries only
    * candK rows per (query, partition) — but its heaps are plain JVM
    * memory OUTSIDE Spark's execution-memory accounting, and in the
    * partial stage EVERY partition can see EVERY query group, so one
    * JVM holds concurrentTasks × nQ × candK × entry bytes. At
    * production geometry (candK ∝ √n) that product is the operator's
    * whole memory story: the 20M decade probe OOM'd a 24 g heap at
    * 32 tasks × 64 queries × 89,460 candidates on ~100-byte object
    * entries. The packed-pool rewrite (PackedRowHeap) cut the entry to
    * its flat 32 UnsafeRow bytes, and THIS gate applies the engine's
    * r12 lesson to what remains: when the estimate exceeds
    * `spark.graft.topk.heapBound`, fall back to the window-rank path —
    * a real sort, but one that lives inside Spark's spillable
    * execution memory and completes at any size. defaultParallelism is
    * the per-JVM concurrency in local mode and an overestimate (safe
    * direction) on a multi-executor cluster; set the bound per
    * deployment.
    */
  private def topKCandidatesGated(scored: DataFrame, nQ: Long,
                                  candK: Int): DataFrame = {
    val spark = scored.sparkSession
    val entryBytes = 8L * (1 + scored.columns.length)
    val est = spark.sparkContext.defaultParallelism.toLong *
      nQ * candK * entryBytes
    val bound = graft.GraftConf.sizeConf(spark,
      "spark.graft.topk.heapBound", 8L * 1024 * 1024 * 1024)
    if (est <= bound)
      org.apache.spark.sql.graftx.GraftPlans.topKPerGroup(scored,
        Seq("query_id"), Seq(("acos", false), ("neighbor_id", true)), candK)
    else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("acos").desc, col("neighbor_id").asc)
      scored.withColumn("__crn", row_number().over(w))
        .filter(col("__crn") <= candK).drop("__crn")
    }
  }

  /** (id, sub ∈ [0,m), sv: array<double> of dim/m) — every vector cut
    * into its m subvectors, the shared input of PQ train/encode/query.
    */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String,
                         dim: Int, m: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    val dsub = dim / m
    val vd = transform(col(vecCol), x => x.cast("double"))
    df.select(col(idCol).as("id"),
        posexplode(array((0 until m).map(s => slice(vd, s * dsub + 1, dsub)): _*)))
      .select(col("id"), col("pos").as("sub"), col("col").as("sv"))
  }

  /** Driver-built broadcast codebook for
    * [[org.apache.spark.sql.graftx.PqEncodeCodes]]: entries sorted by
    * (sub, cell), ‖centroid‖² via the same index-order double fold the
    * relational plan used, flattened row-major. Throws loudly on a
    * subspace with no cells (the old join silently DROPPED that code
    * position) or a sub escaping [0, m).
    */
  private def collectCodebook(codebook: DataFrame, dim: Int, m: Int)
      : Option[org.apache.spark.sql.graftx.PqEncodeCodes.Codebook] = {
    val dsub = dim / m
    val rows = codebook.select(col("sub").cast("int"), col("cell").cast("int"),
      col("centroid")).collect()
    if (rows.isEmpty) return None
    val sorted = rows.map(r => (r.getInt(0), r.getInt(1),
      r.getSeq[Double](2).toArray)).sortBy(t => (t._1, t._2))
    val nE = sorted.length
    val starts = new Array[Int](m + 1)
    val ids = new Array[Int](nE)
    val cnn = new Array[Double](nE)
    val flat = new Array[Double](nE * dsub)
    var prevSub = -1
    var e = 0
    while (e < nE) {
      val (sub, cellId, cent) = sorted(e)
      if (sub < 0 || sub >= m) throw new IllegalArgumentException(
        s"pq_encode_codes: sub $sub escapes [0, $m) — codes and codebook " +
          "disagree on m")
      if (sub != prevSub) {
        var s = prevSub + 1
        while (s <= sub) { starts(s) = e; s += 1 }
        prevSub = sub
      }
      ids(e) = cellId
      org.apache.spark.sql.graftx.GraftHashOps.checkSameLength(cent.length, dsub)
      var nn = 0.0; var j = 0
      while (j < dsub) { nn += cent(j) * cent(j); j += 1 }
      cnn(e) = nn
      System.arraycopy(cent, 0, flat, e * dsub, dsub)
      e += 1
    }
    var s = prevSub + 1
    while (s <= m) { starts(s) = nE; s += 1 }
    s = 0
    while (s < m) {
      if (starts(s) == starts(s + 1)) throw new IllegalArgumentException(
        s"pq_encode_codes: subspace $s has no codebook cells — the " +
          "codes and codebook disagree on (m, ksub), or training emitted " +
          "an empty subspace")
      s += 1
    }
    Some(new org.apache.spark.sql.graftx.PqEncodeCodes.Codebook(
      starts, ids, cnn, flat, dsub))
  }

  /** PQ codebook training: per-subspace Lloyd k-means over the
    * subvectors — deterministic hash init, `iters` rounds of
    * elementwise-mean centroids → L2 re-assign. Returns
    * (sub, cell, centroid array<double>); cells that lose all members
    * simply drop out (the codebook is a join table, not a dense
    * array, so sparsity is safe).
    */
  def trainPq(vectors: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    require(iters >= 1, "need at least one Lloyd iteration")
    val dsub = dim / m
    var asg = subVectors(vectors, idCol, vecCol, dim, m).withColumn("cell",
      pmod(xxhash64(col("id"), col("sub")), lit(ksub.toLong)).cast("int"))
    var codebook: DataFrame = null
    for (i <- 1 to iters) {
      // elementwise mean as dsub static sum columns — ONE map-side-
      // combinable shuffle of (m·ksub) groups per round, no explode
      val sums = (0 until dsub).map(j =>
        sum(element_at(col("sv"), j + 1)).as(s"__s$j"))
      codebook = asg.groupBy("sub", "cell")
        .agg(count(lit(1)).as("__n"), sums: _*)
        .select(col("sub"), col("cell"),
          array((0 until dsub).map(j => col(s"__s$j") / col("__n")): _*).as("centroid"))
      if (i < iters)
        // re-assignment as a MAP-ONLY plan: the round's codebook is
        // driver-collected (one job, inside collectCodebook) and each
        // subvector's new cell is read out of the native encoder's
        // codes array in the SAME projection that slices the
        // subvector. The pre-r13 shape cached the subvector relation
        // and re-attached new cells with an (id, sub)-equi JOIN —
        // an n·m-row shuffle per Lloyd round moving a 4-byte cell id.
        asg = collectCodebook(codebook, dim, m) match {
          case None => asg.filter(lit(false)) // no cells anywhere: empty
          case Some(cb) =>
            val bc = vectors.sparkSession.sparkContext.broadcast(cb)
            val vd = transform(col(vecCol), x => x.cast("double"))
            vectors
              .select(col(idCol).as("id"),
                org.apache.spark.sql.graftx.GraftFunctions
                  .pqEncodeCodes(col(vecCol), bc, dim, m).as("__codes"),
                vd.as("__vd"))
              .filter(col("__codes").isNotNull)
              .select(col("id"), posexplode(array((0 until m).map(s =>
                struct(slice(col("__vd"), s * dsub + 1, dsub).as("sv"),
                  element_at(col("__codes"), s + 1).as("cell"))): _*)))
              .select(col("id"), col("pos").as("sub"),
                col("col.sv").as("sv"), col("col.cell").as("cell"))
        }
    }
    // ONE final checkpoint (KB-scale: m·ksub rows): the codebook has
    // several consumers (corpus encode, per-query ADC tables) and each
    // would otherwise replay the whole training chain
    codebook.localCheckpoint()
  }

  /** Encode every vector against a trained codebook:
    * (id, codes array<int> of length m) — the m-byte compressed form.
    * MAP-ONLY via the native
    * [[org.apache.spark.sql.graftx.PqEncodeCodes]] over a driver-built
    * broadcast codebook — the ivfAssign shape. The previous relational
    * encode (posexplode → broadcast join → n·m·ksub rows → two hash
    * aggregates) was measured as the whole index-build wall at the
    * decade tiers: ~10 s per 200k vectors of per-row machinery for
    * 2k madds of arithmetic. Scoring, tie-break, and null-element
    * semantics are pinned to that formulation by PqEncodeParitySpec;
    * the two deviations are loud-over-silent (empty-subspace throw,
    * null vector → null codes) — see the expression's doc.
    */
  def pqEncode(vectors: DataFrame, idCol: String, vecCol: String,
               dim: Int, m: Int, codebook: DataFrame,
               keepNorm: Boolean = false): DataFrame = {
    // keepNorm additionally emits `cn` = ‖v‖ from the SAME projection
    // — the stored-PQ-index convention (norms survive compression), so
    // a search over these codes needs no corpus join to recover norms
    val normOut = if (keepNorm) Seq(vecNorm(col("__v")).as("cn")) else Nil
    collectCodebook(codebook, dim, m) match {
      case None =>
        // empty codebook → zero output rows, the old inner join's shape
        vectors.select(col(idCol).as("id") +:
          lit(null).cast("array<int>").as("codes") +:
          (if (keepNorm) Seq(lit(0.0).as("cn")) else Nil): _*)
          .filter(lit(false))
      case Some(cb) =>
        val bc = vectors.sparkSession.sparkContext.broadcast(cb)
        vectors.select(col(idCol).as("id"), col(vecCol).as("__v"))
          .select(col("id") +: org.apache.spark.sql.graftx.GraftFunctions
            .pqEncodeCodes(col("__v"), bc, dim, m).as("codes") +: normOut: _*)
    }
  }

  /** PQ-ADC top-k search with exact rescore: train (or take) a
    * codebook, encode the corpus, score every (query, code row) pair
    * via m map lookups into the query's precomputed
    * (subspace, cell) → dot table, keep `candK` per query through the
    * heap TopKPerGroup, and exact-rescore only those. Cosine uses the
    * EXACT stored corpus norms (norms survive compression — the
    * standard PQ-for-cosine practice), so approximation error lives
    * only in the dot term that the rescore stage re-computes exactly.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, dim: Int, m: Int, ksub: Int,
             iters: Int, candK: Int, k: Int): DataFrame =
    pqTopKWith(queries, corpus, idCol, vecCol, dim, m, ksub,
      trainPq(corpus, idCol, vecCol, dim, m, ksub, iters), candK, k)

  /** [[pqTopK]] against an already-trained codebook — build once,
    * search many (the production lifecycle; also lets one training
    * feed both the encode audit and the search in a single query).
    */
  def pqTopKWith(queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, dim: Int, m: Int, ksub: Int,
                 codebook: DataFrame, candK: Int, k: Int): DataFrame =
    pqTopKEncoded(queries, corpus, idCol, vecCol, dim, m, ksub, codebook,
      pqEncode(corpus, idCol, vecCol, dim, m, codebook), candK, k)

  /** [[pqTopKWith]] against pre-encoded corpus codes (`(id, codes)`
    * from [[pqEncode]]): encode once, search many — at 2M vectors the
    * encode (the n·ksub argmin per subspace) is ~10× the whole search,
    * so a caller re-searching a stored code index must not pay it per
    * query batch (the decade probe measures exactly this split).
    */
  /** Per-query ADC lookup tables — (query_id, qtab): dot(query
    * subvector, centroid) for every (sub, cell), DENSIFIED into one
    * array indexed `sub·ksub+cell`. A map column would read prettier,
    * but Spark's `element_at` on MapData is a LINEAR key scan —
    * m lookups × m·ksub/2 comparisons per scored row turned the ADC
    * scan into the whole query's hotspot (measured 7 s → sub-second
    * at sf0.1); the dense array is built once per QUERY row (the slow
    * lookups run m·ksub times per query, not per candidate) and
    * indexes O(1) in the scan. Empty cells densify to 0.0 —
    * unreferencable, since codes only ever name cells the codebook
    * contains. ONE definition, shared by the PQ and IVF-PQ scorers,
    * so the two paths cannot drift.
    */
  private def adcTables(queries: DataFrame, idCol: String, vecCol: String,
                        dim: Int, m: Int, ksub: Int,
                        codebook: DataFrame): DataFrame =
    subVectors(queries, idCol, vecCol, dim, m)
      .join(broadcast(codebook), "sub")
      .withColumn("qdot", dotD(col("sv"), col("centroid")))
      .groupBy(col("id").as("query_id"))
      .agg(map_from_entries(collect_list(struct(
        (col("sub") * ksub + col("cell")).cast("int"), col("qdot")))).as("qmap"))
      .withColumn("qtab", transform(sequence(lit(0), lit(m * ksub - 1)),
        i => coalesce(element_at(col("qmap"), i.cast("int")), lit(0.0))))
      .drop("qmap")

  def pqTopKEncoded(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, dim: Int, m: Int, ksub: Int,
                    codebook: DataFrame, corpusCodes: DataFrame,
                    candK: Int, k: Int): DataFrame = {
    // recompute-over-cache: the normed corpus is corpus-SIZED, so a
    // .cache() here pinned n·dim floats in executor storage past the
    // query's lifetime (nothing can unpersist it — the returned frame
    // still references it lazily) and could never fit at the 100 TB
    // tier anyway. It is read twice (cn for the scan, cv+cn for the
    // candK-row rescore); recomputing costs one extra columnar scan +
    // a codegen'd dot per row and leaves the cache manager empty after
    // the query (CacheHygieneSpec pins this).
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    // codes that already carry the stored norm (pqEncode keepNorm —
    // the stored-index shape) skip the corpus-wide id-equi join the
    // bare (id, codes) contract needs to recover it
    val codes =
      if (corpusCodes.columns.contains("cn"))
        corpusCodes.filter(col("cn") > 0)
          .select(col("id").as("neighbor_id"), col("codes"), col("cn"))
      else corpusCodes
        .select(col("id").as("neighbor_id"), col("codes"))
        .join(c.select("neighbor_id", "cn"), "neighbor_id")
    val qtabs = adcTables(queries, idCol, vecCol, dim, m, ksub, codebook)
      .join(withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
        .select("query_id", "qn"), "query_id")
    // ONE count of the query side prices every query-side broadcast
    // decision below (closed-form arithmetic on nQ; see
    // broadcastIfQueryFits for why plan stats cannot gate these).
    val nQ = queries.count()
    val qtabBytes = nQ * (m.toLong * ksub * 8 + 96)
    val bound = queryBroadcastBound(queries)
    // The ADC full scan is inherently all-pairs — every query scores
    // every code row (that is WHY ivfPqTopK exists) — so there is no
    // shuffle-equi fallback when the query batch outgrows a single
    // broadcast. Instead the query side splits into the fewest hash
    // chunks that each fit the bound and the code scan runs once per
    // chunk: bounded broadcast builds, corpus re-scans instead of an
    // OOM. A corpus-shaped batch would explode the chunk count, so it
    // fails FAST with the remedy rather than grinding through O(n·q).
    val nChunks = math.max(1L, (qtabBytes * 2 + bound - 1) / bound)
    val maxChunks = graft.GraftConf.intConf(queries.sparkSession,
      "spark.graft.ann.maxQueryChunks").getOrElse(64)
    require(nChunks <= maxChunks,
      s"pqTopKEncoded: the per-query ADC tables ($nQ queries, ~$qtabBytes " +
        s"bytes) need $nChunks broadcast chunks under the $bound-byte bound " +
        "(spark.graft.ann.queryBroadcastBound) — more than " +
        s"spark.graft.ann.maxQueryChunks=$maxChunks. A query batch this " +
        "large should go through ivfPqTopK (cell-equi candidate join) " +
        "instead of the full ADC scan.")
    // ADC scan: codes only — the full vectors are NOT in this stage.
    // The accumulation is the native codegen'd PqAdcDot (m array
    // loads + adds per pair); the HOF form (aggregate(sequence) with
    // two element_ats per step) measured 1.2× the cost of the 64-float
    // brute-force dot at n=2M, erasing the CPU half of the
    // compression win
    val scored = (0L until nChunks).map { b =>
        val chunk = if (nChunks == 1L) qtabs
          else qtabs.filter(
            pmod(xxhash64(col("query_id")), lit(nChunks)) === b)
        codes.join(broadcast(chunk), col("query_id") =!= col("neighbor_id"))
      }.reduce(_ unionByName _)
      .withColumn("adot", org.apache.spark.sql.graftx.GraftFunctions
        .pqAdcDot(col("codes"), col("qtab"), ksub))
      .withColumn("acos", col("adot") / (col("qn") * col("cn")))
    val cand = topKCandidatesGated(
      scored.select("query_id", "neighbor_id", "acos"), nQ, candK)
    // exact rescore of the candK survivors only; the query-vector side
    // is gated too (equi join on query_id — the unhinted fallback is a
    // plain shuffle join)
    val q = broadcastIfQueryFits(
      withNorm(queries, idCol, vecCol, "query_id", "qv", "qn"),
      nQ * (dim.toLong * 4 + 96))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.select("query_id", "neighbor_id")
      .join(q, "query_id").join(c.select("neighbor_id", "cv", "cn"), "neighbor_id")
      .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), r4(col("cos")).as("cos"))
  }

  /** IVF-PQ — the two scale levers composed into the canonical
    * production index (FAISS's IVFPQ): an IVF coarse quantizer
    * restricts each query to `nprobe` of `nCells` cells (the SCAN
    * lever: per-query work is nprobe/nCells of the corpus, an
    * equi-join on `cell`, never all-pairs), and inside the probed
    * cells candidates are scored by PQ-ADC over the m-byte codes (the
    * I/O lever: the cell scan reads codes, not vectors), with exact
    * rescore of the candK survivors. All index structures are the
    * reused building blocks — [[trainIvf]]'s Lloyd cells,
    * [[trainPq]]'s sample-trained codebooks, [[pqEncode]]'s codes,
    * [[graftx.PqAdcDot]]'s native accumulation.
    *
    * Scale shape end to end: corpus shuffled ONCE (by cell, at index
    * build); queries replicated nprobe× through a broadcast centroid
    * ranking; the candidate join is cell-equi; candK rows per query
    * reach the full-precision rescore. Recall factors as
    * (probe mass) × (ADC candidate quality) — both measured
    * independently by `ann_ivf_search` and `ann_pq_topk`.
    */
  /** Coarse quantizer build shared by [[ivfPqTopK]] and
    * [[clusterBalancedSample]]: Lloyd cells trained on the SAMPLE
    * (like the PQ codebooks — O(sample) training at any corpus size,
    * the FAISS build shape), then ONE assign pass over the full
    * corpus. The pre-r12 shape Lloyd'd the full corpus: iters×
    * corpus-wide assign joins plus a corpus-wide centroid
    * aggregation, all to place nCells centroids a 512-vector sample
    * determines just as well — at the 2M decade that was most of the
    * index build (same-box A/B at 200k: −21% end to end). With NO
    * sample, trainIvf's own final corpus assignment is reused
    * directly — a third corpus-wide assign pass would recompute what
    * it already returned.
    *
    * Returns (cents `(cell, centroid)`, assigned `(id, cell)`).
    */
  /** Returns (cents `(cell, centroid)`, assigned `(id, cell [, v,
    * keepCols…])`). The assignment is a MAP-ONLY plan in both
    * branches — [[trainIvf]] keeps the vector column through its
    * final assignment, so the centroid aggregate and every downstream
    * derivation (codes, norms, metadata) read the same row; the
    * pre-r13 shape re-attached cells/vectors with corpus-wide id-equi
    * joins in three places.
    */
  /** `checkpointCents = true` (the [[buildIvfPq]] path) localCheckpoints
    * the centroid table BEFORE the full-corpus assign: the assign's
    * driver collect then reads KB of materialized model state instead
    * of replaying the whole sample-training chain a second time (the
    * pre-r14 order collected the un-checkpointed aggregate inside
    * ivfAssign and then checkpointed the SAME aggregate again in
    * buildIvfPq — two full sample-train replays per index build).
    * [[clusterBalancedSample]] keeps false: it discards the cents
    * frame, so an eager checkpoint there would be a pure extra job.
    */
  private def sampleTrainedCells(vectors: DataFrame, idCol: String,
                                 vecCol: String, nCells: Int,
                                 trainSample: Option[DataFrame],
                                 keepVec: Boolean = false,
                                 keepCols: Seq[String] = Nil,
                                 checkpointCents: Boolean = false)
      : (DataFrame, DataFrame) = trainSample match {
    case Some(sample) =>
      val sAssigned = trainIvf(sample, idCol, vecCol, nCells, iters = 2,
        keepVec = true)
      val cents0 = centroids(
        sAssigned.select(col("id"), col("v"),
          col("assigned_cell").as("cell")),
        "cell", "v")
      val cents = if (checkpointCents) cents0.localCheckpoint() else cents0
      (cents, ivfAssign(vectors, idCol, vecCol, cents,
          keepVec = keepVec, keepCols = keepCols)
        .select(col("id") +: col("assigned_cell").as("cell") +:
          ((if (keepVec) Seq(col("v")) else Nil) ++ keepCols.map(col)): _*))
    case None =>
      val assigned = trainIvf(vectors, idCol, vecCol, nCells, iters = 2,
        keepVec = true, keepCols = keepCols)
      val cents0 = centroids(
        assigned.select(col("id"), col("v"),
          col("assigned_cell").as("cell")),
        "cell", "v")
      val cents = if (checkpointCents) cents0.localCheckpoint() else cents0
      (cents, assigned
        .select(col("id") +: col("assigned_cell").as("cell") +:
          ((if (keepVec) Seq(col("v")) else Nil) ++ keepCols.map(col)): _*))
  }

  /** IVF-PQ index BUILD — the stored-index half of the production
    * lifecycle (build once / search many: the same split [[pqEncode]]
    * gives plain PQ, which the decade probe measured at ~10× the whole
    * search at 2M vectors). Returns (cents `(cell, centroid)`,
    * codebook `(sub, cell, centroid)`, codedCorpus
    * `(neighbor_id, cell, codes, cn)`) — everything a search needs
    * except the full-precision vectors themselves (the rescore reads
    * those from the corpus). All three are plain frames a caller can
    * persist as tables and reload across query batches; the corpus is
    * shuffled ONCE (by the encode/assign joins), here at build time.
    *
    * `metaCols` names corpus columns stored ALONGSIDE the codes —
    * the filterable-attribute convention of production vector
    * indexes: a metadata predicate then PRE-FILTERS the ADC scan
    * map-side ([[ivfPqSearch]] `preFilter`) with zero extra joins or
    * shuffles at query time, instead of post-filtering an inflated
    * top-k. The per-row cost is the meta bytes riding the code
    * rows — the index stays 16-byte codes + whatever attributes the
    * workload actually filters on.
    */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 dim: Int, m: Int, ksub: Int, nCells: Int,
                 trainSample: Option[DataFrame] = None,
                 metaCols: Seq[String] = Nil)
      : (DataFrame, DataFrame, DataFrame) = {
    // checkpointCents (KB–MB scale: nCells × dim doubles), BEFORE the
    // full-corpus assign: the search reuses cents for the probe
    // ranking AND the broadcast gate's count, and the assign's own
    // centroid collect — each would otherwise replay the sample
    // training from scratch
    val (cents, assignedFull) =
      sampleTrainedCells(corpus, idCol, vecCol, nCells, trainSample,
        keepVec = true, keepCols = metaCols, checkpointCents = true)
    // PQ fine quantizer: sample-trained codebooks, full-corpus codes
    val codebook = trainPq(trainSample.getOrElse(corpus), idCol, vecCol,
      dim, m, ksub, iters = 2)
    // ONE map-only pass over the assigned corpus: codes, norm and
    // metadata all derive from the SAME row (guide §2.4). The pre-r13
    // shape ran a separate encode scan and re-attached cell and
    // cn/meta with TWO corpus-wide id-equi joins — two shuffles of
    // the whole coded corpus spent moving columns the assign pass
    // already had in hand.
    val codes = collectCodebook(codebook, dim, m) match {
      case None => // empty codebook → zero rows, the old inner join's shape
        assignedFull.select(col("id").as("neighbor_id") +:
          lit(null).cast("array<int>").as("codes") +: col("cell") +:
          lit(0.0).as("cn") +: metaCols.map(col): _*).filter(lit(false))
      case Some(cb) =>
        val bc = corpus.sparkSession.sparkContext.broadcast(cb)
        assignedFull
          .withColumn("cn", vecNorm(col("v")))
          .filter(col("cn") > 0)
          .select(col("id").as("neighbor_id") +:
            org.apache.spark.sql.graftx.GraftFunctions
              .pqEncodeCodes(col("v"), bc, dim, m).as("codes") +:
            col("cell") +: col("cn") +: metaCols.map(col): _*)
    }
    (cents, codebook, codes)
  }

  /** Incremental IVF-PQ index maintenance — the other half of the
    * build-once/search-many lifecycle: a production index ingests a
    * daily DELTA without retraining or re-encoding the corpus. The
    * coarse centroids and PQ codebooks are MODEL PARAMETERS frozen at
    * build time, and [[ivfAssign]]/[[pqEncode]] are pure per-row
    * functions of those frozen tables — so appending is exactly one
    * assign + one encode pass over the delta rows (O(|delta|), the
    * corpus is never touched) and the result is BIT-IDENTICAL to
    * having encoded the delta in the original build
    * (IvfPqAppendSpec pins both the code parity and search parity).
    *
    * The parity contract is exact for the SAMPLE-TRAINED build branch
    * (the production shape): there [[buildIvfPq]]'s stored cells are
    * literally ivfAssign against the returned cents. The
    * trainSample=None convenience branch stores trainIvf's final
    * assignment, which lags the returned (post-update) centroids by
    * one Lloyd step — appended rows there assign against the stored
    * cents and a boundary vector may land one cell over from where a
    * full rebuild would put it. Not a correctness issue (IVF cells are
    * a probe heuristic; the rescore is exact either way), but strict
    * bit-parity is only promised on the sample-trained branch.
    *
    * What freezing does NOT give: centroids/codebooks stop tracking
    * the data distribution. On a distribution-stable delta recall
    * holds (the structures were sample-trained anyway — a 10% delta
    * is statistically invisible; `ann_ivf_pq_append` pins ≥ 0.9
    * composed recall with the index trained on the base alone), but a
    * drifted delta degrades silently — production retrains when the
    * appended fraction crosses a threshold, which is a policy
    * decision this operator deliberately leaves to the caller.
    *
    * Returns the appended codedCorpus `(neighbor_id, cell, codes,
    * cn)` — same shape as [[buildIvfPq]]'s third element, directly
    * feedable to [[ivfPqSearch]].
    */
  def ivfPqAppend(delta: DataFrame, idCol: String, vecCol: String,
                  dim: Int, m: Int,
                  cents: DataFrame, codebook: DataFrame,
                  codedCorpus: DataFrame,
                  metaCols: Seq[String] = Nil): DataFrame = {
    // the same fused single-pass shape as [[buildIvfPq]]: assign,
    // encode, norm and metadata from ONE map-only scan of the delta
    // (pre-r13: a separate encode scan + two delta-wide id-equi joins)
    val assigned = ivfAssign(delta, idCol, vecCol, cents,
      keepVec = true, keepCols = metaCols)
    val deltaCodes = collectCodebook(codebook, dim, m) match {
      case None =>
        assigned.select(col("id").as("neighbor_id") +:
          lit(null).cast("array<int>").as("codes") +:
          col("assigned_cell").as("cell") +: lit(0.0).as("cn") +:
          metaCols.map(col): _*).filter(lit(false))
      case Some(cb) =>
        val bc = delta.sparkSession.sparkContext.broadcast(cb)
        assigned
          .withColumn("cn", vecNorm(col("v")))
          .filter(col("cn") > 0)
          .select(col("id").as("neighbor_id") +:
            org.apache.spark.sql.graftx.GraftFunctions
              .pqEncodeCodes(col("v"), bc, dim, m).as("codes") +:
            col("assigned_cell").as("cell") +: col("cn") +:
            metaCols.map(col): _*)
    }
    codedCorpus.unionByName(deltaCodes.select(codedCorpus.columns.map(col): _*))
  }

  /** IVF-PQ SEARCH over a built (or stored-and-reloaded) index — see
    * [[buildIvfPq]] for the index frames' shapes and [[ivfPqTopK]] for
    * the composed semantics and gates.
    *
    * `preFilter` is a predicate over the index's stored metadata
    * columns (buildIvfPq `metaCols`): it PRE-filters the coded corpus
    * before the cell-equi join, so non-matching rows are never
    * ADC-scored, never heap candidates, and never rescored — the
    * filtered-search shape (top-k among rows WHERE …) that
    * post-filtering an inflated k cannot guarantee. Map-side only:
    * the filter rides the index scan, no extra join or shuffle.
    * Sizing notes (both measured — see `ann_ivf_pq_filtered`):
    * candK bounds candidates drawn from the FILTERED corpus, so
    * callers should apply their candK law to the filtered count, not
    * the index size; and nprobe should scale by INVERSE SELECTIVITY
    * (min(nCells, ⌈nprobe·n/nF⌉)) — filtered true neighbors have
    * weaker cosine than unfiltered ones, so at the base probe mass
    * the query-centroid ranking misses their cells (0.88 vs 1.0
    * recall at ~30% selectivity). The scaled probe keeps expected
    * filtered rows scanned equal to the unfiltered scan: the ADC
    * cost in rows is unchanged, only centroid-ranking mass grows.
    */
  def ivfPqSearch(queries: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, dim: Int, m: Int, ksub: Int,
                  cents: DataFrame, codebook: DataFrame, codedCorpus: DataFrame,
                  nprobe: Int, candK: Int, k: Int,
                  preFilter: Option[Column] = None,
                  nCellsKnown: Option[Long] = None): DataFrame = {
    // coarse-centroid table: nCells rows × dim doubles. One cheap count
    // (the frame is localCheckpoint'd at build / a stored table on
    // reload) sizes the closed-form gate: the cell ranking is
    // inherently queries × cells (no non-broadcast plan exists), and
    // production geometry scales nCells ~4√n, so above the bound it
    // fails FAST with the remedy instead of OOMing the broadcast build.
    // A caller that CHOSE the geometry may state it (nCellsKnown) and
    // skip the count job — the gate arithmetic is identical.
    val nCells = nCellsKnown.getOrElse(cents.count())
    val centsBytes = nCells * (dim * 8L + 96L)
    val centsBound = graft.GraftConf.sizeConf(corpus.sparkSession,
      "spark.graft.broadcastDimBound", 256L * 1024 * 1024)
    require(centsBytes * 2 <= centsBound,
      s"ivfPqSearch: the coarse-centroid table ($nCells cells × dim $dim, " +
        s"~$centsBytes bytes) exceeds the broadcast bound $centsBound " +
        "(spark.graft.broadcastDimBound) — shrink nCells or rank cells " +
        "through a hierarchical coarse quantizer")
    // recompute-over-cache — see pqTopKEncoded: caching the normed
    // corpus leaked it into session storage past the query (and can't
    // fit at scale); two scans are the honest price.
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv", "cn")
    val codes = preFilter.map(codedCorpus.filter).getOrElse(codedCorpus)
    // per-query: nprobe nearest cells (broadcast centroids) + the
    // shared dense ADC table
    val qtabs = adcTables(queries, idCol, vecCol, dim, m, ksub, codebook)
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
    // one count prices the query-side gates (see broadcastIfQueryFits)
    val nQ = queries.count()
    val qD = transform(col("qv"), x => x.cast("double"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cell").asc)
    val probed = q.join(broadcast(cents))
      .withColumn("ccos", dotD(qD, col("centroid")) /
        (col("qn") * sqrt(dotD(col("centroid"), col("centroid")))))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qn"), col("cell"))
    // candidate generation: CELL-EQUI join on the SLIM probed fan-out
    // (query_id, qn, cell — ~120 B/row), then the per-query ADC table
    // joined on query_id as a SEPARATE side. Folding qtabs into the
    // fan-out (the pre-r13 shape) duplicated each query's m·ksub·8-byte
    // table nprobe× — at production geometry (nprobe ~2√n) that product
    // crossed the query-broadcast bound around the 2M decade (64
    // queries × 2830 probes × 4 KB ≈ 760 MB) and forced the shuffle
    // fallback: measured 158 s vs the 143 s brute twin, the whole scan
    // lever erased by join plumbing. Split, the two broadcast builds
    // are nQ·nprobe slim rows + nQ tables (~70 MB + ~0.3 MB at 20M),
    // the scored stream references the matched qtab array in place
    // (no per-row copy), and both joins stay map-side. Each side is
    // still gated — above the bound the cell/query_id equi keys give
    // the natural shuffle-join fallbacks (PqBroadcastGateSpec pins the
    // branches bit-identical).
    val probedGated = broadcastIfQueryFits(probed,
      nQ * nprobe * (8L + 8L + 8L + 96L))
    val qtabBytes = nQ * (m.toLong * ksub * 8 + 96)
    val scored0 =
      if (qtabBytes * 2 <= queryBroadcastBound(queries))
        codes.join(probedGated, Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .join(broadcast(qtabs), Seq("query_id"))
      else
        // corpus-shaped query batch: a broadcast-hash qtab lookup no
        // longer fits, and an equi-join of the POST-CELL-JOIN stream
        // (|codes probed| rows) against qtabs would sort that stream.
        // Fold the tables back into the fan-out (the fat shape) and
        // let the cell key shuffle-join — each corpus partition meets
        // only its cells' queries, nothing references the scored
        // stream twice.
        codes.join(probed.join(qtabs, Seq("query_id")), Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
    val scored = scored0
      .withColumn("adot", org.apache.spark.sql.graftx.GraftFunctions
        .pqAdcDot(col("codes"), col("qtab"), ksub))
      .withColumn("acos", col("adot") / (col("qn") * col("cn")))
    val cand = topKCandidatesGated(
      scored.select("query_id", "neighbor_id", "acos"), nQ, candK)
    // exact rescore; query vectors gated the same way (equi join on
    // query_id — unhinted fallback is a plain shuffle join)
    val qGated = broadcastIfQueryFits(q, nQ * (dim.toLong * 4 + 96))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.select("query_id", "neighbor_id")
      .join(qGated, "query_id").join(c.select("neighbor_id", "cv", "cn"), "neighbor_id")
      .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), r4(col("cos")).as("cos"))
  }

  /** Measured-knee IVF-PQ geometry: nCells = min(n/4, 4√n) (floor 8),
    * nprobe = nCells/2. The FAISS convention (4√n cells, nprobe a few
    * percent of them) assumes CLUSTERED embeddings; on this engine's
    * honest hard case — near-isotropic vectors — the (nCells, nprobe)
    * grid (`ScaleBench ivf-grid`, measured at n = 2k / 20k / 200k)
    * shows recall is governed by the PROBED MASS (nprobe/nCells), and
    * at fixed mass FINER cells buy recall (scan ½ at 200k: 8 cells →
    * 0.79, 64 → 0.93, 256 → 0.98; at 2k: 90 cells → 0.87, 180 → 0.93)
    * while build cost grows ∝ n·nCells (the assign pass). Small
    * nprobe/nCells — the clustered-data win — does NOT transfer to
    * isotropic data (4√n cells at 7% mass: 0.65 recall, 212 s build at
    * 200k); half-mass with 4√n cells is the measured ≥0.9-recall knee
    * at every tier, and the engine's residual win at that mass is the
    * ADC compression (the scan reads 16-byte codes, not 256-byte
    * vectors) plus the candK-bounded exact rescore. The n/4 cap keeps
    * tiny corpora from degenerating into near-singleton cells; the
    * train sample must scale WITH the cell count (≥32 points per
    * centroid) — a fixed 512-vector sample cannot place 4√n centroids.
    */
  def ivfPqGeometry(n: Long): (Int, Int) = {
    val nCells = math.max(8, math.min(n / 4,
      4 * math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    (nCells, math.max(1, nCells / 2))
  }

  /** IVF-PQ exact-rescore pool over a searched domain of `n` vectors:
    * max(100, min(n/10, 20·⌈√n⌉)). It SCALES with the corpus: on
    * near-isotropic geometry a FIXED candidate pool admits more
    * imposters as n grows — measured failing at the 100× tier (200k
    * vectors: composed recall ≈ probe-mass 0.8 × PQ@100 0.72 ≈ 0.58 <
    * the old 0.65 pin). But candK ∝ n (the brute-force limit) makes the
    * per-query HEAP the bottleneck instead — n/10 at the 2M tier meant
    * 200k-entry heaps per query and wedged the decade run. √n growth is
    * the honest middle: candidate quality climbs with the pool while
    * the heap stays O(√n) per query (≈ 9k at 200k, 28k at 2M).
    */
  def ivfPqCandK(n: Long): Int =
    math.max(100, math.min(n / 10, 20L * math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Inverse-selectivity probe scaling for FILTERED search (measured —
    * see `ann_ivf_pq_filtered` / BENCHNOTES r13): filtered true
    * neighbors are weaker-cosine, so at the base probe mass the
    * query-centroid ranking misses their cells; probing
    * min(nCells, ⌈nprobe·n/nF⌉) cells keeps the EXPECTED FILTERED
    * ROWS SCANNED equal to the unfiltered scan. Capping at nCells is
    * the degenerate-but-correct end: when selectivity < nprobe/nCells
    * the probe lever is spent and the search is an ADC scan of all
    * filtered rows — recall exact, cost ∝ nF. Even at that cap the
    * decade probe measured the crossover: a plain filtered brute scan
    * is cheaper at ≤2M (plumbing dominates) while the 16-byte ADC
    * read wins 2.6× at 20M (memory-bandwidth-bound) — callers pick
    * the plan by selectivity × base-mass × tier arithmetic.
    */
  def filteredNprobe(nCells: Int, nprobe: Int, n: Long, nF: Long): Int =
    math.min(nCells.toLong,
      math.ceil(nprobe.toDouble * n / math.max(1L, nF)).toLong).toInt

  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, dim: Int, m: Int, ksub: Int,
                nCells: Int, nprobe: Int, candK: Int, k: Int,
                trainSample: Option[DataFrame] = None,
                metaCols: Seq[String] = Nil,
                preFilter: Option[Column] = None): DataFrame = {
    val (cents, codebook, codes) =
      buildIvfPq(corpus, idCol, vecCol, dim, m, ksub, nCells, trainSample,
        metaCols)
    // nCells is hash-init geometry, not data: every cell id the build
    // emits is pmod(_, nCells) — the count can only be ≤ nCells (empty
    // cells drop out), and the gate bounds BYTES, so stating the
    // chosen geometry is conservative and saves the count job
    ivfPqSearch(queries, corpus, idCol, vecCol, dim, m, ksub,
      cents, codebook, codes, nprobe, candK, k, preFilter,
      nCellsKnown = Some(nCells.toLong))
  }

  /** Cluster-balanced (diversity) sampling — the curation step that
    * keeps a capped, deterministic quota per SEMANTIC cluster instead
    * of sampling uniformly (which over-represents the corpus's dense
    * modes): IVF cells as the clusters, a content-hash order within
    * each cell, at most `quota` survivors per cell. The per-source
    * cap (`tx_cap_per_source`) balances by a metadata column; this
    * balances by embedding geometry — the SemDeDup-adjacent shape a
    * pretraining mixture uses to flatten template-heavy modes.
    *
    * Scale shape: coarse cells train on the SAMPLE (O(sample), like
    * the PQ codebooks), the corpus pays one assign pass, and the
    * within-cell selection is the heap [[graftx.TopKPerGroup]] — the
    * shuffle carries at most quota rows per (cell, partition), never
    * a per-cell sort. No rand() anywhere: the hash order makes the
    * sample replayable (retry-/restart-invariant).
    *
    * Returns (id, cell, rn) — rn ∈ [1, quota], the within-cell hash
    * rank, so downstream mixtures can sub-slice deterministically.
    */
  def clusterBalancedSample(vectors: DataFrame, idCol: String, vecCol: String,
                            nCells: Int, quota: Int,
                            trainSample: Option[DataFrame] = None): DataFrame = {
    val (_, assigned0) =
      sampleTrainedCells(vectors, idCol, vecCol, nCells, trainSample,
        keepVec = true)
    // order by a hash of the VECTOR (true content addressing, the
    // tx_cap_per_source convention): the selection survives a
    // re-ingest that renumbers ids; the id only breaks exact-content
    // ties deterministically. The vector rides the map-only
    // assignment (keepVec), so the hash is computed in the same
    // projection — the pre-r13 shape re-joined the corpus for it.
    val assigned = assigned0.select(col("id"), col("cell"),
      xxhash64(col("v"), lit("cbsample")).as("__ord"))
    val taken = org.apache.spark.sql.graftx.GraftPlans.topKPerGroup(
      assigned, Seq("cell"), Seq(("__ord", true), ("id", true)), quota)
    val w = Window.partitionBy("cell").orderBy(col("__ord").asc, col("id").asc)
    taken.withColumn("rn", row_number().over(w).cast("long"))
      .select(col("id"), col("cell"), col("rn"))
  }
}
