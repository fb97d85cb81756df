package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.DetRound.{r4, sqlR4}
import graft.operators.SimilarityOps

/** Similarity-search query surface over `embeddings`
  * (array<float> × 64). The brute-force dot product is a sequential
  * double-precision left fold on both engines (Spark `aggregate` vs
  * DuckDB `list_reduce`), so cosine values are bit-identical and the
  * top-k ranking hash-matches.
  */
object SimQueries extends QueryPack {

  // Brute-force cosine top-5 for the first 10 vectors as queries —
  // the ANN correctness baseline.
  q("ann_bruteforce_topk",
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(generate_series(1, len(q.embedding)),
      |          i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
      |      (a, b) -> a + b) / (q.nrm * c.nrm) AS cos
      |  FROM v q JOIN v c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id < 10),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cos, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
      |  floor((cos) * 1e4 + 0.5 + 1e-6) / 1e4 AS cos
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    SimilarityOps.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  // IVF build step: per-label centroids via posexplode + elementwise
  // mean (the coarse-quantizer training pass of an IVF index).
  q("ann_ivf_centroids",
    """WITH ex AS (
      |  SELECT label, unnest(embedding) AS v,
      |    unnest(generate_series(1, len(embedding))) AS pos
      |  FROM embeddings)
      |SELECT label, CAST(pos - 1 AS INTEGER) AS pos,
      |  floor((avg(CAST(v AS DOUBLE))) * 1e4 + 0.5 + 1e-6) / 1e4 AS mean
      |FROM ex GROUP BY 1, 2
      |ORDER BY label, pos""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(r4(avg(col("col").cast("double"))).as("mean"))
      .orderBy("label", "pos")
  }

  // LSH-bucketed ANN — the 100TB scale path (bucket join instead of a
  // cross join): 8 independent hash tables, radius-1 multiprobe,
  // bits/band = log₂(n/32) so E[bucket] stays ~32 as the corpus grows
  // (fixed 5-bit bands were the r5 scale flaw: E[bucket] ∝ n,
  // candidates ∝ n², and the old absolute bucket cap then zeroed
  // recall at 100×). The LSH hyperplanes are deterministic but not
  // ANSI-SQL-expressible, so the driver-hashed row pins the MEASURED
  // top-5 recall against the brute-force twin computed in the same
  // query: recall ≥ 0.9 (measured 0.97 sf0.01 / 0.92 sf0.1; the
  // LshRecallSpec threshold). Oracle: corpus counts + literal true.
  q("ann_lsh_topk",
    """WITH k AS (SELECT greatest(1, count(*) // 256) AS k FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(5 * count(CASE WHEN vec_id % (SELECT k FROM k) = 0 THEN 1 END) AS BIGINT) AS n_exact,
      |  true AS recall_ok
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    // the LSH side indexes and answers the FULL corpus; the exact twin
    // measures recall on a FIXED-size deterministic query sample
    // (~256 ids via modulus thinning): verification cost is O(n·s),
    // never O(n²) — a proportional sample would do 10,000× the work at
    // 100× data. The estimate stays unbiased (thinning is uncorrelated
    // with geometry); sampled-pin power is documented in BENCHNOTES.
    val k = SimilarityOps.sampleModulus(emb.count(), 256)
    val sample = emb.filter(col("vec_id") % k === 0)
    val lsh = SimilarityOps.lshTopKAuto(emb, "vec_id", "embedding",
        dim = 64, bands = 0, k = 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    val exact = SimilarityOps.bruteForceTopK(sample, emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val stats = exact.join(lsh, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    emb.agg(count(lit(1)).as("n_vectors")).crossJoin(stats)
      .select(col("n_vectors"), col("n_exact"),
        (coalesce(col("__hits"), lit(0)) >= col("n_exact") * lit(0.9)).as("recall_ok"))
  }

  // Embedding-level benchmark decontamination: a fixed ~32-vector
  // "benchmark" (modulus-thinned — fixed size, so the scan is O(n·32)
  // at any corpus size and the broadcast BNLJ build side is
  // sweep-recognized) against the rest of the corpus; every corpus
  // vector carries its max benchmark cosine and a τ=0.45 contamination
  // flag. The semantic sibling of tx_decontaminate: paraphrased
  // test-set leakage with zero shared n-grams still collides here.
  // Fully oracled row-level — the cosine fold is bit-identical on both
  // engines (same arithmetic as ann_bruteforce_topk).
  q("tx_embed_decontaminate",
    """WITH k AS (SELECT greatest(1, count(*) // 32) AS k FROM embeddings),
      |v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nrm
      |  FROM embeddings
      |  WHERE nrm > 0),  -- mirror withNorm's zero-vector exclusion (cosine undefined)
      |s AS (
      |  SELECT c.vec_id, max(
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(c.embedding)),
      |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |      (x, y) -> x + y) / (c.nrm * b.nrm)) AS max_cos
      |  FROM v c JOIN v b ON b.vec_id % (SELECT k FROM k) = 0
      |    AND c.vec_id % (SELECT k FROM k) != 0
      |  GROUP BY 1)
      |SELECT vec_id, floor((max_cos) * 1e4 + 0.5 + 1e-6) / 1e4 AS max_cos,
      |  (max_cos >= 0.45) AS contaminated
      |FROM s ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val k = SimilarityOps.sampleModulus(emb.count(), 32)
    SimilarityOps.embeddingDecontaminate(
        emb.filter(col("vec_id") % k =!= 0),
        emb.filter(col("vec_id") % k === 0),
        "vec_id", "embedding", minSim = 0.45)
      .orderBy("vec_id")
  }

  // IVF probe search end-to-end: centroids seeded from `label`, corpus
  // re-assigned to nearest centroid, each query probes the 3 nearest
  // cells and runs exact top-k inside them (the other scale path:
  // cell = equi-join key, queries scan ~nprobe/nCells of the corpus).
  // The hashed row pins measured recall vs the brute-force twin at
  // ≥ 0.4: THIS corpus is near-isotropic, so IVF recall is bounded by
  // probe mass (3 of 8 cells ≈ 0.375) plus geometric concentration —
  // measured 0.48–0.58 across sf. On a corpus with cluster structure
  // (where IVF is the right index) the same operator holds ≥ 0.9
  // (LshRecallSpec's clustered-geometry test); the pin here checks
  // the probe machinery finds MORE than its probe mass, i.e. the
  // cells are geometric and not arbitrary.
  q("ann_ivf_search",
    """SELECT CAST(count(CASE WHEN vec_id < 10 THEN 1 END) AS BIGINT) AS n_queries,
      |  CAST(5 * count(CASE WHEN vec_id < 10 THEN 1 END) AS BIGINT) AS n_exact,
      |  true AS recall_ok
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val q10 = emb.filter(col("vec_id") < 10)
    val ivf = SimilarityOps.ivfSearch(q10, emb,
        "vec_id", "embedding", "label", nprobe = 3, k = 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    val exact = SimilarityOps.bruteForceTopK(q10, emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val stats = exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    q10.agg(count(lit(1)).as("n_queries")).crossJoin(stats)
      .select(col("n_queries"), col("n_exact"),
        (coalesce(col("__hits"), lit(0)) >= col("n_exact") * lit(0.4)).as("recall_ok"))
  }

  // Int8 scalar quantization roundtrip: per-vector quantized checksum
  // (exact integer sum) + max reconstruction error — the embedding
  // compression step, oracle-checked end to end (identical floor/
  // clamp arithmetic, index-order folds on both engines).
  q("ann_quantize_int8",
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |    list_transform(embedding, x ->
      |      greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
      |        CAST(floor(CAST(x AS DOUBLE) * 64.0e0 + 0.5e0 + 1.0e-6) AS BIGINT)))) AS qv
      |  FROM embeddings)
      |SELECT vec_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), qv), (a, b) -> a + b) AS qsum,
      |  floor((list_max(list_transform(generate_series(1, len(qv)),
      |    i -> abs(CAST(qv[i] AS DOUBLE) / 64.0e0 - CAST(embedding[i] AS DOUBLE)))))
      |    * 1e4 + 0.5 + 1e-6) / 1e4 AS max_err
      |FROM q ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val scale = 64.0
    val qv = SimilarityOps.quantizeInt8(col("embedding"), scale)
    Tables.load(s, dir, "embeddings")
      .withColumn("qv", qv)
      .select(col("vec_id"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("qsum"),
        r4(array_max(zip_with(col("qv"), col("embedding"),
          (a, b) => abs(a.cast("double") / lit(scale) - b.cast("double"))))).as("max_err"))
      .orderBy("vec_id")
  }

  // Two-stage quantized retrieval: int8 candidate scan (exact integer
  // dot products → deterministic candidate ranking) + full-precision
  // rescore of candidates only. Both stages mirror exactly in SQL —
  // the whole compressed-search pipeline is oracle-checked, including
  // the integer candidate scores.
  q("ann_two_stage",
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nrm,
      |    list_transform(embedding, x ->
      |      greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
      |        CAST(floor(CAST(x AS DOUBLE) * 64.0e0 + 0.5e0 + 1.0e-6) AS BIGINT)))) AS qv
      |  FROM embeddings),
      |s1 AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, len(q.qv)),
      |          i -> q.qv[i] * c.qv[i])),
      |      (a, b) -> a + b) AS qdot
      |  FROM v q JOIN v c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id < 10),
      |cand AS (
      |  SELECT query_id, neighbor_id, qdot, row_number() OVER (
      |    PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS crank
      |  FROM s1),
      |resc AS (
      |  SELECT cand.query_id, cand.neighbor_id, cand.qdot,
      |    list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(generate_series(1, len(a.embedding)),
      |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |      (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
      |  FROM cand
      |  JOIN v a ON a.vec_id = cand.query_id
      |  JOIN v b ON b.vec_id = cand.neighbor_id
      |  WHERE cand.crank <= 50),
      |ranked AS (
      |  SELECT query_id, neighbor_id, qdot, cos, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM resc)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, qdot,
      |  floor((cos) * 1e4 + 0.5 + 1e-6) / 1e4 AS cos
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    SimilarityOps.twoStageTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", scale = 64.0, candK = 50, k = 5)
      .orderBy("query_id", "rank")
  }

  // Product quantization — the vector-COMPRESSION scale path (64-dim
  // float32 → 16 codebook codes: the ADC scan reads ~16 B/vector
  // instead of 256 B, and full vectors are touched only for the candK
  // rescore survivors). Per-subspace k-means isn't reasonably
  // ANSI-SQL-expressible, so (the ann_lsh_topk convention) the hashed
  // row pins the MEASURED properties: every corpus vector encodes to
  // exactly m in-range codes, and rescored top-5 recall on a fixed
  // ~64-query modulus sample ≥ 0.9 against the brute-force twin
  // computed in the same query (measured 0.99 sf0.01 / 1.00 sf0.1
  // with m=16, ksub=32, 3 Lloyd rounds, candK=max(100, n/10) —
  // PqSpec holds the margin). Oracle: corpus counts + literal trues.
  q("ann_pq_topk",
    """WITH k AS (SELECT greatest(1, count(*) // 64) AS k FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(count(*) AS BIGINT) AS n_encoded,
      |  CAST(5 * count(CASE WHEN vec_id % (SELECT k FROM k) = 0 THEN 1 END) AS BIGINT) AS n_exact,
      |  true AS codes_ok, true AS recall_ok
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val n = emb.count()
    val (dim, m, ksub) = (64, 16, 32)
    val mod = SimilarityOps.sampleModulus(n, 64)
    val sample = emb.filter(col("vec_id") % mod === 0)
    // codebooks train on a FIXED-size deterministic sample (the 100 TB
    // shape: training cost is O(sample), never O(corpus); encoding and
    // search then cover the full corpus) — 512 vectors is ≥16 per
    // centroid at ksub=32
    val trainSample = emb.filter(
      col("vec_id") % SimilarityOps.sampleModulus(n, 512) === 0)
    val codebook = SimilarityOps.trainPq(trainSample, "vec_id", "embedding",
      dim, m, ksub, iters = 2)
    // encode ONCE: the audit below and the search reuse the same code
    // index (encode is the dominant cost — at 2M it is ~10× the
    // search — and two independently-constructed encode subtrees
    // would rely on exchange canonicalization to dedup)
    val encoded = SimilarityOps
      .pqEncode(emb, "vec_id", "embedding", dim, m, codebook, keepNorm = true)
    // encode audit: every vector → exactly m codes, all within [0, ksub)
    val codeStats = encoded
      .agg(count(lit(1)).as("n_encoded"),
        min(size(col("codes"))).as("__mn"), max(size(col("codes"))).as("__mx"),
        min(array_min(col("codes"))).as("__cmin"),
        max(array_max(col("codes"))).as("__cmax"))
    // recall: rescored PQ top-5 vs the exact twin on the same sample
    val pq = SimilarityOps.pqTopKEncoded(sample, emb, "vec_id", "embedding",
        dim, m, ksub, codebook, encoded,
        candK = math.max(100, (n / 10).toInt), k = 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    val exact = SimilarityOps.bruteForceTopK(sample, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    val recallStats = exact.join(pq, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    emb.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(codeStats).crossJoin(recallStats)
      .select(col("n_vectors"), col("n_encoded"), col("n_exact"),
        (col("n_encoded") === col("n_vectors") &&
          col("__mn") === m && col("__mx") === m &&
          col("__cmin") >= 0 && col("__cmax") < ksub).as("codes_ok"),
        (coalesce(col("__hits"), lit(0)) >= col("n_exact") * lit(0.9)).as("recall_ok"))
  }

  // IVF-PQ — both scale levers composed into the canonical production
  // index: the coarse quantizer restricts each query to a cell-equi
  // join over its probed cells (never all-pairs), and inside probed
  // cells candidates are scored by the native PQ-ADC over 16-byte
  // codes, candK=max(100, min(n/10, 20·⌈√n⌉)) exact-rescored (candK
  // must scale — see SimilarityOps.ivfPqCandK). GEOMETRY is the measured
  // knee from `ScaleBench ivf-grid` (see SimilarityOps.ivfPqGeometry):
  // nCells = min(n/4, 4√n), nprobe = nCells/2 — on this near-isotropic
  // corpus recall tracks probed mass; finer cells raise it at fixed mass
  // (200k grid, scan ½: 8 cells → 0.79, 64 → 0.93, 256 → 0.98), so
  // the r12 toy geometry's 0.78 ceiling lifts to ≥0.93 measured and
  // the pin rises 0.65 → 0.9 (IvfPqSpec holds the margin AND the
  // full-open identity: nprobe=nCells + candK=n ≡ brute force).
  // Oracle: corpus counts + literal true.
  q("ann_ivf_pq",
    """WITH k AS (SELECT greatest(1, count(*) // 64) AS k FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(5 * count(CASE WHEN vec_id % (SELECT k FROM k) = 0 THEN 1 END) AS BIGINT) AS n_exact,
      |  true AS recall_ok
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val n = emb.count()
    val sample = emb.filter(
      col("vec_id") % SimilarityOps.sampleModulus(n, 64) === 0)
    val candK = SimilarityOps.ivfPqCandK(n)
    val (nCells, nprobe) = SimilarityOps.ivfPqGeometry(n)
    // modulus 1 = "sample is the whole corpus": pass None so the build
    // reuses trainIvf's own final assignment instead of paying a
    // redundant third corpus-wide assign pass
    val tsMod = SimilarityOps.sampleModulus(n, math.max(512, 32 * nCells))
    val got = SimilarityOps.ivfPqTopK(sample, emb, "vec_id", "embedding",
        dim = 64, m = 16, ksub = 32, nCells = nCells, nprobe = nprobe,
        candK = candK, k = 5,
        trainSample = if (tsMod <= 1) None
          else Some(emb.filter(col("vec_id") % tsMod === 0)))
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    val exact = SimilarityOps.bruteForceTopK(sample, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    val stats = exact.join(got, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    emb.agg(count(lit(1)).as("n_vectors")).crossJoin(stats)
      .select(col("n_vectors"), col("n_exact"),
        (coalesce(col("__hits"), lit(0)) >= col("n_exact") * lit(0.9)).as("recall_ok"))
  }

  // Incremental IVF-PQ maintenance — the ingest half of the
  // build-once/search-many lifecycle: the index (coarse cells + PQ
  // codebooks) is built on the 90% BASE alone, the 10% delta joins
  // via ivfPqAppend (one assign + one encode pass over the delta —
  // O(|delta|), the corpus is untouched, nothing retrains), and the
  // composed search over the appended index must still clear the
  // SAME ≥ 0.9 recall pin as ann_ivf_pq against the brute-force twin
  // on the FULL corpus — i.e. a distribution-stable delta costs no
  // recall even though the frozen structures never saw it (the
  // structures are sample-trained anyway; a 10% stable delta is
  // statistically invisible). codes_ok additionally pins the appended
  // index census: exactly one row per corpus vector, every code array
  // length m within [0, ksub), every cell a valid coarse cell.
  // Bit-parity of append vs build-time encode is IvfPqAppendSpec's
  // job. Oracle: corpus/delta counts + literal trues.
  q("ann_ivf_pq_append",
    """WITH k AS (SELECT greatest(1, count(*) // 64) AS k FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(count(CASE WHEN vec_id % 10 = 0 THEN 1 END) AS BIGINT) AS n_delta,
      |  CAST(5 * count(CASE WHEN vec_id % (SELECT k FROM k) = 0 THEN 1 END) AS BIGINT) AS n_exact,
      |  true AS codes_ok, true AS recall_ok
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    // ONE census job for both sizes (the two counts were two separate
    // driver round-trips over the same scan)
    val censusRow = emb.agg(count(lit(1)).as("n"),
      count(when(col("vec_id") % 10 =!= 0, 1)).as("nb")).collect()(0)
    val (n, nBase) = (censusRow.getLong(0), censusRow.getLong(1))
    val (dim, m, ksub) = (64, 16, 32)
    // the index serves the UNION, so geometry/candK follow the full
    // corpus size — the same laws as ann_ivf_pq
    val candK = SimilarityOps.ivfPqCandK(n)
    val (nCells, nprobe) = SimilarityOps.ivfPqGeometry(n)
    val tsMod = SimilarityOps.sampleModulus(nBase, math.max(512, 32 * nCells))
    val (cents, codebook, codes) = SimilarityOps.buildIvfPq(
      base, "vec_id", "embedding", dim, m, ksub, nCells,
      trainSample = if (tsMod <= 1) None
        else Some(base.filter(col("vec_id") % tsMod === 0)))
    // materialize the appended CODED INDEX once (localCheckpoint):
    // two consumers below (census + ADC search) would otherwise each
    // replay the full assign+encode pass over base and delta — at
    // production tiers the encode IS the dominant cost (~10× the
    // search at 2M, see BENCHNOTES), and the coded index is exactly
    // what a production lifecycle persists between build and search
    // (IvfPqPersistSpec pins the parquet-roundtrip parity). 20 B/row —
    // codes, not vectors.
    val appended = SimilarityOps.ivfPqAppend(delta, "vec_id", "embedding",
      dim, m, cents, codebook, codes).localCheckpoint()
    // appended-index census: one row per corpus vector, m in-range
    // codes, valid coarse cell
    val codeStats = appended.agg(count(lit(1)).as("__n_coded"),
      countDistinct(col("neighbor_id")).as("__n_ids"),
      min(size(col("codes"))).as("__mn"), max(size(col("codes"))).as("__mx"),
      min(array_min(col("codes"))).as("__cmin"),
      max(array_max(col("codes"))).as("__cmax"),
      min(col("cell")).as("__cellmin"), max(col("cell")).as("__cellmax"))
    val sample = emb.filter(
      col("vec_id") % SimilarityOps.sampleModulus(n, 64) === 0)
    val got = SimilarityOps.ivfPqSearch(sample, emb, "vec_id", "embedding",
        dim, m, ksub, cents, codebook, appended, nprobe, candK, k = 5,
        nCellsKnown = Some(nCells.toLong))
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    val exact = SimilarityOps.bruteForceTopK(sample, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    val recallStats = exact.join(got, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    emb.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(delta.agg(count(lit(1)).as("n_delta")))
      .crossJoin(codeStats).crossJoin(recallStats)
      .select(col("n_vectors"), col("n_delta"), col("n_exact"),
        (col("__n_coded") === col("n_vectors") &&
          col("__n_ids") === col("n_vectors") &&
          col("__mn") === m && col("__mx") === m &&
          col("__cmin") >= 0 && col("__cmax") < ksub &&
          col("__cellmin") >= 0 && col("__cellmax") < nCells).as("codes_ok"),
        (coalesce(col("__hits"), lit(0)) >= col("n_exact") * lit(0.9)).as("recall_ok"))
  }

  // Filtered ANN — the filterable-attribute feature of production
  // vector indexes: top-k among corpus rows satisfying a metadata
  // predicate (here label < 3, ~30% selectivity). The index stores
  // the attribute NEXT TO the 16-byte codes (buildIvfPq metaCols), so
  // the predicate PRE-filters the coded stream map-side — rows
  // failing it are never ADC-scored, never heaped, never rescored —
  // instead of post-filtering an inflated k (which can return < k
  // survivors at any inflation). One index serves every filter; candK
  // follows the SAME √n law as ann_ivf_pq but applied to the FILTERED
  // count (candidates are drawn from the filtered domain); coarse
  // geometry follows the INDEXED corpus (the index is built once,
  // filters vary per query batch). Recall is pinned against brute
  // force over the pre-filtered corpus, filter_ok pins zero
  // predicate violations among returned neighbors (the exact
  // guarantee post-filtering lacks). PROBE SCALING (measured, the
  // FilterDiag finding): filtered true neighbors have weaker cosine
  // than unfiltered ones, so at the base half-mass probe the
  // query-centroid ranking misses their cells — recall 0.88 vs the
  // 0.9 pin at n=500/nF≈150. The production rule is inverse-
  // selectivity probing: nprobeF = min(nCells, ⌈nprobe·n/nF⌉), which
  // keeps the EXPECTED FILTERED ROWS SCANNED equal to the unfiltered
  // scan (the filter drops non-matching rows map-side, so ADC cost
  // in rows is unchanged; only the centroid-ranking mass grows by
  // 1/selectivity — measured recall 1.0 at both gate tiers). Oracle:
  // corpus/filter counts + literal trues.
  q("ann_ivf_pq_filtered",
    """WITH k AS (SELECT greatest(1, count(*) // 64) AS k FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(count(CASE WHEN label < 3 THEN 1 END) AS BIGINT) AS n_pass,
      |  CAST(5 * count(CASE WHEN vec_id % (SELECT k FROM k) = 0 THEN 1 END) AS BIGINT) AS n_exact,
      |  true AS filter_ok, true AS recall_ok
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val pred = col("label") < 3
    val n = emb.count()
    val nF = emb.filter(pred).count()
    val sample = emb.filter(
      col("vec_id") % SimilarityOps.sampleModulus(n, 64) === 0)
    // candK law on the FILTERED count: the pool the heap draws from
    val candK = SimilarityOps.ivfPqCandK(nF)
    val (nCells, nprobe) = SimilarityOps.ivfPqGeometry(n)
    // inverse-selectivity probe scaling — see the row comment
    val nprobeF = SimilarityOps.filteredNprobe(nCells, nprobe, n, nF)
    val tsMod = SimilarityOps.sampleModulus(n, math.max(512, 32 * nCells))
    val got = SimilarityOps.ivfPqTopK(sample, emb, "vec_id", "embedding",
        dim = 64, m = 16, ksub = 32, nCells = nCells, nprobe = nprobeF,
        candK = candK, k = 5,
        trainSample = if (tsMod <= 1) None
          else Some(emb.filter(col("vec_id") % tsMod === 0)),
        metaCols = Seq("label"), preFilter = Some(pred))
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    // zero violations: every returned neighbor resolves in the corpus
    // AND satisfies the predicate
    val filterStats = got.join(
        emb.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"), "left")
      .agg(sum(when(pred, lit(0)).otherwise(lit(1))).as("__viol"))
    val exact = SimilarityOps.bruteForceTopK(sample, emb.filter(pred),
        "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
    val recallStats = exact.join(got, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    emb.agg(count(lit(1)).as("n_vectors"),
        sum(when(pred, lit(1)).otherwise(lit(0))).cast("long").as("n_pass"))
      .crossJoin(filterStats).crossJoin(recallStats)
      .select(col("n_vectors"), col("n_pass"), col("n_exact"),
        (coalesce(col("__viol"), lit(0)) === 0).as("filter_ok"),
        (coalesce(col("__hits"), lit(0)) >= col("n_exact") * lit(0.9)).as("recall_ok"))
  }

  // IVF training end-to-end: Lloyd iterations from deterministic hash
  // init. Iterative float means aren't reasonably ANSI-SQL-expressible,
  // so the hashed row pins the training INVARIANTS instead of raw
  // centroids: every vector assigned exactly once to a valid cell,
  // and mean centroid-affinity after 3 iterations ≥ after 1 (the
  // k-means descent direction; measured +21% at every sf). Oracle:
  // corpus count + literal trues.
  q("ann_ivf_train",
    """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(count(*) AS BIGINT) AS n_assigned,
      |  CAST(count(*) AS BIGINT) AS n_ids,
      |  true AS all_assigned, true AS cells_valid, true AS affinity_improved
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    // ONE training run: the iteration hook captures mean affinity
    // after iteration 1 while its input is still cached (a second
    // trainIvf(iters=1) run would repeat the whole first iteration)
    var after1 = Double.NaN
    // localCheckpoint: this row HASHES the assignment census
    // (n_assigned / n_ids ride in the oracle), and r13's map-only
    // trainIvf no longer materializes internally — this restores the
    // pre-r13 materialize-once input for the census aggregate. The
    // documented 4-way-concurrency flake recurred on the map-only
    // shape's first gate run (n_ids 500 → 484, n_assigned steady —
    // the diagnosis columns doing their job); the other IVF consumers
    // keep the map-only plan because their rows pin recall booleans
    // with margins, not exact censuses.
    val a3 = SimilarityOps.trainIvf(emb, "vec_id", "embedding", k = 8, iters = 3,
      onIteration = (i, re) =>
        if (i == 1) after1 = re.agg(avg("cos")).head().getDouble(0))
      .localCheckpoint()
    val stats3 = a3.agg(count(lit(1)).as("__n_assigned"),
      countDistinct(col("id")).as("__n_ids"),
      min("assigned_cell").as("__min_c"), max("assigned_cell").as("__max_c"),
      avg("cos").as("__a3"))
    // n_assigned / n_ids ride ALONG as oracled columns (the oracle
    // recomputes both as count(*)): one full-gate run flaked
    // all_assigned=false under 4-way concurrency (never reproduced in
    // 9 targeted re-runs); if it recurs, the correctness file itself
    // now shows WHICH count drifted and by how much, instead of one
    // opaque boolean.
    emb.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(stats3)
      .select(col("n_vectors"),
        col("__n_assigned").cast("long").as("n_assigned"),
        col("__n_ids").cast("long").as("n_ids"),
        (col("__n_assigned") === col("n_vectors") &&
          col("__n_ids") === col("n_vectors")).as("all_assigned"),
        (col("__min_c") >= 0 && col("__max_c") <= 7).as("cells_valid"),
        (col("__a3") >= lit(after1)).as("affinity_improved"))
  }

  // Cluster-balanced (diversity) sampling — quota per SEMANTIC
  // cluster (IVF cells over the embeddings) instead of per metadata
  // column (tx_cap_per_source): the curation step that flattens a
  // corpus's dense modes before mixing. k-means cells aren't
  // ANSI-SQL-expressible, so (the ann_ivf_train convention) the
  // hashed row pins the operator's INVARIANTS: every one of the 8
  // cells contributes exactly quota=16 survivors (the corpus is
  // near-isotropic, so each cell holds ≫ quota members at sf ≥ 0.01),
  // total = 128, ranks within [1, quota], ids distinct — plus corpus
  // counts the oracle recomputes. Selection order is a content hash
  // (no rand(): replay-/retry-invariant), within-cell top-quota runs
  // on the heap TopKPerGroup (shuffle carries ≤ quota rows per
  // (cell, partition) — never a per-cell sort).
  q("tx_cluster_sample",
    """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(128 AS BIGINT) AS n_taken,
      |  true AS balanced_ok, true AS ranks_ok
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val n = emb.count()
    val (nCells, quota) = (8, 16)
    val taken = SimilarityOps.clusterBalancedSample(emb, "vec_id", "embedding",
      nCells, quota,
      trainSample = Some(emb.filter(
        col("vec_id") % SimilarityOps.sampleModulus(n, 512) === 0)))
    val stats = taken.agg(
      count(lit(1)).as("__n_taken"),
      countDistinct(col("id")).as("__n_ids"),
      countDistinct(col("cell")).as("__n_cells"),
      max(col("rn")).as("__max_rn"),
      min(col("rn")).as("__min_rn"))
    val perCell = taken.groupBy("cell").count()
      .agg(min("count").as("__cmin"), max("count").as("__cmax"))
    emb.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(stats).crossJoin(perCell)
      .select(col("n_vectors"),
        col("__n_taken").as("n_taken"),
        (col("__n_cells") === nCells && col("__cmin") === quota &&
          col("__cmax") === quota &&
          col("__n_ids") === col("__n_taken")).as("balanced_ok"),
        (col("__min_rn") === 1 && col("__max_rn") === quota).as("ranks_ok"))
  }

  // Embedding near-dup, FIRST-CLASS plan: banded RHP LSH candidates
  // (radius-1 multiprobe) + exact-cosine verification — equi-joins
  // only, no BroadcastNestedLoopJoin (asserted in the plan spec).
  // Threshold 0.45 sits where this corpus actually HAS pairs (its
  // strongest pair is cos≈0.51), so the check pins a non-vacuous
  // recall. The hashed row carries the SAMPLED exact-twin pair count
  // (pairs incident to a fixed ~512-id modulus sample — the oracle
  // recomputes it with DuckDB list arithmetic, bit-identical cosine
  // folds) plus measured recall on those pairs ≥ 0.9. The twin is
  // O(n·s): the LSH path answers the FULL corpus; only verification
  // is sampled, so the query survives 100× where the former full
  // all-pairs twin was the repo's one quadratic residue.
  q("dd_embedding_lsh",
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |k AS (SELECT greatest(1, count(*) // 512) AS k FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_pinned_pairs, true AS recall_ok
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE (a.vec_id % (SELECT k FROM k) = 0 OR b.vec_id % (SELECT k FROM k) = 0)
      |  AND list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(a.embedding)),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |    (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.45""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val k = SimilarityOps.sampleModulus(emb.count(), 512)
    val sample = emb.filter(col("vec_id") % k === 0)
    val lsh = SimilarityOps.embeddingLshPairsAuto(emb,
        "vec_id", "embedding", dim = 64, bands = 0, minSim = 0.45)
      .select(col("id_a"), col("id_b"), lit(1).as("__hit"))
    val exact = SimilarityOps.cosinePairsFor(sample, emb,
        "vec_id", "embedding", minSim = 0.45)
      .select(col("id_a"), col("id_b"))
    exact.join(lsh, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_pinned_pairs"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
      .select(col("n_pinned_pairs"),
        (coalesce(col("__hits"), lit(0)) >= col("n_pinned_pairs") * lit(0.9)).as("recall_ok"))
  }

  // Embedding-SKEW robustness under the bucket cap — the r11
  // `ScaleBench vec-skew` contract promoted to a driver-hashed row. A planted
  // hot cluster (vec_id % 5 = 2, 20% of the corpus, all sharing ONE
  // exact vector — duplicated-asset skew, where every hot-hot pair is
  // a true near-dup and a naive miner pays the (n/5)²/2 quadratic
  // bill) is injected Spark-side; the cold 80% keep their original
  // embeddings. The miner runs with an explicit cap of nHot/2: the
  // hot mega-bucket (≥ nHot members in EVERY band — identical vectors
  // have identical signatures) is excised deterministically, so the
  // row pins hot_hot_pairs = 0 exactly (bounded hot cost), while
  // typical cold buckets (~targetBucket = 32 ≪ nHot/2) survive and
  // remainder recall vs the cold-population exact twin must hold
  // ≥ 0.9 (intact remainder). The oracle recomputes the sampled
  // cold-cold exact pair count with DuckDB list arithmetic
  // (bit-identical cosine folds — cold embeddings are untouched by
  // the plant) and pins the two skew booleans plus the literal 0.
  q("dd_embedding_lsh_vskew",
    """WITH cold AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 != 2),
      |v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nrm
      |  FROM cold),
      |k AS (SELECT greatest(1, count(*) // 512) AS k FROM cold)
      |SELECT CAST(count(*) AS BIGINT) AS n_pinned_pairs,
      |  true AS remainder_recall_ok,
      |  CAST(0 AS BIGINT) AS hot_hot_pairs, true AS hot_excised_ok
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE (a.vec_id % (SELECT k FROM k) = 0 OR b.vec_id % (SELECT k FROM k) = 0)
      |  AND list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(a.embedding)),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |    (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.45""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val isHot = col("vec_id") % 5 === 2
    // the planted cluster vector: any fixed non-degenerate direction
    // works — the pin is about bucket geometry, not its value
    val planted = transform(sequence(lit(0), lit(63)),
      i => sin(i.cast("double") + lit(1.0)).cast("float"))
    val fix = emb.select(col("vec_id"),
      when(isHot, planted).otherwise(col("embedding")).as("embedding"))
    val n = emb.count()
    val nHot = emb.filter(isHot).count()
    val cold = emb.filter(!isHot)
    val lsh = SimilarityOps.embeddingLshPairs(fix, "vec_id", "embedding",
        dim = 64, bands = SimilarityOps.autoBands(n, 0.45),
        bitsPerBand = SimilarityOps.autoBitsPerBand(n), minSim = 0.45,
        maxBucket = Some(math.max(2L, nHot / 2).toInt), capQuantile = None)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val k = SimilarityOps.sampleModulus(n - nHot, 512)
    val sample = cold.filter(col("vec_id") % k === 0)
    val exact = SimilarityOps.cosinePairsFor(sample, cold,
        "vec_id", "embedding", minSim = 0.45)
      .select(col("id_a"), col("id_b"))
    val rec = exact
      .join(lsh.withColumn("__hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_pinned_pairs"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    val hot = lsh.agg(coalesce(sum(
        when(col("id_a") % 5 === 2 && col("id_b") % 5 === 2, 1L)),
      lit(0L)).as("hot_hot_pairs"))
    rec.crossJoin(hot)
      .select(col("n_pinned_pairs"),
        (coalesce(col("__hits"), lit(0)) >=
          col("n_pinned_pairs") * lit(0.9)).as("remainder_recall_ok"),
        col("hot_hot_pairs"),
        (col("hot_hot_pairs") === 0).as("hot_excised_ok"))
  }

  // Embedding-cosine near-duplicate detection, the exact oracle twin
  // of dd_embedding_lsh: brute-force all pairs above threshold —
  // correctness ground truth at small n, NOT the production plan.
  q("dd_embedding_cosine",
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  floor((list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(a.embedding)),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |    (x, y) -> x + y) / (a.nrm * b.nrm)) * 1e4 + 0.5 + 1e-6) / 1e4 AS cos
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(a.embedding)),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |    (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.45
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    SimilarityOps.cosinePairs(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", minSim = 0.45)
      .orderBy("id_a", "id_b")
  }

  // Embedding duplicate CLUSTERS: exact cosine pairs (τ = 0.4) fed
  // into min-label connected components — the "collapse near-dup
  // groups" step run on embedding- rather than text-similarity edges.
  // Every vector gets a cluster label (singletons label themselves and
  // never enter the iteration). Oracle: recursive-CTE transitive
  // closure over the same exact pair set, min-reachable-id label.
  q("dd_embedding_clusters",
    """WITH RECURSIVE v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  WHERE list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(generate_series(1, len(a.embedding)),
      |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |      (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.4),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.id)
      |SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin) { (s, dir) =>
    // `exact = true` is the oracle-baseline escape hatch — the
    // operator's DEFAULT edge build is the banded-LSH path
    // (dd_embedding_clusters_lsh exercises it); the all-pairs build
    // exists only so this query can be the recursive-CTE-checkable
    // ground truth at small n.
    SimilarityOps.embeddingClusters(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, minSim = 0.4, exact = true)
      .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"))
      .orderBy("vec_id")
  }

  // Embedding duplicate clusters, FIRST-CLASS plan: the SAME
  // min-label connected components, but over LSH-candidate edges
  // (banded RHP + exact-cosine verification) instead of exact
  // all-pairs — O(candidates), never O(n²). dd_embedding_clusters
  // above stays as the small-n oracle twin; cluster-level agreement
  // between the two plans is spec-asserted (LshRecallSpec).
  //
  // CC algorithm choice, measured both ways at sf0.1: min-label
  // propagation (2 shuffles/round × ~17 rounds) beats large/small-star
  // contraction (6 shuffles/round × ~8 rounds) 14 s vs 43 s here —
  // per-round fixed cost dominates at this edge count, and this
  // graph's diameter is shallow. Star CC (`connectedComponentsStar`,
  // checked by `gr_components_star` + StarCcSpec) is the right tool
  // when diameter is unknown/deep; min-label now WARNS if it exits
  // unconverged instead of silently mislabeling.
  // The hashed row pins the two ingredients of the LSH clustering's
  // correctness, each at the cost that survives 100×:
  //   (1) EDGE RECALL on a fixed ~512-id modulus sample — exact
  //       τ-pairs incident to the sample (O(n·s), SQL-recomputable)
  //       covered by the LSH-verified pair set at ≥ 0.9;
  //   (2) CC CONSISTENCY — O(edges) invariants of the labeling: every
  //       vector labeled exactly once, every LSH edge's endpoints
  //       share a label (catches component splits), and every
  //       cluster's label IS its minimum member id (catches label
  //       bugs). Cross-ALGORITHM agreement (union-find vs distributed
  //       min-label vs star contraction) is spec territory —
  //       StarCcSpec asserts all three strategies agree on chains,
  //       merges, random graphs — because a second CC run costs
  //       diameter × per-round job overhead in the benched query while
  //       adding nothing these invariants plus edge recall don't pin.
  // Full-corpus label agreement vs the exact all-pairs clustering —
  // the former O(n²) pin here — lives on as dd_embedding_clusters
  // (the small-n oracle baseline) + LshRecallSpec's spec assertion.
  q("dd_embedding_clusters_lsh",
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |k AS (SELECT greatest(1, count(*) // 512) AS k FROM embeddings),
      |sp AS (
      |  SELECT count(*) AS n_pinned_pairs
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  WHERE (a.vec_id % (SELECT k FROM k) = 0 OR b.vec_id % (SELECT k FROM k) = 0)
      |    AND list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(generate_series(1, len(a.embedding)),
      |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |      (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.4)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
      |  CAST(n_pinned_pairs AS BIGINT) AS n_pinned_pairs,
      |  true AS recall_ok, true AS cc_consistent
      |FROM sp""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val k = SimilarityOps.sampleModulus(emb.count(), 512)
    val sample = emb.filter(col("vec_id") % k === 0)
    // the verified LSH edge set feeds the recall join, the clustering,
    // and the consistency checks — materialize it once. Cluster caveat:
    // localCheckpoint TRUNCATES lineage and keeps its blocks on
    // executors, so an executor loss makes them unrecoverable and fails
    // the query (re-running it is the recovery path). Fine here — the
    // edge build is minutes, idempotent, and cheap to re-run; a
    // long-lived production job that cannot afford a restart should use
    // reliable checkpoint() to durable storage instead.
    val lshPairs = SimilarityOps.embeddingLshPairsAuto(emb,
        "vec_id", "embedding", dim = 64, bands = 0, minSim = 0.4)
      .localCheckpoint()
    val exact = SimilarityOps.cosinePairsFor(sample, emb,
        "vec_id", "embedding", minSim = 0.4)
      .select(col("id_a"), col("id_b"))
    val recall = exact
      .join(lshPairs.select(col("id_a"), col("id_b"), lit(1).as("__hit")),
        Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_pinned_pairs"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    // the operator under test: default (LSH-edged) embedding clusters
    val labels = graft.operators.RelationalOps.connectedComponents(
        emb.select(col("vec_id")), "vec_id", lshPairs, "id_a", "id_b")
      .localCheckpoint()
    // split check: an edge whose endpoints got different labels means
    // a component was torn apart
    val edgeCheck = lshPairs
      .join(labels.select(col("vec_id").as("id_a"), col("cluster_id").as("__la")), "id_a")
      .join(labels.select(col("vec_id").as("id_b"), col("cluster_id").as("__lb")), "id_b")
      .agg(sum(when(col("__la") =!= col("__lb"), 1L).otherwise(0L)).as("__splits"))
    // min-membership: a cluster's id must be the min id it contains;
    // and every vector labeled exactly once
    val labelCheck = labels
      .agg(count(lit(1)).as("__n"), countDistinct(col("vec_id")).as("__nd"))
    val minCheck = labels.groupBy("cluster_id")
      .agg(min("vec_id").as("__m"))
      .agg(sum(when(col("__m") =!= col("cluster_id"), 1L).otherwise(0L)).as("__badmin"))
    emb.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(recall).crossJoin(edgeCheck).crossJoin(labelCheck).crossJoin(minCheck)
      .select(col("n_vectors"), col("n_pinned_pairs"),
        (coalesce(col("__hits"), lit(0)) >= col("n_pinned_pairs") * lit(0.9)).as("recall_ok"),
        (coalesce(col("__splits"), lit(0)) === 0 &&
          coalesce(col("__badmin"), lit(0)) === 0 &&
          col("__n") === col("n_vectors") &&
          col("__nd") === col("n_vectors")).as("cc_consistent"))
  }

  // PCA-accelerated two-stage top-k (SimilarityOps.pcaTopK): stage 1
  // ranks candidates by cosine in 16-of-64-dim PCA space (4× cheaper
  // per pair), stage 2 rescores the top-(n/20) survivors at full
  // width (candidates scale with the corpus: a fixed candidate count
  // would dilute recall as n grows). The hashed row pins measured
  // top-5 recall vs the brute-force twin on a fixed ~256-query sample.
  // THIS corpus is near-isotropic — 16 dims hold only ~26% of
  // variance, the worst case for projection-based pruning — so the
  // floor is 0.5 (measured 0.744 sf0.01 / 0.564 sf0.1 / 0.754
  // sf0.001); a random 5%-of-n candidate set would score ~0.05, so
  // the pin still proves the reduced-space ranking carries signal.
  // On clustered embeddings (PCA's actual use case) the same operator
  // measures ≥ 0.95 (PcaSpec clustered-geometry test).
  q("ann_pca_topk",
    """WITH k AS (SELECT greatest(1, count(*) // 256) AS k FROM embeddings)
      |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(5 * count(CASE WHEN vec_id % (SELECT k FROM k) = 0 THEN 1 END) AS BIGINT) AS n_exact,
      |  true AS recall_ok
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    // FIXED ~256-query modulus sample for both the PCA ranking's query
    // side and its brute-force recall twin: the twin stays O(n·s) (the
    // former 1-in-4 sample made it O(n²/4) — 10,000× the work at 100×
    // data), and the pin's power is unchanged (~256 queries × 5
    // neighbors ≈ 1,280 Bernoulli trials).
    val n = emb.count()
    val kMod = SimilarityOps.sampleModulus(n, 256)
    val sample = emb.filter(col("vec_id") % kMod === 0)
    val (basis, _) = SimilarityOps.pcaBasis(emb, "embedding", k = 16)
    val pca = SimilarityOps.pcaTopK(sample, emb, "vec_id", "embedding",
        basis, candidates = math.max(50, (n / 20).toInt), k = 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    val exact = SimilarityOps.bruteForceTopK(sample, emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val stats = exact.join(pca, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    emb.agg(count(lit(1)).as("n_vectors")).crossJoin(stats)
      .select(col("n_vectors"), col("n_exact"),
        (coalesce(col("__hits"), lit(0)) >= col("n_exact") * lit(0.5)).as("recall_ok"))
  }

  // PCA dimensionality reduction before ANN (SimilarityOps.pcaBasis /
  // pcaProject): covariance Gramian tree-reduced across partitions
  // (O(d²) per partition over the wire, never the vectors), basis
  // eigen-solved on the driver, projection a broadcast-literal
  // zip_with fold — no shuffle. The hashed row carries the EXACT
  // total variance (sum of per-dim population variances — plain SQL
  // both engines compute identically) plus a boolean pinning the
  // distributed-projection variance capture inside its envelope:
  // top-8-of-64 must hold ≥ 13% of total variance and ≤ all of it.
  // This corpus is near-isotropic (measured top-8 fraction 0.205
  // sf0.01 / 0.160 sf0.1 vs the 0.125 isotropic floor), so the pin
  // sits above the floor a perfect-PCA tautology would satisfy but
  // 20%+ below the measured values — it fails on any projection
  // defect (non-orthonormal basis, scaling, wrong fold) while
  // holding across sf under the basis's fixed-partitioning
  // determinism.
  q("ann_pca_project",
    s"""WITH u AS (
      |  SELECT unnest(generate_series(1, len(embedding))) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |pv AS (SELECT i, var_pop(x) AS v FROM u GROUP BY i)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
      |  ${sqlR4("sum(v)")} AS total_var,
      |  true AS captured_ok
      |FROM pv""".stripMargin) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val (basis, _) = SimilarityOps.pcaBasis(emb, "embedding", k = 8)
    val captured = SimilarityOps.pcaProject(emb, "vec_id", "embedding", basis)
      .select(posexplode(col("proj")).as(Seq("j", "p")))
      .groupBy("j").agg(var_pop(col("p")).as("v"))
      .agg(sum("v").as("__captured"))
    val total = emb
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(var_pop(col("x").cast("double")).as("v"))
      .agg(sum("v").as("__total"))
    Tables.load(s, dir, "embeddings").agg(count(lit(1)).as("n_vectors"))
      .crossJoin(total).crossJoin(captured)
      .select(col("n_vectors"), r4(col("__total")).as("total_var"),
        (col("__captured") >= col("__total") * lit(0.13) &&
          col("__captured") <= col("__total") * lit(1.0 + 1e-9)).as("captured_ok"))
  }
}
