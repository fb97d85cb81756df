package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.BooleanType

import graft.Timer.timed
import graft.operators.SimilarityOps
import graft.tools.Inspect

/** The scale harness: measures the engine at 10×–1000× scale (the
  * [[graft.tools.StressGen]] sets) or under a small heap, one
  * subcommand per measurement, over one session. Every record is one
  * JSON line on stdout.
  *
  * Usage: sbt "runMain graft.ScaleBench <cmd> <dir> [args]"
  * {{{
  *   ratio <dirSmall> <dirBig> [q1,q2,…]  each query (default TOP) at both dirs:
  *                                       min-of-3 seconds, ratio, `*_ok` checks
  *   spill <dir> [q1,q2,…]               one run per query: spill, peak task
  *                                       memory, GC, shuffle write, checks
  *   recall <sfDir>                      shipped LSH geometry vs brute force
  *   pq <dir>                            PQ train/encode/search, candK 100 and
  *                                       1000, then composed IVF-PQ
  *   ivfpq <dir> [append|filtered]       the ann_ivf_pq gate row's laws at the tier
  *   ivf-grid <dir> [cells…]             recall and cost over (nCells, nprobe)
  *   lsh <dir> [minSim] [verifyBound]    embedding near-dup mining at τ (0.8)
  *   vec-skew <dir> [minSim]             hot-cluster coverage, remainder recall
  *   stream <dir> [nFiles] [rocksdb]     drain rate of three stateful pipelines
  *   state-backend <dir> [q1,q2,…]       RocksDB vs default-provider parity
  *   sink-hygiene <dir>                  file census, plain vs rebalanced sink
  * }}}
  *
  * Env: `SPARK_GRAFT_CPUS` (`local[n]`, 32 if unset),
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS` (defaults to the cpus),
  * `SPARK_DRIVER_MEM` (the forked heap, build.sbt; `spill` and
  * `state-backend` report it), `SPARK_GRAFT_GRID_NPROBES` (`ivf-grid`).
  *
  * Each subcommand is a function of (session, args, emit), so a spec
  * runs it on the test session and collects its records.
  */
object ScaleBench {
  type Emit = Seq[(String, Any)] => Unit
  type Command = (SparkSession, Seq[String], Emit) => Unit

  /** Most expensive per BENCHNOTES round-9 isolated top-15, plus the
    * flagship composites and the recall-pinned ANN/dedup surface.
    */
  private val TOP: Seq[String] = Seq(
    "dd_embedding_clusters_lsh", "ann_ivf_train", "ann_pca_topk",
    "dd_repeated_spans", "gr_components_star", "a11_tdigest",
    "dd_embedding_lsh", "tx_bpe_apply", "gr_pagerank", "dd_containment",
    "gr_bfs", "dd_canonical", "mm_embed_neardup", "a11_tdigest_rollup",
    "dd_minhash_lsh", "dd_ngram_jaccard", "dd_simhash", "dd_clusters",
    "pipe_mart", "pipe_curate", "j6_star_join", "tx_tfidf",
    "ann_lsh_topk", "ann_ivf_search", "dd_chunk_dedup", "tx_quality",
    "w1_window_dedup", "dq_profile")

  val commands: Map[String, Command] = Map(
    "ratio" -> ratio _, "spill" -> spill _, "recall" -> recall _,
    "pq" -> pq _, "ivfpq" -> ivfpq _, "ivf-grid" -> ivfGrid _,
    "lsh" -> lsh _, "vec-skew" -> vecSkew _, "stream" -> stream _,
    "state-backend" -> stateBackend _, "sink-hygiene" -> sinkHygiene _)

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.flatMap(commands.get).getOrElse(sys.error(
      s"usage: ScaleBench <${commands.keys.toSeq.sorted.mkString("|")}> <dir> [args]"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Independent shuffle-partition override: partition count is THE
    // per-task memory knob at scale (hash-agg/join state per partition
    // shrinks as partitions grow) — the constrained-memory sweep uses
    // this to measure how much spill the standard knob recovers, and
    // the 20M vec-skew tier needs finer partitions than cores (32
    // concurrent ~240 MB band-bucket maps exhausted a 24 g heap).
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = GraftExtensions.session(s"local[$cpus]", parts.toInt)
    try cmd(spark, args.toSeq.drop(1), rec => println(Json.line(rec)))
    finally spark.stop()
  }

  // ---- shared helpers --------------------------------------------------

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The conjunction of `df`'s self-check columns over every row (true
    * when it has none). Self-checks follow the `*_ok` naming
    * convention; a bare boolean is DATA (dd_canonical's is_kept is
    * false for every non-survivor row) and must not be conjoined.
    */
  private def checksOk(df: DataFrame): Boolean = {
    val oks = df.schema.fields
      .filter(f => f.dataType == BooleanType && f.name.endsWith("_ok"))
      .map(f => col(f.name))
    oks.isEmpty || df.agg(min(oks.reduce(_ && _))).collect()(0).getBoolean(0)
  }

  /** Drop persisted RDDs, cached frames and the temp-view memo (the
    * next query may read another dir).
    */
  private def clearState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
    Tables.resetRegistration()
  }

  /** `body` on a fresh temp dir that is deleted afterwards: at the 10×
    * tier `stream` stages a full copy of a 10M-row events table, and
    * the temp disk is the resource the decade sweeps found constrained.
    */
  private def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    try body(dir) finally rm(dir.toFile)
  }

  /** (rows of `exact`, the share of them `got` also holds — 1.0 when
    * `exact` is empty), rows matched on `keys`.
    */
  private def recallOn(exact: DataFrame, got: DataFrame, keys: String*): (Long, Double) = {
    val truth = exact.select(keys.map(col): _*).localCheckpoint()
    val n = truth.count()
    val hits = truth.join(got.select(keys.map(col): _*).distinct(), keys).count()
    (n, if (n == 0) 1.0 else hits.toDouble / n)
  }

  /** [[recallOn]] for (query_id, neighbor_id) top-k answers. */
  private def topKRecall(exact: DataFrame, got: DataFrame): (Long, Double) =
    recallOn(exact, got, "query_id", "neighbor_id")

  /** [[recallOn]] for (id_a, id_b) similar pairs. */
  private def pairRecall(exact: DataFrame, got: DataFrame): (Long, Double) =
    recallOn(exact, got, "id_a", "id_b")

  private def queryList(arg: Option[String], default: Seq[String]): Seq[String] =
    arg.map(_.split(",").toSeq.map(_.trim)).getOrElse(default)

  /** Each query's record from `body`, or its `error` record, with state
    * cleared after each: a failing query (an OOM-shaped operator under
    * `spill`) is recorded rather than wedging the sweep.
    */
  private def eachQuery(spark: SparkSession, names: Seq[String], emit: Emit,
                        tag: (String, Any)*)(body: String => Seq[(String, Any)]): Unit =
    names.foreach { name =>
      val rec = try body(name) catch { case e: Throwable =>
        Seq("query" -> name) ++ tag :+
          ("error" -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      } finally clearState(spark)
      emit(rec)
    }

  private def heap: String = sys.env.getOrElse("SPARK_DRIVER_MEM", "16g")

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))

  /** Embeddings spread over the core count and checkpointed: a map-only
    * pass (assign, encode) inherits scan splits, and a stress set is a
    * handful of files (a 50 MB table is 2 splits, serializing the flop
    * wall onto 2 of 32 cores) where a cluster scan is thousands —
    * measure the loop, not the file count.
    */
  private def spreadEmbeddings(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).repartition(spark.sparkContext.defaultParallelism).localCheckpoint()

  private def sampleOf(emb: DataFrame, n: Long, target: Int): DataFrame =
    emb.filter(col("vec_id") % SimilarityOps.sampleModulus(n, target) === 0)

  // ---- subcommands -----------------------------------------------------

  /** Empirical scaling comparator: the same queries at two data dirs
    * (canonically sf0.1 and a StressGen 10× set), Bench's methodology
    * (warm run + min-of-3 noop-sink materializations) at each, with
    * the conjunction of every `*_ok` self-check — so LSH geometry
    * claims are MEASURED as n grows, not argued.
    *
    * Neither dir gets the other's warm-up: both run once untimed before
    * either is timed, and the three timed rounds alternate which dir
    * goes first (small, big | big, small | small, big). Timing one dir
    * to the end before the other left the JIT and class-loading
    * warm-up on the first dir's runs: the same dir on both sides read
    * 0.72 where the truth is 1.0. State is cleared after every run, so
    * no run reads a frame another one persisted.
    */
  def ratio(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val Seq(dirA, dirB) = args.take(2)
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm
    eachQuery(spark, queryList(args.lift(2), TOP), emit) { name =>
      val query = SparkEntry.queries(name)
      def at[T](dir: String)(body: DataFrame => T): T =
        try body(query(spark, dir)) finally clearState(spark)
      def time(small: Boolean): Double = at(if (small) dirA else dirB)(df => timed(noop(df))._2)
      Seq(true, false).foreach(time) // codegen warm at both
      val runs = Seq(true, false, false, true, true, false).map(small => small -> time(small))
      def best(small: Boolean): Double = runs.collect { case (`small`, t) => t }.min
      val (tA, tB) = (best(true), best(false))
      val (okA, okB) = (at(dirA)(checksOk), at(dirB)(checksOk))
      Seq("query" -> name, "small_sec" -> tA, "big_sec" -> tB,
        "ratio" -> tB / math.max(tA, 1e-9), "checks_small" -> okA, "checks_big" -> okB)
    }
  }

  /** Constrained-memory spill sweep: at 100 TB the binding constraint
    * is per-task memory, and the question is whether each operator
    * DEGRADES (spills, keeps going) or DIES (OOM, unspillable state)
    * when the heap is small. The axes are `SPARK_DRIVER_MEM`,
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` (more partitions → less state per
    * task → less spill, the standard first response on a cluster) and
    * `SPARK_GRAFT_CPUS` (tasks sharing the heap).
    *
    * ONE timed run per query, no warm run: spill behavior, not latency
    * noise, is the measurand, and a warm run under memory pressure
    * would distort the page cache. The task counters come from
    * [[Inspect.record]] over that run; the self-checks are evaluated
    * after it, so a spill that silently corrupts results fails here.
    */
  def spill(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val dir = args.head
    emit(Seq("sweep" -> "spill", "heap" -> heap,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "dir" -> dir))
    def mb(bytes: Long): Double = bytes / 1048576.0
    eachQuery(spark, queryList(args.lift(1), TOP), emit) { name =>
      val query = SparkEntry.queries(name)
      val (sec, rec) = Inspect.record(spark)(timed(noop(query(spark, dir)))._2)
      val st = rec.stages.values.toSeq
      Seq("query" -> name, "sec" -> sec,
        "spill_mem_mb" -> mb(st.map(_.memSpilledBytes).sum),
        "spill_disk_mb" -> mb(st.map(_.diskSpilledBytes).sum),
        "peak_task_mem_mb" -> mb(st.map(_.peakMemBytes).maxOption.getOrElse(0L)),
        "gc_sec" -> st.map(_.gcMs).sum / 1000.0,
        "shuffle_write_mb" -> mb(st.map(_.shuffleWriteBytes).sum),
        "checks" -> checksOk(query(spark, dir)))
    }
  }

  /** ANN and near-dup recall of the shipped LSH geometry against the
    * brute-force twins on a real sf directory — the per-round check
    * that the corpus-size-derived band width keeps recall as the
    * testdata grows.
    */
  def recall(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val sfDir = args.head
    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val (_, topk) = topKRecall(
      SimilarityOps.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 5),
      SimilarityOps.lshTopKAuto(emb, "vec_id", "embedding", dim = 64, bands = 8, k = 5))
    val (exactPairs, pairs) = pairRecall(
      SimilarityOps.cosinePairs(emb, "vec_id", "embedding", 0.45),
      SimilarityOps.embeddingLshPairsAuto(
        emb, "vec_id", "embedding", dim = 64, bands = 12, minSim = 0.45))
    emit(Seq("n" -> n, "bits" -> SimilarityOps.autoBitsPerBand(n), "topk_recall" -> topk,
      "pair_recall" -> pairs, "exact_pairs" -> exactPairs, "sf" -> sfDir))
  }

  /** Product-quantization search across the decade tiers — the
    * compression path's cost/recall law. The driver-hashed row
    * (`ann_pq_topk`) pins recall at the oracle-gate scale; this
    * measures the SAME operators (512-sample codebook training, full
    * corpus encode, ADC scan + exact rescore) at any tier, with recall
    * against the brute-force twin on a fixed 64-query sample, at two
    * candK tiers: 100, the fixed-rescore production setting (O(n) scan
    * of 16-byte codes + 100 full-precision dots per query), and 1000,
    * the recall-headroom setting that shows how much of a recall gap
    * is candidate selection (recoverable by candK) vs codebook quality.
    * Then one `ivfpq_decade` line for the composed index.
    */
  def pq(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val dir = args.head
    val (dim, m, ksub) = (64, 16, 32)
    val emb = embeddings(spark, dir)
    val n = emb.count()
    val sample = sampleOf(emb, n, 64)

    // train on a FIXED 512-vector sample — O(sample) at any corpus
    val (codebook, trainSec) = timed {
      val c = SimilarityOps.trainPq(sampleOf(emb, n, 512),
        "vec_id", "embedding", dim, m, ksub, iters = 2).cache()
      c.count()
      c
    }
    // encode the full corpus once (the index-build cost at this tier)
    val (codes, encodeSec) = timed(
      SimilarityOps.pqEncode(emb, "vec_id", "embedding", dim, m, codebook).localCheckpoint())
    val nCodes = codes.count()
    require(nCodes == n, s"encode dropped rows: $nCodes of $n")
    // exact twin once (recall denominator for every line)
    val (exact, twinSec) = timed(
      SimilarityOps.bruteForceTopK(sample, emb, "vec_id", "embedding", 5).localCheckpoint())

    for (candK <- Seq(100, 1000)) {
      val (got, searchSec) = timed(SimilarityOps.pqTopKEncoded(sample, emb, "vec_id",
        "embedding", dim, m, ksub, codebook, codes, candK = candK, k = 5).localCheckpoint())
      val (nExact, rec) = topKRecall(exact, got)
      emit(Seq("probe" -> "pq_decade", "dir" -> dir, "n" -> n, "candk" -> candK,
        "train_sec" -> trainSec, "encode_sec" -> encodeSec, "search_sec" -> searchSec,
        "twin_sec" -> twinSec, "n_exact" -> nExact, "recall" -> rec))
    }

    // the composed index: IVF cells on top of the same PQ levers, built
    // inside the call — the one number pins the composed END-TO-END at
    // each decade (the build/search split is `ivfpq`'s job), and the
    // recall shows probe-mass × ADC-quality factoring
    val (ivf, ivfSec) = timed(SimilarityOps.ivfPqTopK(sample, emb, "vec_id", "embedding",
        dim, m, ksub, nCells = 8, nprobe = 4, candK = 1000, k = 5,
        trainSample = Some(sampleOf(emb, n, 512))).localCheckpoint())
    val (nExact, rec) = topKRecall(exact, ivf)
    emit(Seq("probe" -> "ivfpq_decade", "dir" -> dir, "n" -> n, "nprobe" -> 4,
      "cells" -> 8, "candk" -> 1000, "end_to_end_sec" -> ivfSec,
      "n_exact" -> nExact, "recall" -> rec))
  }

  /** The `ann_ivf_pq` gate row at an arbitrary decade tier — SAME laws
    * ([[SimilarityOps.ivfPqCandK]], [[SimilarityOps.ivfPqGeometry]],
    * train sample ≥ 32 points per centroid), build and search timed
    * apart, recall against the brute-force twin on the gate's 64-query
    * sample. The gate pins recall ≥ 0.9 at sf0.01/sf0.1; this prints
    * the same boolean where the index is 10⁴× the gate's corpus.
    *
    *  - `append`: the ingest lifecycle — build on the 90% base
    *    (vec_id % 10 != 0), `ivfPqAppend` the 10% delta, search the
    *    full corpus; `append_sec` must scale with |delta|, not n.
    *  - `filtered`: the filtered-search lifecycle — label =
    *    pmod(xxhash64(vec_id), 10) (the stress sets carry no metadata;
    *    a hash label is geometry-uncorrelated like the testdata's),
    *    index built with metaCols, searched with preFilter label < 3
    *    under the gate row's inverse-selectivity probe law; recall is
    *    against the FILTERED brute twin.
    */
  def ivfpq(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val dir = args.head
    val appendMode = args.lift(1).contains("append")
    val filteredMode = args.lift(1).contains("filtered")
    val (dim, m, ksub) = (64, 16, 32)
    // label derived AFTER the checkpoint so it costs a map
    val emb = spreadEmbeddings(spark, dir)
      .withColumn("label", pmod(xxhash64(col("vec_id")), lit(10)).cast("int"))
    val n = emb.count()
    val pred = col("label") < 3
    val sample = sampleOf(emb, n, 64)

    // the gate rows' laws: candK over the SEARCHED domain (filtered
    // count in filtered mode), coarse geometry over the INDEXED corpus
    val nF = if (filteredMode) emb.filter(pred).count() else n
    val candK = SimilarityOps.ivfPqCandK(nF)
    val (nCells, nprobe0) = SimilarityOps.ivfPqGeometry(n)
    val nprobe = if (!filteredMode) nprobe0
      else SimilarityOps.filteredNprobe(nCells, nprobe0, n, nF)
    val tsMod = SimilarityOps.sampleModulus(n, math.max(512, 32 * nCells))
    val trainSample = if (tsMod <= 1) None
      else Some(emb.filter(col("vec_id") % tsMod === 0))

    val buildOn = if (appendMode) emb.filter(col("vec_id") % 10 =!= 0) else emb
    val ((cents, codebook, baseCodes), buildSec) = timed {
      val (cents, codebook, codes) = SimilarityOps.buildIvfPq(
        buildOn, "vec_id", "embedding", dim, m, ksub, nCells,
        // append mode MUST sample-train (the strict-parity branch — and
        // a base-derived sample keeps the structures blind to the delta)
        if (!appendMode) trainSample
        else trainSample.map(_.filter(col("vec_id") % 10 =!= 0))
          .orElse(Some(buildOn.filter(col("vec_id") % 3 === 0))),
        metaCols = if (filteredMode) Seq("label") else Nil)
      (cents, codebook.localCheckpoint(), codes.localCheckpoint())
    }
    val nBase = baseCodes.count()

    val (codes, appendSec) = timed {
      if (!appendMode) baseCodes
      else SimilarityOps.ivfPqAppend(emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", dim, m, cents, codebook, baseCodes).localCheckpoint()
    }
    val nCoded = codes.count()
    require(nCoded == n, s"index ${if (appendMode) "append" else "build"} " +
      s"dropped rows: $nCoded of $n (base $nBase)")

    val (got, searchSec) = timed(SimilarityOps.ivfPqSearch(sample, emb, "vec_id",
        "embedding", dim, m, ksub, cents, codebook, codes, nprobe, candK, k = 5,
        preFilter = if (filteredMode) Some(pred) else None).localCheckpoint())
    val (exact, twinSec) = timed(SimilarityOps.bruteForceTopK(sample,
      if (filteredMode) emb.filter(pred) else emb, "vec_id", "embedding", 5).localCheckpoint())
    val (nExact, rec) = topKRecall(exact, got)

    val probe =
      if (appendMode) "ivfpq_append_decade"
      else if (filteredMode) "ivfpq_filtered_decade"
      else "ivfpq_decade"
    val appendFields =
      if (appendMode) Seq("append_sec" -> appendSec, "n_base" -> nBase) else Nil
    val filterFields = if (!filteredMode) Nil else {
      val violations = got.join(
          emb.select(col("vec_id").as("neighbor_id"), col("label")), Seq("neighbor_id"), "left")
        .agg(sum(when(pred, lit(0)).otherwise(lit(1)))).collect()(0).getLong(0)
      Seq("n_pass" -> nF, "violations" -> violations)
    }
    emit(Seq("probe" -> probe, "dir" -> dir, "n" -> n, "cells" -> nCells,
      "nprobe" -> nprobe, "candk" -> candK, "build_sec" -> buildSec) ++
      appendFields ++ filterFields ++ Seq("search_sec" -> searchSec,
      "twin_sec" -> twinSec, "n_exact" -> nExact, "recall" -> rec, "recall_ok" -> (rec >= 0.9)))
  }

  /** (nCells, nprobe) geometry grid for the IVF-PQ index — the
    * production-shape measurement behind [[SimilarityOps.ivfPqGeometry]]:
    * FAISS convention puts nCells ≈ 4√n (balancing the per-query
    * centroid ranking, O(nCells), against the probed-cell scan,
    * O(nprobe·n/nCells)), and on a near-isotropic corpus the probe mass
    * needed for a given recall is the open question.
    *
    * Per nCells tier (args, or 8, 64, 256, 1024 and 4√n up to n/8): ONE
    * index build (timed — the n·nCells assign pass is the build's
    * scale axis), then an nprobe sweep over the stored index, each
    * point timed with its recall. The coarse train sample scales with
    * the cell count (≥32 vectors per centroid, the k-means
    * points-per-cluster floor): a fixed 512-vector sample cannot place
    * 4√n centroids.
    */
  def ivfGrid(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val dir = args.head
    val (dim, m, ksub) = (64, 16, 32)
    val emb = spreadEmbeddings(spark, dir)
    val n = emb.count()
    val queries = sampleOf(emb, n, 64)
    val candK = SimilarityOps.ivfPqCandK(n)
    val exact = SimilarityOps.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .localCheckpoint()

    val root4 = (4 * math.ceil(math.sqrt(n.toDouble))).toInt
    val cellTiers =
      if (args.length > 1) args.drop(1).map(_.toInt)
      else Seq(8, 64, 256, 1024, root4).distinct.filter(_ <= n / 8)
    for (nCells <- cellTiers) {
      val ((cents, codebook, codes), buildSec) = timed {
        val (cents, codebook, codes) = SimilarityOps.buildIvfPq(
          emb, "vec_id", "embedding", dim, m, ksub, nCells,
          Some(sampleOf(emb, n, math.max(512, 32 * nCells))))
        (cents, codebook.localCheckpoint(), codes.localCheckpoint())
      }
      val nCoded = codes.count()
      require(nCoded == n, s"index build dropped rows: $nCoded of $n")

      // the power-of-2 sweep plus the half-mass point the gate row
      // actually runs (nCells/2 is rarely a power of 2); at expensive
      // tiers SPARK_GRAFT_GRID_NPROBES="64,2830" trims the sweep to
      // the points worth a multi-minute search each
      val sweep = sys.env.get("SPARK_GRAFT_GRID_NPROBES")
        .map(_.split(",").map(_.trim.toInt).toSeq)
        .getOrElse(Seq(1, 2, 4, 8, 16, 32, 64, 128) :+ math.max(1, nCells / 2))
      for (nprobe <- sweep.distinct.sorted if nprobe <= math.max(1, nCells / 2)) {
        val (got, searchSec) = timed(SimilarityOps.ivfPqSearch(queries, emb, "vec_id",
          "embedding", dim, m, ksub, cents, codebook, codes, nprobe, candK, k = 5)
          .localCheckpoint())
        val (nExact, rec) = topKRecall(exact, got)
        emit(Seq("probe" -> "ivf_grid", "dir" -> dir, "n" -> n, "cells" -> nCells,
          "nprobe" -> nprobe, "scan_frac" -> nprobe.toDouble / nCells, "candk" -> candK,
          "build_sec" -> buildSec, "search_sec" -> searchSec, "n_exact" -> nExact,
          "recall" -> rec))
      }
    }
  }

  /** Embedding near-dup mining at its DESIGN threshold across the
    * decade tiers. The driver-hashed rows pin `dd_embedding_lsh` at
    * τ = 0.45, a deliberately WEAK threshold (the small synthetic
    * corpus has no pairs above it) whose cost law n^(1+ρ), ρ(0.45) ≈
    * 0.62, makes the 1000× tier prohibitive. A production curation
    * pipeline mines NEAR-DUPs (τ ≈ 0.8+), where p(τ) ≥ 0.79 keeps the
    * recall-holding band count small and the exponent mild. This runs
    * [[SimilarityOps.embeddingLshPairsAuto]] with the shipped auto
    * geometry at τ (default 0.8) on the stress tiers (whose generator
    * plants ~1.5% jittered partners at cos ≈ 0.99), recall pinned
    * against the O(n·s) sampled exact twin.
    *
    * The optional broadcast-verify bound (bytes) is the documented
    * sizing knob in action: at n = 2M the vector payload's ~540 MB
    * estimate exceeds the conservative 256 MiB default (which protects
    * a standard executor), routing verification to the dedup-first
    * shuffle shape whose candidate exchange is scratch-bound
    * (measured: disk-full at 13G candidates). A 24 g box CAN hold the
    * ~2 GB broadcast, and the fused branch streams those candidates
    * without materializing them — so the operator's own conf, raised
    * to match the hardware, makes the third decade feasible.
    */
  def lsh(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val dir = args.head
    val minSim = args.lift(1).fold(0.8)(_.toDouble)
    val bound = args.lift(2).map(b => "spark.graft.lsh.broadcastVerifyBound" -> b.toLong.toString)
    // the operator reads the bound from its input's session: load
    // through the clone
    GraftExtensions.isolated(spark, bound.toSeq: _*) { s =>
      val emb = embeddings(s, dir)
      val n = emb.count()
      val (pairs, mineSec) = timed(SimilarityOps.embeddingLshPairsAuto(emb,
          "vec_id", "embedding", dim = 64, bands = 0, minSim = minSim)
        .select(col("id_a"), col("id_b")).localCheckpoint())
      val nPairs = pairs.count()
      // pairs incident to a fixed ~512-id sample, O(n·s) — the
      // dd_embedding_lsh pin
      val (pinned, rec) = pairRecall(SimilarityOps.cosinePairsFor(
        sampleOf(emb, n, 512), emb, "vec_id", "embedding", minSim = minSim), pairs)
      emit(Seq("probe" -> "lsh_decade", "dir" -> dir, "n" -> n, "tau" -> minSim,
        "pairs" -> nPairs, "mine_sec" -> mineSec, "pinned" -> pinned,
        "recall" -> rec, "recall_ok" -> (rec >= 0.9)))
    }
  }

  /** Embedding-skew tier (StressGen `vskew`): one tight cluster holds
    * ~5% of the corpus at pairwise cosine ≈ 0.999 — OUTPUT-VOLUME skew,
    * every hot-hot pair a true near-dup, so a correct miner either
    * pays the ~(0.05·n)²/2 pair bill or the bucket-cap quantile drops
    * the hot buckets. This reports which happened and whether the part
    * that must NOT degrade held:
    *
    *  - `remainder_recall`: sampled exact-twin pair recall restricted
    *    to pairs with NEITHER side hot — must stay ≥ 0.9;
    *  - `hot_pair_coverage`: emitted hot-hot pairs over nHot·(nHot−1)/2
    *    (every such pair is true by construction). 1.0: the cap
    *    admitted the cluster and the miner paid the full, correct
    *    quadratic bill; ~0: the 0.999-quantile cap classified the
    *    cluster's buckets as pathological and bounded the work. Either
    *    is a defensible operating point; the number makes the trade
    *    visible;
    *  - `topk_remainder_recall`: [[SimilarityOps.lshTopKAuto]] top-10
    *    recall over sampled non-hot queries against the non-hot corpus
    *    (a hot query's true top-k is trivially its own cluster).
    *
    * The hot rule is StressGen's (`pmod(xxhash64(vec_id, 'vdup'), 1000)
    * >= 950`), so no side-channel file is needed. The threshold
    * defaults to 0.45 (the dd_embedding_lsh point); the 20M tier runs
    * at 0.8, because the n^(1+ρ) law prices a 0.45 mine at 20M in days
    * while the contracts tested here are threshold-independent (both
    * planted populations sit at cosine ≈ 0.999).
    */
  def vecSkew(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val dir = args.head
    val minSim = args.lift(1).fold(0.45)(_.toDouble)
    def hot(c: String) = pmod(xxhash64(col(c), lit("vdup")), lit(1000L)) >= 950
    val emb = embeddings(spark, dir)
    val n = emb.count()
    val nHot = emb.filter(hot("vec_id")).count()
    val hotTruePairs = nHot * (nHot - 1) / 2

    // pair mine over the FULL corpus (hot cluster included), default
    // auto geometry + default bucket-cap quantile — exactly the
    // dd_embedding_lsh operating point
    val (pairs, mineSec) = timed(SimilarityOps.embeddingLshPairsAuto(emb,
        "vec_id", "embedding", dim = 64, bands = 0, minSim = minSim)
      .select(col("id_a"), col("id_b")).localCheckpoint())
    val nPairs = pairs.count()
    val nHotHot = pairs.filter(hot("id_a") && hot("id_b")).count()
    val hotCoverage = if (hotTruePairs == 0) 1.0 else nHotHot.toDouble / hotTruePairs

    val cold = emb.filter(!hot("vec_id"))
    val k = SimilarityOps.sampleModulus(n, 512)
    val sample = cold.filter(col("vec_id") % k === 0)
    val (pinned, remainderRecall) = pairRecall(
      SimilarityOps.cosinePairsFor(sample, cold, "vec_id", "embedding", minSim = minSim), pairs)

    // lshTopKAuto over the FULL corpus (production never gets to
    // pre-filter the cluster away), judged on non-hot queries against
    // their non-hot brute-force top-10. The LSH side runs at k=25 and
    // is filtered to cold neighbors: a hot vector that LEGITIMATELY
    // outranks a cold one must not read as recall loss, and the
    // 15-rank slack absorbs the few hot crowd-ins a cold query can see
    val topk = SimilarityOps.lshTopKAuto(emb, "vec_id", "embedding", dim = 64, bands = 0, k = 25)
      .filter(!hot("query_id") && !hot("neighbor_id") && col("query_id") % k === 0)
    val (bruteN, topkRecall) = topKRecall(
      SimilarityOps.bruteForceTopK(sample, cold, "vec_id", "embedding", k = 10), topk)

    emit(Seq("probe" -> "vec_skew", "dir" -> dir, "n" -> n, "min_sim" -> minSim,
      "n_hot" -> nHot, "mine_sec" -> mineSec, "lsh_pairs" -> nPairs,
      "hot_true_pairs" -> hotTruePairs, "hot_pair_coverage" -> hotCoverage,
      "remainder_pinned" -> pinned, "remainder_recall" -> remainderRecall,
      "topk_pinned" -> bruteN, "topk_remainder_recall" -> topkRecall))
  }

  /** Sustained THROUGHPUT of the stateful streaming paths — the parity
    * rows pin WHAT the operators emit; this measures how fast the same
    * code drains a real backlog, the capacity-planning number
    * (events/sec/core × cores ≥ ingest rate, or the stream falls behind
    * its watermark forever).
    *
    * The events table is staged as `nFiles` (default 8) mtime-ordered
    * parquet files, drained with Trigger.AvailableNow +
    * maxFilesPerTrigger=1 through each pipeline into a noop sink.
    * rows_per_sec is input rows over wall drain time, micro-batch and
    * planning overhead included. State rows come from the last
    * progress's stateOperators, pinning state ∝ keys/windows, not ∝
    * stream length. `rocksdb` runs the same pipelines on the
    * PRODUCTION state backend: HDFS-backed in-memory state hides the
    * changelog/compaction cost RocksDB pays under sustained
    * multi-batch load, so capacity planning needs both columns.
    */
  def stream(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val dir = args.head
    val nFiles = args.lift(1).fold(8)(_.toInt)
    val provider = args.lift(2).getOrElse("default")
    val rocksdb =
      if (provider == "rocksdb") Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil
    GraftExtensions.isolated(spark, rocksdb: _*) { s =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val total = ev.count()
      emit(Seq("probe" -> "stream_throughput", "dir" -> dir, "rows" -> total,
        "files" -> nFiles, "cpus" -> s.sparkContext.defaultParallelism, "provider" -> provider))

      // nFiles mtime-ordered TIME slices — a backlog drained in
      // event-time order, the realistic catch-up shape. (Id-striping
      // would make every batch span the whole range: the watermark
      // jumps to max−delay after batch 1 and every later batch is
      // wholly late — event-time timeouts then sit before the
      // watermark, which flatMapGroupsWithState rejects by contract.)
      val b = ev.agg(min("ts").cast("long"), max("ts").cast("long")).collect()(0)
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val sliceSec = math.max(1L, (hi - lo) / nFiles + 1)
      withTempDir("graft_tp_in") { stage =>
        (0 until nFiles).foreach { i =>
          withTempDir("graft_tp_part") { tmp =>
            ev.filter((col("ts").cast("long") - lo).divide(sliceSec).cast("int") === i)
              .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
            val dst = stage.resolve(f"b$i%02d.parquet")
            Files.copy(part.toPath, dst)
            dst.toFile.setLastModified(1000000L * (i + 1))
          }
        }

        def run(name: String, build: DataFrame => DataFrame): Unit =
          withTempDir(s"graft_tp_ckpt_$name") { ckpt =>
            val src = s.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(stage.toString)
            val (q, sec) = timed {
              val q = build(src).writeStream.format("noop")
                .option("checkpointLocation", ckpt.toString)
                .outputMode("append")
                .trigger(Trigger.AvailableNow())
                .start()
              if (!q.awaitTermination(1200000)) { q.stop(); sys.error(s"$name timed out") }
              q
            }
            val progress = q.recentProgress.toSeq
            // on-disk state after the drain (snapshot + changelog files
            // for RocksDB, delta files for the default provider) — the
            // disk-capacity side of the state bound
            val stateDir = ckpt.resolve("state").toFile
            def treeBytes(f: java.io.File): Long =
              if (f.isDirectory) f.listFiles().map(treeBytes).sum else f.length
            emit(Seq("pipeline" -> name, "provider" -> provider, "rows" -> total,
              "sec" -> sec, "rows_per_sec" -> (total / sec).toLong,
              "batches" -> progress.count(_.numInputRows > 0),
              "state_rows" -> progress.lastOption
                .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L),
              "state_dir_mb" -> (if (stateDir.isDirectory) treeBytes(stateDir) / 1e6 else -1.0)))
          }

        run("watermark_dedup", _
          .withWatermark("ts", "24 hours")
          .dropDuplicatesWithinWatermark("event_id", "ts"))
        run("hourly_window_agg", _
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
          .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value")))
        run("sessionize_fmgws", src => graft.streaming.Sessionize
          .sessionizeStream(src.select(col("user_id"), col("ts"), col("value")),
            gapMinutes = 30, watermarkDelay = "1 hour").toDF())
      }
    }
  }

  /** The restart rows prove checkpoint-restart for the four stateful
    * operator families (flatMapGroupsWithState, windowed agg,
    * transformWithState, the stream-stream join state manager) and
    * `st_state_bound_parity` adds the fifth state format (streaming
    * dedup), but all except transformWithState run on the default
    * HDFS-backed store. A real cluster runs RocksDB (state off-heap,
    * snapshot/changelog files on the checkpoint volume), so this
    * re-runs each row under RocksDB and hash-compares the output with
    * a default-provider run in the SAME JVM. The default run is the
    * frame the oracle checks at sf0.01, so `match` chains RocksDB
    * parity to the DuckDB oracle. Run it under the `spill` memory axis
    * (`SPARK_DRIVER_MEM=4g`): RocksDB keeps state OFF-heap, so parity
    * must hold where the on-heap provider would be squeezed.
    */
  def stateBackend(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val dir = args.head
    emit(Seq("probe" -> "state_backend", "heap" -> heap, "dir" -> dir))
    val rocksdb = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    eachQuery(spark, queryList(args.lift(1), RESTART_ROWS), emit, "provider" -> "rocksdb") { name =>
      val (hDefault, nDefault) = fingerprint(SparkEntry.queries(name)(spark, dir))
      val ((hRocks, nRocks), sec) = timed(GraftExtensions.isolated(spark, rocksdb) { rocks =>
        fingerprint(SparkEntry.queries(name)(rocks, dir))
      })
      Seq("query" -> name, "provider" -> "rocksdb", "rows" -> nRocks,
        "rows_default" -> nDefault, "match" -> (hRocks == hDefault && nRocks == nDefault),
        "sec" -> sec)
    }
  }

  private val RESTART_ROWS: Seq[String] = Seq(
    "st_restart_parity",       // flatMapGroupsWithState sessionization
    "st_restart_agg_parity",   // windowed aggregation state
    "st_restart_v2_parity",    // transformWithState (RocksDB-native already)
    "st_join_restart_parity",  // stream-stream join state manager
    // streaming-dedup state (key + expiry per row): not a restart row,
    // but its state_bounded_ok column also pins that RocksDB EVICTION
    // matches the default provider's, not just the emitted rows
    "st_state_bound_parity")

  /** Canonical multiset fingerprint (the TaskRetrySpec form: a U+0001
    * field separator so distinct rows cannot collide by concatenation).
    */
  private def fingerprint(df: DataFrame): (Long, Int) = {
    val rows = df.collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
    (rows.foldLeft(1125899906842597L)((acc, r) => acc * 31 + r.hashCode), rows.length)
  }

  /** Output-file hygiene of the partitioned sinks — the reference's own
    * documented production failure (50–200 KB files against a
    * 128–256 MB target, because each task writes one file per partition
    * VALUE it holds: tasks × touched-partitions files). The shipped
    * cure is an AQE `rebalance` hint on the partition columns, which
    * coalesces small partitions and SPLITS oversized ones (bounded file
    * size under day-level skew), which a static `repartition(cols)`
    * cannot. This writes the k1 events sink both ways.
    *
    * `hygiene_ok` is the scale-invariant structural check: mean files
    * per partition dir ≤ 2. At test scale a 128 MB absolute floor is
    * unreachable, but fragmentation (files ≫ dirs) shows at ANY scale.
    */
  def sinkHygiene(spark: SparkSession, args: Seq[String], emit: Emit): Unit = {
    val ev = Tables.load(spark, args.head, "events")
      .withColumn("year", date_format(col("ts"), "yyyy"))
      .withColumn("month", lpad(month(col("ts")).cast("string"), 2, "0"))
      .withColumn("day", lpad(dayofmonth(col("ts")).cast("string"), 2, "0"))
    def sink(name: String, df: DataFrame): Unit = withTempDir(s"graft_hyg_$name") { out =>
      val (_, sec) = timed(df.write.mode("overwrite")
        .partitionBy("year", "month", "day").parquet(out.toString))
      // the shared census contract (k22 row, SinkHygieneSpec), counting
      // only hive-partition (`k=v`) dirs
      val data = graft.io.FileCensus.dataFiles(out.toString)
      val dirs = math.max(data.map(_.getParentFile).distinct.count(_.getName.contains("=")), 1)
      val bytes = data.map(_.length).sum
      val filesPerDir = data.size.toDouble / dirs
      emit(Seq("sink" -> name, "part_dirs" -> dirs, "files" -> data.size,
        "total_mb" -> bytes / 1048576.0,
        "mean_mb" -> (if (data.isEmpty) 0.0 else bytes / 1048576.0 / data.size),
        "files_per_dir" -> filesPerDir, "sec" -> sec, "hygiene_ok" -> (filesPerDir <= 2.0)))
    }
    sink("events_day_plain", ev)
    sink("events_day_rebalance", ev.hint("rebalance", col("year"), col("month"), col("day")))
  }
}
