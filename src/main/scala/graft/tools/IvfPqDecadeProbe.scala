package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** The `ann_ivf_pq` gate row at an arbitrary decade tier — SAME laws
  * (candK = max(100, min(n/10, 20√n)), geometry =
  * `SimilarityOps.ivfPqGeometry` = (min(n/4, 4√n) cells, half-mass
  * nprobe), train sample ≥ 32 points/centroid), with the build/search
  * split timed and recall measured against the brute-force twin on
  * the gate's 64-query modulus sample. This is the instrument for the
  * 20M-vector tier (the third embedding decade): the gate pins
  * recall ≥ 0.9 at sf0.01/sf0.1; this prints the same boolean where
  * the index is 10⁴× the gate's corpus.
  *
  * One JSON line:
  *   {"probe":"ivfpq_decade","n":…,"cells":…,"nprobe":…,"candk":…,
  *    "build_sec":…,"search_sec":…,"twin_sec":…,"recall":…,
  *    "recall_ok":…}
  *
  * Usage: SPARK_DRIVER_MEM=24g tools/run_main.sh \
  *          graft.tools.IvfPqDecadeProbe /tmp/stress/sf10000emb
  *        … IvfPqDecadeProbe <dir> append   # the ingest lifecycle:
  *          build on the 90% base, ivfPqAppend the 10% delta, search
  *          the full corpus; prints append_sec (must scale with
  *          |delta|, not n) and the same recall pin
  *        … IvfPqDecadeProbe <dir> filtered # the filtered-search
  *          lifecycle: label = pmod(xxhash64(vec_id), 10) derived (the
  *          stress sets carry no metadata; a hash label is
  *          geometry-uncorrelated like the testdata's), index built
  *          with metaCols, searched with preFilter label < 3 under
  *          the gate row's inverse-selectivity probe law; prints
  *          n_pass/nprobe_f/violations and recall vs the FILTERED
  *          brute twin
  */
object IvfPqDecadeProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/stress/sf1000emb"
    // optional second arg "append": run the INGEST lifecycle at the
    // tier instead — build on the 90% base (vec_id % 10 != 0),
    // ivfPqAppend the 10% delta, search the full corpus through the
    // appended index. Same geometry/candK/recall laws; the extra
    // timing is the append pass itself, which must scale with
    // |delta|, not the corpus.
    val appendMode = args.length > 1 && args(1) == "append"
    val filteredMode = args.length > 1 && args(1) == "filtered"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = graft.GraftExtensions.session(s"local[$cpus]", parts.toInt)
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val (dim, m, ksub) = (64, 16, 32)
    // repartition to the core count: a map-only pass inherits scan
    // splits, and a stress set is a handful of files where a cluster
    // scan is thousands — measure the loop, not the file count
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .repartition(cpus.toInt).localCheckpoint()
      // hash-derived label (geometry-uncorrelated, like the testdata's
      // random labels); derived AFTER the checkpoint so it costs a map
      .withColumn("label", pmod(xxhash64(col("vec_id")), lit(10)).cast("int"))
    val n = emb.count()
    val pred = col("label") < 3
    val sample = emb.filter(
      col("vec_id") % SimilarityOps.sampleModulus(n, 64) === 0)

    // the gate rows' laws, verbatim (SimQueries.scala ann_ivf_pq /
    // ann_ivf_pq_filtered): candK over the SEARCHED domain (filtered
    // count in filtered mode), coarse geometry over the INDEXED corpus
    val nF = if (filteredMode) emb.filter(pred).count() else n
    val candK = math.max(100, math.min(nF / 10,
      20L * math.ceil(math.sqrt(nF.toDouble)).toLong)).toInt
    val (nCells, nprobe0) = SimilarityOps.ivfPqGeometry(n)
    // inverse-selectivity probe scaling (filtered mode only)
    val nprobe = if (!filteredMode) nprobe0
      else SimilarityOps.filteredNprobe(nCells, nprobe0, n, nF)
    val tsMod = SimilarityOps.sampleModulus(n, math.max(512, 32 * nCells))
    val trainSample = if (tsMod <= 1) None
      else Some(emb.filter(col("vec_id") % tsMod === 0))

    val buildOn = if (appendMode) emb.filter(col("vec_id") % 10 =!= 0) else emb
    val t0 = System.nanoTime()
    val (cents, codebook, codes0) = SimilarityOps.buildIvfPq(
      buildOn, "vec_id", "embedding", dim, m, ksub, nCells,
      // append mode MUST sample-train (the strict-parity branch — and
      // a base-derived sample keeps the structures blind to the delta)
      if (!appendMode) trainSample
      else trainSample.map(_.filter(col("vec_id") % 10 =!= 0))
        .orElse(Some(buildOn.filter(col("vec_id") % 3 === 0))),
      metaCols = if (filteredMode) Seq("label") else Nil)
    val codebookCk = codebook.localCheckpoint()
    val baseCodes = codes0.localCheckpoint()
    val nBaseCoded = baseCodes.count()
    val buildSec = (System.nanoTime() - t0) / 1e9

    val tA = System.nanoTime()
    val codes = if (!appendMode) baseCodes else {
      val delta = emb.filter(col("vec_id") % 10 === 0)
      SimilarityOps.ivfPqAppend(delta, "vec_id", "embedding",
        dim, m, cents, codebookCk, baseCodes).localCheckpoint()
    }
    val nCoded = codes.count()
    val appendSec = if (appendMode) (System.nanoTime() - tA) / 1e9 else 0.0
    require(nCoded == n, s"index ${if (appendMode) "append" else "build"} " +
      s"dropped rows: $nCoded of $n (base $nBaseCoded)")

    val t1 = System.nanoTime()
    val got = SimilarityOps.ivfPqSearch(sample, emb, "vec_id", "embedding",
        dim, m, ksub, cents, codebookCk, codes, nprobe, candK, k = 5,
        preFilter = if (filteredMode) Some(pred) else None)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      .localCheckpoint()
    got.count()
    val searchSec = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val twinCorpus = if (filteredMode) emb.filter(pred) else emb
    val exact = SimilarityOps.bruteForceTopK(sample, twinCorpus,
        "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val nExact = exact.count()
    val twinSec = (System.nanoTime() - t2) / 1e9

    val hits = exact.join(got, Seq("query_id", "neighbor_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0)))).collect()(0).getLong(0)
    val recall = hits.toDouble / nExact
    val probeName =
      if (appendMode) "ivfpq_append_decade"
      else if (filteredMode) "ivfpq_filtered_decade"
      else "ivfpq_decade"
    val appendField =
      if (appendMode) s""""append_sec":${r3(appendSec)},"n_base":$nBaseCoded,"""
      else ""
    val filterField = if (!filteredMode) "" else {
      val viol = got.join(
          emb.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("neighbor_id"), "left")
        .agg(sum(when(pred, lit(0)).otherwise(lit(1)))).collect()(0).getLong(0)
      s""""n_pass":$nF,"violations":$viol,"""
    }
    println(s"""{"probe":"$probeName","dir":"$dir","n":$n,""" +
      s""""cells":$nCells,"nprobe":$nprobe,"candk":$candK,""" +
      s""""build_sec":${r3(buildSec)},$appendField$filterField""" +
      s""""search_sec":${r3(searchSec)},""" +
      s""""twin_sec":${r3(twinSec)},"n_exact":$nExact,""" +
      s""""recall":${r3(recall)},"recall_ok":${recall >= 0.9}}""")
    spark.stop()
  }
}
