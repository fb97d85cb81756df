package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Local stress-set generator: the driver's largest testdata is sf0.1
  * (~600k lineitem rows, 17 MB) — every scale claim above that rested
  * on plan shape and complexity argument. This main writes a
  * schema-identical synthetic set at an arbitrary multiple of sf0.1
  * (default 10×) so the claims can be MEASURED: run
  * `graft.ScaleBench ratio` at sf0.1 and at the generated dir and compare
  * per-query time ratios (≤ ~linear for the O(n)/O(n·s) paths) and the
  * self-checking recall/exactness booleans as n grows.
  *
  * Deliberately NOT the driver's generator (testdata is read-only and
  * its seed pipeline is driver-owned) — but reproduces the properties
  * the expensive queries exercise: the same 31-token document
  * vocabulary with ~5% injected near-duplicates (one-token
  * perturbation of an earlier doc) and ~0.2% exact duplicates;
  * near-isotropic unit 64-dim embeddings with ~1.5% jittered
  * near-dup partners; a 30-day event stream with a CONSTANT ~67
  * events/user as users scale (per-key state stays flat, key count
  * grows — the shape a cluster sees); and TPC-H-ish fact/dim tables
  * with the same key relationships and categorical vocabularies.
  *
  * Everything is a deterministic pure function of (table, id) via
  * xxhash64 — no rand(), so re-runs are byte-stable and there is no
  * driver-side data generation: each table is a single declarative
  * plan Spark materializes in parallel.
  *
  * Usage: sbt "runMain graft.tools.StressGen /tmp/stress/sf1 10"
  *        sbt "runMain graft.tools.StressGen /tmp/stress/sf1skew 10 skew"
  *        sbt "runMain graft.tools.StressGen /tmp/stress/sf1vskew 10 vskew"
  */
object StressGen {

  /** Deterministic uniform [0,1) from the top 53 bits of xxhash64. */
  private def u(cols: Column*): Column =
    shiftrightunsigned(xxhash64(cols: _*), 11).cast("double") / 9007199254740992.0

  private def pm(m: Long)(cols: Column*): Column = pmod(xxhash64(cols: _*), lit(m))

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/stress/sf1"
    val mult = if (args.length > 1) args(1).toDouble else 10.0
    // "skew" mode: same volumes, HOT-KEY distributions — a cluster
    // run meets zipfian users and viral join keys, not uniform hash
    // spray. Skew is injected exactly where 100 TB pipelines die:
    //   events.user_id   ~ floor(nUsers · u⁴): user 0 takes ~9% of all
    //                      events (vs a uniform 1/nUsers) — stresses
    //                      per-user windows/sessionization state;
    //   orders.o_custkey  10% → customer 0 (hot probe key);
    //   lineitem.l_suppkey 15% → supplier 0, l_partkey 8% → part 0
    //                      (hot fact-side join keys: AQE skew split /
    //                      broadcast probe territory);
    //   documents.source  40% → src0 (hot group for per-source
    //                      aggs/mixture weighting).
    // Embeddings and token content are left UNCHANGED: embedding-side
    // "skew" is output-volume (a tight cluster means quadratically
    // many TRUE near-dup pairs — any correct miner pays it), not
    // partition skew; the bucket-cap guard for pathological identical
    // vectors is spec-tested (LshRecallSpec). Shingle-space heat is
    // already exercised by the uniform set (31-token vocab ⇒ mean
    // trigram posting ≈ cap/2 at 10×, so the hot tail hits the
    // posting caps there).
    // modes combine with "+": "vskew+embonly" writes only the
    // embeddings table WITH the hot-cluster planting — the 20M-vector
    // skew tier needs no other table and the full set at that mult is
    // tens of GB.
    val mode = if (args.length > 2) args(2) else ""
    val modes = mode.split('+').toSet
    val skew = modes("skew")
    // "vskew" mode: everything uniform EXCEPT embeddings — 5% of
    // vectors become jittered copies of ONE base direction (pairwise
    // cosine ≈ 0.999): a single tight cluster, the embedding-side skew
    // a crawl of a template-heavy site produces. Unlike key skew this
    // is OUTPUT-VOLUME skew — all ~(0.05·n)²/2 hot pairs are TRUE
    // near-dups any correct miner must surface — so the question the
    // tier answers is whether the LSH bucket-cap quantile bounds the
    // hot buckets' candidate work while recall on the UNCAPPED
    // remainder (the normal 1.5% near-dup population, which this mode
    // keeps intact on the other 95%) holds. Isolated from key skew on
    // purpose: one variable per tier (`ScaleBench vec-skew` measures it).
    val vskew = modes("vskew")
    // "embonly" mode: write only the embeddings table — the
    // PQ/LSH decade probes read nothing else, and the full 1000× set
    // is ~21 GB / tens of minutes where embeddings alone are ~1 GB.
    val embOnly = modes("embonly")
    // "eventsonly": same idea for the streaming probes (the
    // throughput/state-backend sweeps read only events).
    val eventsOnly = modes("eventsonly")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    def n(base: Long): Long = (base * mult).toLong

    def write(df: DataFrame, name: String, parts: Int): Unit =
      if ((embOnly && name != "embeddings") ||
          (eventsOnly && name != "events")) ()
      else {
        df.repartition(parts)
          .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[stressgen] wrote $name")
      }

    // region / nation: fixed-size dimensions — copy sf0.1 verbatim so
    // nationkey/regionkey semantics match exactly.
    write(spark.read.parquet("/root/testdata/sf0.1/region.parquet"), "region", 1)
    write(spark.read.parquet("/root/testdata/sf0.1/nation.parquet"), "nation", 1)

    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrd = n(150000); val nLine = n(600000)
    val nUsers = n(1500); val nEvents = n(100000)
    val nDocs = n(5000); val nVecs = n(2000)

    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pm(25)(col("id"), lit("cnat")).cast("long").as("c_nationkey"),
      round(u(col("id"), lit("cbal")) * 10000, 2).as("c_acctbal"),
      element_at(array(Seq("MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE",
        "HOUSEHOLD").map(lit): _*), pm(5)(col("id"), lit("cseg")).cast("int") + 1)
        .as("c_mktsegment")), "customer", 4)

    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pm(25)(col("id"), lit("snat")).cast("long").as("s_nationkey"),
      round(u(col("id"), lit("sbal")) * 10000, 2).as("s_acctbal")), "supplier", 1)

    val adjs = array(Seq("large", "hot", "small", "cold", "dim", "light",
      "dark", "metallic").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "washer", "spring", "gear", "tube",
      "plate", "wheel").map(lit): _*)
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", element_at(adjs, pm(8)(col("id"), lit("padj")).cast("int") + 1),
        element_at(nouns, pm(8)(col("id"), lit("pnoun")).cast("int") + 1)).as("p_name"),
      concat(lit("Brand#"), pm(25)(col("id"), lit("pbr")).cast("int")).as("p_brand"),
      element_at(array(Seq("MEDIUM", "ECONOMY", "PROMO", "LARGE", "STANDARD",
        "SMALL").map(lit): _*), pm(6)(col("id"), lit("ptyp")).cast("int") + 1).as("p_type"),
      (pm(50)(col("id"), lit("psz")).cast("int") + 1).as("p_size"),
      round(lit(900.0) + pm(1000)(col("id"), lit("prp")).cast("double") / 10, 2)
        .as("p_retailprice")), "part", 2)

    // orders: o_orderdate uniform over 1995-01-01 .. 2001-08-01
    write(spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      (if (skew) when(u(col("id"), lit("ohot")) < 0.10, lit(0L))
          .otherwise(pm(nCust)(col("id"), lit("ocust")))
       else pm(nCust)(col("id"), lit("ocust"))).cast("long").as("o_custkey"),
      element_at(array(Seq("O", "F", "P").map(lit): _*),
        pm(3)(col("id"), lit("ost")).cast("int") + 1).as("o_orderstatus"),
      round(u(col("id"), lit("otp")) * 400000 + 1000, 2).as("o_totalprice"),
      to_timestamp(date_add(to_date(lit("1995-01-01")),
        pm(2405)(col("id"), lit("odt")).cast("int"))).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*), pm(5)(col("id"), lit("opr")).cast("int") + 1)
        .as("o_orderpriority")), "orders", 8)

    // lineitem: orderkey via hash → ~Poisson(4) lines/order, the same
    // ~98% orderkey coverage sf0.1 shows.
    write(spark.range(nLine).select(
      pm(nOrd)(col("id"), lit("lord")).cast("long").as("l_orderkey"),
      (if (skew) when(u(col("id"), lit("lhtp")) < 0.08, lit(0L))
          .otherwise(pm(nPart)(col("id"), lit("lprt")))
       else pm(nPart)(col("id"), lit("lprt"))).cast("long").as("l_partkey"),
      (if (skew) when(u(col("id"), lit("lhts")) < 0.15, lit(0L))
          .otherwise(pm(nSupp)(col("id"), lit("lsup")))
       else pm(nSupp)(col("id"), lit("lsup"))).cast("long").as("l_suppkey"),
      (pm(7)(col("id"), lit("lln")).cast("int") + 1).as("l_linenumber"),
      (pm(50)(col("id"), lit("lqty")).cast("double") + 1).as("l_quantity"),
      round(u(col("id"), lit("lep")) * 100000 + 900, 2).as("l_extendedprice"),
      round(pm(11)(col("id"), lit("ldis")).cast("double") / 100, 2).as("l_discount"),
      round(pm(9)(col("id"), lit("ltax")).cast("double") / 100, 2).as("l_tax"),
      element_at(array(Seq("A", "N", "R").map(lit): _*),
        pm(3)(col("id"), lit("lrf")).cast("int") + 1).as("l_returnflag"),
      element_at(array(Seq("O", "F").map(lit): _*),
        pm(2)(col("id"), lit("lls")).cast("int") + 1).as("l_linestatus"),
      to_timestamp(date_add(to_date(lit("1995-01-01")),
        pm(2500)(col("id"), lit("lsd")).cast("int"))).as("l_shipdate")), "lineitem", 16)

    // events: 30 days of 2024-01 at microsecond precision; value ~
    // Exp(50) capped (sf0.1: mean 49.9, max 560).
    val epoch0 = lit(1704067200000000L) // 2024-01-01T00:00:00Z in micros
    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros((epoch0 + (u(col("id"), lit("ets")) *
        lit(30L * 86400 * 1000000L)).cast("long")).cast("long")).as("ts"),
      (if (skew) floor(pow(u(col("id"), lit("eusr")), 4.0) * nUsers).cast("long")
       else pm(nUsers)(col("id"), lit("eusr")).cast("long")).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error")
        .map(lit): _*), pm(5)(col("id"), lit("etyp")).cast("int") + 1).as("event_type"),
      round(least(-log(lit(1.0) - u(col("id"), lit("eval"))) * 50, lit(560.0)), 2)
        .as("value"),
      concat(lit("{\"k\": "), pm(100)(col("id"), lit("eprp")).cast("int"), lit("}"))
        .as("props")), "events", 8)

    // documents: same 31-token vocabulary as the driver's generator
    // observes, 8..80 tokens/doc. Dup classes keyed on the doc id:
    //   h < 2‰  → EXACT duplicate of an earlier partner
    //   h < 52‰ → NEAR duplicate (one token swapped)
    val vocabSql = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector", "window")
      .map(w => s"'$w'").mkString("array(", ", ", ")")
    val docs = spark.range(nDocs)
      .withColumn("h", pm(1000)(col("id"), lit("ddup")))
      .withColumn("partner",
        greatest(lit(0L), col("id") - 1 - pm(97)(col("id"), lit("dptn"))))
      .withColumn("isExact", col("h") < 2 && col("id") > 0)
      .withColumn("isNear", col("h") >= 2 && col("h") < 52 && col("id") > 0)
      .withColumn("seed", when(col("isExact") || col("isNear"), col("partner"))
        .otherwise(col("id")))
      .withColumn("ntok", (pm(73)(col("seed"), lit("dlen")) + 8).cast("int"))
      .withColumn("ppos", pm(8)(col("id"), lit("dpos")).cast("int")) // < min ntok
      .withColumn("toks", expr(
        """transform(sequence(0, ntok - 1), i ->
          |  CASE WHEN isNear AND i = ppos
          |    THEN element_at(__vocab, int(pmod(xxhash64(id, 'dswp'), 31)) + 1)
          |    ELSE element_at(__vocab, int(pmod(xxhash64(seed, 'dtok', i), 31)) + 1)
          |  END)""".stripMargin.replace("__vocab", vocabSql)))
      .withColumn("text", array_join(col("toks"), " "))
      .withColumn("lang", when(u(col("id"), lit("dlng")) < 0.4, lit("en"))
        .otherwise(element_at(array(Seq("zh", "es", "fr", "de").map(lit): _*),
          pm(4)(col("id"), lit("dln2")).cast("int") + 1)))
      .select(col("id").as("doc_id"), col("text"), col("lang"),
        (if (skew) when(u(col("id"), lit("dhot")) < 0.40, lit("src0"))
            .otherwise(concat(lit("src"), pm(20)(col("id"), lit("dsrc")).cast("int")))
         else concat(lit("src"), pm(20)(col("id"), lit("dsrc")).cast("int")))
          .as("source"),
        length(col("text")).cast("long").as("n_chars"))
    write(docs, "documents", 4)

    // embeddings: unit 64-dim near-isotropic vectors (components end up
    // ~N(0, 1/64) after normalization, matching sf0.1); ~1.5% are a
    // jittered copy of an earlier partner (cosine ≈ 0.999 — the
    // near-dup population dd_embedding_* mines).
    val emb = spark.range(nVecs)
      .withColumn("h", pm(1000)(col("id"), lit("vdup")))
      .withColumn("partner",
        greatest(lit(0L), col("id") - 1 - pm(53)(col("id"), lit("vptn"))))
      // vskew: h ≥ 950 (top 5‰-disjoint band, so the normal near-dup
      // population at h < 15 survives untouched on the remainder) →
      // a jittered copy of the FIXED base direction seed −1
      .withColumn("isHot", if (vskew) col("h") >= 950 else lit(false))
      .withColumn("isNear", col("h") < 15 && col("id") > 0)
      .withColumn("seed", when(col("isHot"), lit(-1L))
        .when(col("isNear"), col("partner")).otherwise(col("id")))
      .withColumn("raw", expr(
        """transform(sequence(0, 63), i ->
          |  (cast(shiftrightunsigned(xxhash64(seed, 'vcmp', i), 11) as double)
          |     / 9007199254740992.0 - 0.5)
          |  + CASE WHEN isNear OR isHot
          |      THEN (cast(shiftrightunsigned(xxhash64(id, 'vjit', i), 11) as double)
          |              / 9007199254740992.0 - 0.5) * 0.02
          |      ELSE 0.0 END)""".stripMargin))
      .withColumn("nrm", sqrt(expr("aggregate(raw, 0.0d, (a, x) -> a + x * x)")))
      .select(col("id").as("vec_id"),
        expr("transform(raw, x -> cast(x / nrm as float))").as("embedding"),
        pm(10)(col("id"), lit("vlbl")).cast("int").as("label"))
    // partitions scale with the tier: a fixed 2 would generate AND
    // write 20M hash-derived vectors on 2 of 32 cores (and hand
    // map-only consumers 2 scan splits)
    write(emb, "embeddings", math.max(2, (nVecs / 250000L).toInt))

    println(s"[stressgen] done: $outDir at ${mult}x sf0.1" +
      (if (skew) " (skewed keys)" else if (vskew) " (hot vector cluster)" else ""))
    spark.stop()
  }
}
