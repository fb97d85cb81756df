package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.{GraftExtensions, Tables}
import graft.operators.RelationalOps
import graft.functions.Aqi
import graft.functions.DetRound.{r2, r4, sqlR2, sqlR4}

/** End-to-end re-expressions of the reference's Glue-job dataflow
  * (SURVEY §3.2) over the synthetic `events` stream table: parse →
  * dedup → pivot → enrich → fill, plus the NDJSON/partitioned-parquet
  * I/O boundary ops (S1/K1/K2) exercised as lossless roundtrips whose
  * oracle is the identity query over the source table.
  */
object PipelineQueries extends QueryPack {

  /** Pinned pivot domain (SURVEY §7.4-1): the reference pins pollutant
    * columns; here the synthetic `event_type` domain.
    */
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  // Bench/Verify invoke each sink query several times (warm + timed
  // runs), each minting fresh directories; without cleanup the host's
  // /tmp accrues hundreds of orphaned parquet trees per round. ONE
  // shutdown hook drains a shared list — a hook per dir would pile up
  // JVM hook registrations across a full bench run (st_join_parity
  // alone mints 6 trees per invocation × 4 runs).
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.util.Comparator
      import scala.util.Try
      var dir = tmpDirs.poll()
      while (dir != null) {
        Try {
          Files.walk(dir).sorted(Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { Files.deleteIfExists(p); () })
        }
        dir = tmpDirs.poll()
      }
    }))
  }

  private def tmpDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tmpDirs.add(dir)
    dir.toString
  }

  /** Stages `batches` as the micro-batches of a file-source stream on
    * `stageDir`: all of them in ONE write job, one parquet file per
    * batch, moved in as `b<i>.parquet` with modification time i·1000 s
    * (the source orders files by mtime). With `restartAfter = Some(k)`
    * only the first k are moved in; the returned action moves in the
    * rest. An empty batch fails loudly: it would be no micro-batch.
    */
  private def stageBatches(batches: Seq[DataFrame], stageDir: String,
                           restartAfter: Option[Int] = None): () => Unit = {
    val tmp = tmpDir("graft_stage_part")
    batches.zipWithIndex.map { case (b, i) => b.withColumn("__b", lit(i)) }
      .reduce(_ unionByName _)
      .coalesce(1).write.partitionBy("__b").mode("overwrite").parquet(tmp)
    val files = batches.indices.map { i =>
      val parts = Option(new java.io.File(tmp, s"__b=$i").listFiles())
        .map(_.filter(_.getName.endsWith(".parquet"))).getOrElse(Array.empty)
      require(parts.length == 1,
        s"staging: batch ${i + 1} of $stageDir wrote ${parts.length} part files, not 1")
      parts.head
    }
    def moveIn(batch: Range): Unit = batch.foreach { i =>
      val dst = java.nio.file.Paths.get(stageDir, s"b${i + 1}.parquet")
      Files.move(files(i).toPath, dst)
      dst.toFile.setLastModified((i + 1) * 1000000L)
    }
    val visible = restartAfter.getOrElse(batches.size)
    moveIn(0 until visible)
    () => moveIn(visible until batches.size)
  }

  /** Run a streaming query to completion and FAIL LOUDLY on timeout —
    * reading a sink after a timed-out awaitTermination would hand the
    * oracle partial output as if it were the result, and leave the
    * abandoned query running for the rest of the process.
    */
  private def awaitOrFail(q: StreamingQuery, timeoutMs: Long, what: String): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      sys.error(s"$what did not finish within ${timeoutMs / 1000} s")
    }

  /** Confs every streaming parity row drains under, on its own clone
    * of the caller's session ([[drainToParquet]]; the caller's session
    * is never changed):
    *
    *  - shuffle.partitions = 8: a NEW checkpoint's state-partition
    *    count is the session's shuffle partitions; 32 state stores ×
    *    N batches of checkpoint I/O for a ~150-key stream is pure
    *    harness overhead (a production deployment sizes this to key
    *    volume).
    *  - checkpoint.fileChecksum.enabled = false: Spark 4.1's checksum
    *    manager writes + awaits a CHECKSUM COMPANION FILE for every
    *    checkpoint file — corruption detection for long-lived
    *    production checkpoints, pure 2× file-op overhead for these
    *    single-run parity checkpoints.
    *  - FileSystemBasedCheckpointFileManager: the default
    *    FileContext-based manager's rename path calls
    *    getFileLinkStatus, which Hadoop's shell-backed local
    *    filesystem serves by FORKING `readlink`/`stat` PROCESSES
    *    (no libhadoop native in this image) — r14 thread dumps showed
    *    all 8 state-store tasks of every micro-batch parked in
    *    Shell.runCommand (run ≈ 30 s summed vs 0.5 s of CPU per
    *    batch). The FileSystem-based manager renames via
    *    File.renameTo — atomic on a local FS, no forks. Measured:
    *    st_join_parity 5.3 → 2.8 s steady-state at 32c. On a real
    *    cluster checkpoints live on HDFS/S3 where the default manager
    *    does not shell out — this pin only matters for file:// runs.
    */
  private val streamConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"))

  /** The finalizing no-data batch is what advances the watermark past
    * the last real window (or key) and runs the last emission or
    * eviction. It is Spark's default; the rows whose contract depends
    * on it pin it, so an environment override cannot red them with no
    * hint why.
    */
  private val noDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled" -> "true"

  /** The production state-store provider, for the rows that pin its
    * recovery path.
    */
  private val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Drain the stream `build` makes on an isolated clone of `s`
    * ([[streamConfs]] plus `extraConf`) into parquet at `out`: one
    * append-mode AvailableNow run on checkpoint `ckpt`, failing loudly
    * after 300 s. Returns the finished query (for its progress).
    */
  private def drainToParquet(s: SparkSession, label: String, out: String, ckpt: String,
                             extraConf: (String, String)*)(
                             build: SparkSession => Dataset[_]): StreamingQuery =
    GraftExtensions.isolated(s, streamConfs ++ extraConf: _*) { c =>
      val q = build(c).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitOrFail(q, 300000, label)
      q
    }

  /** The staged parquet batch files in `dir` as a stream, one file per
    * micro-batch (they are ordered by their planted mtimes).
    */
  private def staged(c: SparkSession, schema: StructType, dir: String): DataFrame =
    c.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** The harness of every streaming-parity row with a parquet sink.
    *
    *  - `sides`: per input stream, its micro-batches in order. Each
    *    side is staged in its own directory ([[stageBatches]], one
    *    write job per side), and `build` gets the staged streams in
    *    the same order, each reading one file per micro-batch.
    *  - `restartAfter = Some(k)`: a query drains the first k batches
    *    of every side and stops; the later batches are then moved in
    *    and a NEW query drains them on the same checkpoint, so state
    *    and offsets must round-trip the checkpoint. `None`: one query
    *    drains every batch.
    *  - Every drain is [[drainToParquet]]: an isolated clone of `s`
    *    under [[streamConfs]] plus `extraConf` (e.g. [[noDataBatches]]
    *    where the finalizing no-data batch must run, or [[rocksDb]]).
    *
    * Mints its own stage, output and checkpoint directories; returns
    * the output directory and the last query (for its progress).
    */
  private def streamParity(s: SparkSession, label: String, sides: Seq[Seq[DataFrame]],
                           restartAfter: Option[Int] = None,
                           extraConf: Seq[(String, String)] = Nil)(
                           build: Seq[DataFrame] => Dataset[_]): (String, StreamingQuery) = {
    val stages = sides.map(_ => tmpDir(s"graft_${label}_in"))
    val out = tmpDir(s"graft_${label}_out")
    val ckpt = tmpDir(s"graft_${label}_ckpt")
    val later = sides.zip(stages).map { case (batches, dir) =>
      stageBatches(batches, dir, restartAfter) }
    def drain(run: String): StreamingQuery =
      drainToParquet(s, s"$label stream$run", out, ckpt, extraConf: _*) { c =>
        build(sides.zip(stages).map { case (batches, dir) =>
          staged(c, batches.head.schema, dir) })
      }
    val query = restartAfter.fold(drain("")) { _ =>
      drain(" run 1")
      later.foreach(_())
      drain(" run 2")
    }
    (out, query)
  }

  /** `ev`'s `ts` range cut into `n` equal parts, to the millisecond:
    * lo, the n − 1 cut points, hi.
    */
  private def timeCuts(ev: DataFrame, n: Int): Seq[java.sql.Timestamp] = {
    val r = ev.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
    (0 to n).map(k => new java.sql.Timestamp(lo + (hi - lo) * k / n))
  }

  /** Sentinel rows shaped like `like` (its columns, types and order):
    * one per row of `keys` (default: one row), keeping `keys`' columns
    * and setting each other column to its value in `set`. A row past
    * every real event time closes every window or session before it.
    */
  private def sentinels(like: DataFrame, set: (String, Any)*)(
      keys: DataFrame = like.sparkSession.range(1).select()): DataFrame = {
    val given = set.toMap
    keys.select(like.schema.map { f =>
      if (keys.columns.contains(f.name)) col(f.name)
      else lit(given(f.name)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** `df` cut by `ts` into one micro-batch per interval between
    * consecutive `cuts`: ts ≤ the first cut, …, ts > the last.
    */
  private def slices(df: DataFrame, cuts: Seq[java.sql.Timestamp]): Seq[DataFrame] =
    (0 to cuts.size).map { i =>
      df.filter((if (i > 0) col("ts") > cuts(i - 1) else lit(true)) &&
        (if (i < cuts.size) col("ts") <= cuts(i) else lit(true)))
    }

  /** The flagship composite — the whole reference transform chain
    * (process_openaq_raw.py:94-256 re-expressed): W1 dedup → derive
    * hour → A1 pinned pivot → J1 broadcast enrich → P8 fill.
    */
  def martPipeline(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dedup = RelationalOps.dedupKeepFirst(ev, Seq("user_id", "ts"), Seq(col("event_id")))
    val hourly = dedup.withColumn("hour", date_trunc("hour", col("ts")))
    val wide = RelationalOps.pivotAvg(hourly, Seq("user_id", "hour"),
      "event_type", eventTypes, "value")
    val dim = Tables.load(s, dir, "customer").select(
      col("c_custkey").as("user_id"),
      col("c_name").as("user_name"),
      col("c_mktsegment").as("segment"))
    val enriched = RelationalOps.enrich(wide, dim, "user_id")
    val filled = RelationalOps.fillDefaults(enriched,
      Map("user_name" -> "Unknown", "segment" -> "Unknown"), Map.empty)
    filled.select(
      Seq(col("user_id"), col("hour")) ++
        eventTypes.map(c => r4(col(c)).as(c)) ++
        Seq(col("user_name"), col("segment")): _*)
      .orderBy("user_id", "hour")
  }

  q("pipe_mart",
    s"""WITH src AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |  FROM events
      |), dedup AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
      |    FROM src) WHERE rn = 1
      |), wide AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hour,
      |    ${sqlR4("avg(CASE WHEN event_type = 'click' THEN value END)")} AS click,
      |    ${sqlR4("avg(CASE WHEN event_type = 'error' THEN value END)")} AS error,
      |    ${sqlR4("avg(CASE WHEN event_type = 'purchase' THEN value END)")} AS purchase,
      |    ${sqlR4("avg(CASE WHEN event_type = 'signup' THEN value END)")} AS signup,
      |    ${sqlR4("avg(CASE WHEN event_type = 'view' THEN value END)")} AS "view"
      |  FROM dedup GROUP BY 1, 2
      |)
      |SELECT w.user_id, w.hour, click, error, purchase, signup, "view",
      |  coalesce(c_name, 'Unknown') AS user_name,
      |  coalesce(c_mktsegment, 'Unknown') AS segment
      |FROM wide w LEFT JOIN customer ON w.user_id = c_custkey
      |ORDER BY user_id, hour""".stripMargin)(martPipeline)

  // S1/K2 — NDJSON sink + scan roundtrip with an EXPLICIT schema
  // (SURVEY §2.1 S1/K2, §1.3 "no inference"). Timestamps serialized as
  // ISO-8601 with microsecond precision and offset (reference F1:
  // process_openaq_raw.py:118-121); a lossless roundtrip ⇒ oracle is
  // the identity over `events`.
  q("s1_ndjson_roundtrip",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    val out = tmpDir("graft_ndjson")
    Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").option("timestampFormat", tsFmt).json(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.schema(schema).option("timestampFormat", tsFmt).json(out)
      .orderBy("event_id")
  }

  // S9 — gzip-compressed NDJSON roundtrip: the codec-aware variant of
  // S1 (raw-zone landings arrive gzipped in practice). gzip is
  // UNSPLITTABLE — one task per .gz file at any size — which is fine
  // for many small landing files but means the archive job, not the
  // reader, must control file granularity; columnar zones stay on
  // splittable snappy/zstd parquet. Lossless ⇒ identity oracle.
  q("s9_ndjson_gzip_roundtrip",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    val out = tmpDir("graft_ndjson_gz")
    Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite")
      .option("timestampFormat", tsFmt).option("compression", "gzip")
      .json(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.schema(schema).option("timestampFormat", tsFmt).json(out)
      .orderBy("event_id")
  }

  // S3 — the paginated-REST landing zone read through the
  // DataSourceV2 connector (reference: etls/openaq_etl.py:39-105
  // pages /v3/locations; the Lambda lands each page as a file). The
  // fixture stage writes the supplier table as page-per-file NDJSON
  // (5 Spark partitions → 5 page files, exactly the landing layout);
  // the read side goes through graft.sources.PagedJsonSource — one
  // InputPartition PER PAGE (cluster-parallel, column-pruned) — and
  // the oracle checks the whole roundtrip against the parquet table.
  q("s3_paged_source",
    s"""SELECT CAST(s_nationkey AS BIGINT) AS nationkey, count(*) AS n_suppliers,
      |  ${sqlR2("sum(s_acctbal)")} AS sum_acctbal
      |FROM supplier GROUP BY 1 ORDER BY nationkey""".stripMargin) { (s, dir) =>
    val landing = tmpDir("graft_paged")
    Tables.load(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .repartition(5)
      .write.mode("overwrite").json(landing)
    val pageSchema = StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", LongType),
      StructField("s_acctbal", DoubleType)))
    s.read.format("graft.sources.PagedJsonSource")
      .schema(pageSchema).option("path", landing).load()
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"), r2(sum("s_acctbal")).as("sum_acctbal"))
      .orderBy("nationkey")
  }

  // S4 — per-key REST fan-out with retry + quarantine (reference:
  // etls/openaq_etl.py:185-260 GETs /sensors/{id}/measurements
  // serially; dags/openaq_dag.py:13-23 retry policy). Keys fan out
  // across executors via RestFanout.fetchPerKeyResilient; the
  // injected fetcher reads the per-key landing directory the fixture
  // stage wrote (customer rows partitioned by nation — the file twin
  // of the per-sensor endpoint; HTTP in production, same code path).
  // Key 99 has no landing dir and exhausts its retries into a
  // QUARANTINE row instead of failing the partition — the oracle
  // states that row explicitly.
  q("s4_rest_fanout",
    s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey, true AS ok,
      |  count(*) AS n_records, ${sqlR2("sum(c_acctbal)")} AS sum_acctbal
      |FROM customer GROUP BY 1
      |UNION ALL SELECT CAST(99 AS BIGINT), false, CAST(0 AS BIGINT), 0.0
      |ORDER BY nationkey""".stripMargin) { (s, dir) =>
    import graft.sources.RestFanout
    val landing = tmpDir("graft_fanout")
    Tables.load(s, dir, "customer")
      .select("c_custkey", "c_acctbal", "c_nationkey")
      .write.mode("overwrite").partitionBy("c_nationkey").json(landing)
    // fan-out keys come from the landed data itself (customer's
    // distinct nations), not the nation dim: a nation with zero
    // customers has no landing dir, and fetching it would emit a
    // quarantine row the oracle (grouped over customer) never states
    val keys = Tables.load(s, dir, "customer")
      .select(col("c_nationkey").cast("long")).distinct()
      .union(s.range(99, 100).select(col("id")))
      .as[java.lang.Long](org.apache.spark.sql.Encoders.LONG)
    val fetcher: Long => Seq[String] = { id =>
      val d = new java.io.File(s"$landing/c_nationkey=$id")
      val files = Option(d.listFiles()).getOrElse(
        throw new java.io.FileNotFoundException(s"no landing dir for key $id"))
      files.filter(f => f.isFile && f.getName.endsWith(".json")).sortBy(_.getName)
        .toSeq.flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines()
          .filter(_.trim.nonEmpty).toList)
    }
    val outcomes = RestFanout.fetchPerKeyResilient(keys, fetcher,
      maxAttempts = 2, baseBackoffMs = 1L, sleeper = _ => ())
    val recSchema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_acctbal", DoubleType)))
    val ok = outcomes.filter(col("ok"))
      .select(col("id").as("nationkey"), col("ok"),
        explode(col("records")).as("__r"))
      .select(col("nationkey"), col("ok"),
        from_json(col("__r"), recSchema).as("__j"))
      .groupBy("nationkey", "ok")
      .agg(count(lit(1)).as("n_records"),
        r2(sum(col("__j.c_acctbal"))).as("sum_acctbal"))
    val quarantined = outcomes.filter(!col("ok"))
      .select(col("id").as("nationkey"), col("ok"),
        lit(0L).as("n_records"), lit(0.0).as("sum_acctbal"))
    ok.unionByName(quarantined).orderBy("nationkey")
  }

  // K19 — ASYNC query protocol (the reference's Athena client,
  // utils/athena_utils.py:38-145: start_query_execution → poll →
  // get_query_results with string-typed rows): submit the SQL on a
  // background thread, poll to SUCCEEDED, then read the result set
  // back STRING-TYPED (header-first CSV at the output location — the
  // Athena result contract). The oracle states the same aggregation
  // with every value cast to VARCHAR, so the driver hashes the
  // string-typed protocol output itself.
  q("k19_async_query",
    """SELECT CAST(o_orderpriority AS VARCHAR) AS o_orderpriority,
      |  CAST(count(*) AS VARCHAR) AS n,
      |  CAST(count(DISTINCT o_custkey) AS VARCHAR) AS n_customers
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    val out = tmpDir("graft_async_q")
    val id = graft.io.AsyncQuery.submit(s,
      """SELECT o_orderpriority, count(*) AS n,
        |count(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY o_orderpriority""".stripMargin, out)
    val terminal = graft.io.AsyncQuery.waitFor(id)
    require(terminal == graft.io.AsyncQuery.Succeeded,
      s"async query did not succeed: $terminal")
    graft.io.AsyncQuery.resultsDf(s, id)
      .orderBy("o_orderpriority")
  }

  // S6/K8 — CSV sink + scan roundtrip (explicit schema, header,
  // ISO-8601 µs timestamps): the third interchange format after
  // NDJSON and parquet; lossless ⇒ oracle is the identity query.
  q("s6_csv_roundtrip",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    val out = tmpDir("graft_csv")
    Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite")
      .option("header", "true").option("timestampFormat", tsFmt)
      .csv(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    s.read.schema(schema)
      .option("header", "true").option("timestampFormat", tsFmt)
      .csv(out)
      .orderBy("event_id")
  }

  // S8/K11 — ORC roundtrip (engine extra): the fourth interchange
  // format (NDJSON, parquet, CSV, ORC), built into Spark — columnar
  // with footer stats like parquet, so the same pushdown/pruning
  // machinery applies. Lossless for this schema ⇒ oracle is the
  // identity query over the parquet source.
  q("s8_orc_roundtrip",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_orc")
    Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy("event_id")
  }

  // K13 — snapshot time travel (engine extra, io.Snapshots): two
  // commits land, the query reads the FIRST version back and
  // aggregates it — proving an overwrite doesn't destroy history
  // (the reference's crawler-over-prefix design has no such
  // guarantee). Oracle reconstructs v1's content from the source.
  q("k13_time_travel",
    s"""SELECT o_orderstatus, count(*) AS n, ${sqlR2("sum(o_totalprice)")} AS sum_price
       |FROM orders WHERE month(o_orderdate) <= 6
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    import graft.io.Snapshots
    val tbl = tmpDir("graft_snap_tt")
    val orders = Tables.load(s, dir, "orders")
    val v1 = Snapshots.commit(orders.filter(month(col("o_orderdate")) <= 6), tbl)
    Snapshots.commit(orders, tbl) // v2 overwrites; v1 must survive
    Snapshots.read(s, tbl, Some(v1))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), r2(sum("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  // K14 — snapshot diff / CDC between versions (engine extra): rows
  // that left and rows that arrived between v1 (months 1–6) and v2
  // (months 4–12), tagged and counted. The multiset diff is two
  // hash anti-joins; at real scale the manifests narrow it to
  // non-shared files first (see Snapshots scaladoc).
  q("k14_snapshot_diff",
    """WITH o AS (
      |  SELECT o_orderkey, o_orderstatus, month(o_orderdate) AS m FROM orders)
      |SELECT * FROM (
      |  SELECT 'deleted' AS change, o_orderstatus, count(*) AS n
      |  FROM o WHERE m BETWEEN 1 AND 3 GROUP BY 2
      |  UNION ALL
      |  SELECT 'inserted' AS change, o_orderstatus, count(*) AS n
      |  FROM o WHERE m BETWEEN 7 AND 12 GROUP BY 2)
      |ORDER BY change, o_orderstatus""".stripMargin) { (s, dir) =>
    import graft.io.Snapshots
    val tbl = tmpDir("graft_snap_diff")
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        month(col("o_orderdate")).as("m"))
    val v1 = Snapshots.commit(o.filter(col("m").between(1, 6)), tbl)
    val v2 = Snapshots.commit(o.filter(col("m").between(4, 12)), tbl)
    Snapshots.diff(s, tbl, v1, v2)
      .groupBy("change", "o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("change", "o_orderstatus")
  }

  // K1/S2 — hive-partitioned parquet sink + partition-discovering scan
  // (SURVEY §2.1 K1/S2; process_openaq_raw.py:249-256). Partition cols
  // year/month/day derived per F2/F3; the read-back groups per
  // partition, so layout errors (lost/renamed partition values) fail
  // the hash. Partition-pruned read is asserted in the spec suite.
  q("k1_partitioned_sink",
    s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y') AS year,
      |  lpad(CAST(month(CAST(ts AS TIMESTAMP)) AS VARCHAR), 2, '0') AS month,
      |  count(*) AS n, ${sqlR2("sum(value)")} AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY year, month""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_part")
    Tables.load(s, dir, "events")
      .withColumn("year", date_format(col("ts"), "yyyy"))
      .withColumn("month", lpad(month(col("ts")).cast("string"), 2, "0"))
      // file hygiene at scale: cluster on the partition cols via AQE
      // rebalance (see AqPipeline.writeMart — coalesces small
      // partitions AND splits skewed ones at the advisory size)
      .hint("rebalance", col("year"), col("month"))
      .write.mode("overwrite").partitionBy("year", "month").parquet(out)
    // keep hive partition values as the strings we wrote ("01" not 1)
    graft.io.Layout.readStringPartitioned(s, out, Seq("year", "month"))
      .groupBy("year", "month")
      .agg(count(lit(1)).as("n"), r2(sum("value")).as("sum_value"))
      .orderBy("year", "month")
  }

  // K22 — sink FILE HYGIENE inside the oracle gate. The reference's
  // own documented production failure is output fragmentation
  // (doc/GLUE_JOBS_GUIDE.md:310,404-407: 50–200 KB files against a
  // 128–256 MB target) — each task writes one file per partition
  // VALUE it holds, so an unclustered partitionBy emits
  // tasks × touched-partitions files. The shipped cure is the AQE
  // `rebalance` hint on the partition columns (measured at the 100×
  // tier by `ScaleBench sink-hygiene`: 240 → 30 files, 1.6× faster
  // write, 11% smaller bytes). This row makes the contract
  // regression-proof: it writes the day-partitioned events sink the
  // way AqPipeline does, CENSUSES the files it wrote, and folds the
  // scale-invariant structural check — mean files per partition dir
  // ≤ 2 — into the hashed output as `hygiene_ok`, pinned true by the
  // oracle. Removing the hint (or a Spark upgrade breaking
  // rebalance-before-partitionBy clustering) flips the boolean and
  // turns this row red rather than silently re-fragmenting every
  // sink. The data columns re-aggregate the READ-BACK files, so the
  // row simultaneously proves the clustered write is lossless.
  q("k22_sink_hygiene",
    s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |  count(*) AS n, ${sqlR2("sum(value)")} AS sum_value,
      |  true AS hygiene_ok
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_hygiene")
    Tables.load(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .hint("rebalance", col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    // file census on what was just written: data files per day=… dir
    val hygieneOk = graft.io.FileCensus.hygieneOk(out)
    graft.io.Layout.readStringPartitioned(s, out, Seq("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), r2(sum("value")).as("sum_value"))
      .withColumn("hygiene_ok", lit(hygieneOk))
      .orderBy("day")
  }

  // K5 — catalog registration + SQL over the registered table (SURVEY
  // §2.1 K5, §3.3): the declared Athena-style SQL surface runs through
  // spark.sql against temp views.
  q("k5_sql_over_catalog",
    s"""SELECT o_orderpriority, count(*) AS n,
      |  ${sqlR2("max(o_totalprice)")} AS max_price
      |FROM orders
      |WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql(
      s"""SELECT o_orderpriority, count(*) AS n,
        |  ${sqlR2("max(o_totalprice)")} AS max_price
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  // SQL — recursive-hierarchy traversal: binary-heap hierarchy over
  // customer keys (parent(k) = ⌊k/2⌋), descendants of the root with
  // depth, aggregated per level. The oracle states the semantics as a
  // recursive CTE; the Spark side runs the equivalent ITERATIVE
  // frontier loop over a cached 2-column key frame — each round is
  // one equi-join of the frontier against the keys (broadcast here;
  // the same loop shuffle-joins when a frontier outgrows broadcast),
  // with lineage truncated every 4 rounds (the connectedComponents
  // cadence: the logical plan would otherwise double per round).
  // Spark 4's native WITH RECURSIVE surface is exercised by
  // `sql_recursive_cte_native` below; the native loop re-executes its
  // body plan per iteration with fixed per-stage cost that dominates
  // at ⌈log2 N⌉ depths, so the hand-rolled loop is the headline plan.
  q("sql_recursive_cte",
    """WITH RECURSIVE d(k, depth) AS (
      |  SELECT CAST(1 AS BIGINT), 0
      |  UNION ALL
      |  SELECT c.c_custkey, d.depth + 1
      |  FROM customer c JOIN d ON CAST(floor(c.c_custkey / 2.0) AS BIGINT) = d.k)
      |SELECT CAST(depth AS INTEGER) AS depth, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
      |FROM d GROUP BY depth ORDER BY depth""".stripMargin) { (s, dir) =>
    val keys = Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("k"),
        floor(col("c_custkey") / 2.0).cast("long").as("parent_k"))
      .cache()
    // depth bound is structural, not discovered: parent(k) = ⌊k/2⌋
    // puts key k at depth ⌊log2 k⌋, so ⌊log2 max(k)⌋ rounds suffice —
    // ONE scalar aggregate replaces a per-round emptiness check
    val maxK = keys.agg(max("k")).head().getLong(0)
    val maxDepth = (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxK))).toInt
    var frontier = s.range(1, 2).select(col("id").as("k"), lit(0).as("depth"))
    val levels = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    levels += frontier
    for (d <- 1 to maxDepth) {
      // the frontier at depth d holds at most 2^d keys (binary heap),
      // so the broadcast hint is STRUCTURALLY safe through d=22 (4M
      // 8-byte keys ≈ 32 MB); past that the hint comes off and the
      // round degrades to a shuffle join instead of OOMing the driver
      // — a forced broadcast of the deepest frontier (~half of all
      // keys) would be the classic 100TB driver-kill
      val pk = frontier.select(col("k").as("pk"))
      frontier = keys.join(if (d <= 22) broadcast(pk) else pk,
          col("parent_k") === col("pk"))
        .select(col("k"), lit(d).as("depth"))
      // every frontier is referenced TWICE (next round's broadcast +
      // the final per-level union): cache each so neither consumer
      // re-executes the join chain; truncate lineage every 4 rounds
      frontier = if (d % 4 == 0) frontier.localCheckpoint() else frontier.cache()
      levels += frontier
    }
    levels.result().reduce(_ unionAll _)
      .groupBy(col("depth").cast("int").as("depth"))
      .agg(count(lit(1)).as("n"),
        min("k").cast("long").as("min_k"), max("k").cast("long").as("max_k"))
      .orderBy("depth")
  }

  // SQL — native WITH RECURSIVE surface (Spark 4 UnionLoop): BOTH
  // engines run the SAME recursive SQL text, checked engine-to-engine
  // — the declarative fixpoint lives in the engine, no driver loop.
  // Scoped to the top 10 levels of the hierarchy: the surface check
  // needs the recursion semantics, not the full depth (the headline
  // full-depth traversal is sql_recursive_cte above).
  q("sql_recursive_cte_native",
    """WITH RECURSIVE d(k, depth) AS (
      |  SELECT CAST(1 AS BIGINT), 0
      |  UNION ALL
      |  SELECT c.c_custkey, d.depth + 1
      |  FROM customer c JOIN d ON CAST(floor(c.c_custkey / 2.0) AS BIGINT) = d.k
      |  WHERE c.c_custkey < 1024)
      |SELECT CAST(depth AS INTEGER) AS depth, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
      |FROM d GROUP BY depth ORDER BY depth""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql(
      """WITH RECURSIVE d(k, depth) AS (
        |  SELECT CAST(1 AS BIGINT), 0
        |  UNION ALL
        |  SELECT c.c_custkey, d.depth + 1
        |  FROM customer c JOIN d ON CAST(floor(c.c_custkey / 2.0) AS BIGINT) = d.k
        |  WHERE c.c_custkey < 1024)
        |SELECT CAST(depth AS INTEGER) AS depth, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
        |FROM d GROUP BY depth ORDER BY depth""".stripMargin)
  }

  // K5+ — PERSISTENT catalog: external partitioned table registered
  // over a hive-layout directory, partitions RECOVERED from the
  // filesystem (MSCK — the reference's Glue-crawler step), then SQL
  // served from the cataloged table. One row per partition proves the
  // recovery found exactly the partitions the data implies; the counts
  // prove the table serves the rows behind them.
  q("k6_catalog_partitions",
    s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y') AS year,
      |  lpad(CAST(month(CAST(ts AS TIMESTAMP)) AS VARCHAR), 2, '0') AS month,
      |  count(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY year, month""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_cat")
    val ev = Tables.load(s, dir, "events")
      .withColumn("year", date_format(col("ts"), "yyyy"))
      .withColumn("month", lpad(month(col("ts")).cast("string"), 2, "0"))
    ev.write.mode("overwrite").partitionBy("year", "month").parquet(out)
    graft.io.CatalogOps.registerExternalPartitioned(
      s, "events_catalogued", out, ev.schema, Seq("year", "month"))
    s.sql(
      """SELECT year, month, count(*) AS n
        |FROM events_catalogued
        |GROUP BY year, month
        |ORDER BY year, month""".stripMargin)
  }

  // K9 — DYNAMIC partition pruning (engine extra; the 100 TB join
  // discipline): fact written hive-partitioned on the join key, dim
  // side filtered at runtime. Catalyst injects a dynamicpruning#
  // subquery into the fact scan's PartitionFilters, so only the
  // partitions whose keys survive the dim filter are ever listed or
  // read — on a 1000-partition fact with a 5-nation region that is a
  // 200× scan reduction with zero user-side changes. Plan shape is
  // asserted in DppSpec; here the driver checks the answer.
  q("k9_dpp",
    s"""SELECT n_name, count(*) AS n_suppliers,
      |  ${sqlR2("sum(s_acctbal)")} AS sum_acctbal
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_dpp")
    val supplier = Tables.load(s, dir, "supplier")
    supplier.write.mode("overwrite").partitionBy("s_nationkey").parquet(out)
    // explicit schema pins the partition column's type (no string
    // inference), which keeps the join key usable for pruning
    val fact = s.read.schema(supplier.schema).parquet(out)
    val dim = Tables.load(s, dir, "nation")
      .join(Tables.load(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
    fact.join(dim, col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        r2(sum("s_acctbal")).as("sum_acctbal"))
      .orderBy("n_name")
  }

  // S7 — schema evolution (engine extra): a table whose later batches
  // grew a column — the normal state of any long-lived 100 TB dataset.
  // Batch 1 lands without `o_orderpriority`; batch 2 adds it. A
  // mergeSchema=true scan unions the file schemas (missing columns
  // read as NULL) so ONE query serves the whole history without
  // rewriting old files. The oracle replays the same evolution with
  // UNION ALL + NULL.
  q("s7_schema_evolution",
    s"""WITH evolved AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice, NULL AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT o_orderstatus, count(*) AS n,
      |  count(o_orderpriority) AS n_with_priority,
      |  ${sqlR2("sum(o_totalprice)")} AS sum_price
      |FROM evolved
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_evo")
    val orders = Tables.load(s, dir, "orders")
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$out/batch=1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$out/batch=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        count(col("o_orderpriority")).as("n_with_priority"),
        r2(sum("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  // K10 — Z-ORDER layout rewrite (engine extra): events re-clustered
  // on (user_id, value) via bit-interleaved Z-addresses, then read
  // back. The oracle checks the rewrite is content-preserving; the
  // multi-dimension pruning win it buys (point/range predicates on
  // EITHER clustered column skip most files) is measured in
  // LayoutSpec via per-file min/max footer ranges.
  q("k10_zorder_layout",
    s"""SELECT event_type, count(*) AS n,
      |  ${sqlR2("sum(value)")} AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_zorder")
    graft.io.Layout.writeZOrdered(
      Tables.load(s, dir, "events"), out, numFiles = 8,
      clusterCols = Seq("user_id", "value"), bits = 12)
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), r2(sum("value")).as("sum_value"))
      .orderBy("event_type")
  }

  // K18 — HILBERT-curve layout (engine extra): the locality-tighter
  // sibling of k10's Z-order. The curve walk is all-integer, so the
  // oracle replays the exact same xy2d levels as a generated CTE chain
  // (one Scala loop emits both sides) and the per-bucket profile of
  // the address — including min/max, which would expose any
  // single-cell divergence — must hash-match. Curve continuity and
  // file-range locality are proven in LayoutSpec.
  q("k18_hilbert_layout", {
    val cte = graft.io.Layout.hilbertSqlCte(
      "events", "user_id % 256", "event_id % 256", 8, Seq("value"))
    s"""$cte
      |SELECT CAST(floor(hd / 1024.0) AS BIGINT) AS bucket,
      |  count(*) AS n, ${sqlR2("sum(value)")} AS sum_value,
      |  min(hd) AS min_hd, max(hd) AS max_hd
      |FROM ${graft.io.Layout.hilbertFinalCte(8)}
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin
  }) { (s, dir) =>
    val out = tmpDir("graft_hilbert")
    graft.io.Layout.writeHilbertOrdered(
      Tables.load(s, dir, "events"), out, numFiles = 8,
      xCol = col("user_id") % 256, yCol = col("event_id") % 256, order = 8)
    graft.io.Layout.withHilbertAddress(
        s.read.parquet(out), col("user_id") % 256, col("event_id") % 256,
        order = 8, outCol = "hd")
      .withColumn("bucket", floor(col("hd") / 1024.0).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), r2(sum("value")).as("sum_value"),
        min("hd").as("min_hd"), max("hd").as("max_hd"))
      .orderBy("bucket")
  }

  // K17 — parquet BLOOM FILTER layout (engine extra): the point-lookup
  // data-skipping lever min/max stats can't give an equality probe on
  // an unclustered high-cardinality column. Events are rewritten with
  // a per-row-group bloom on user_id (writer option; LayoutSpec proves
  // every row group carries it), then served through a point-lookup IN
  // filter — at 100 TB the reader drops row groups on a hash check
  // instead of decoding pages. The oracle runs the same lookup on the
  // original table: the layout must change nothing but the I/O.
  q("k17_parquet_bloom",
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      |FROM events
      |WHERE user_id IN (7, 42, 137)
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_bloom")
    graft.io.Layout.writeWithBloom(
      Tables.load(s, dir, "events"), out,
      bloomCols = Seq("user_id"), ndv = 10000L)
    s.read.parquet(out)
      .filter(col("user_id").isin(7L, 42L, 137L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy("user_id")
  }

  // K11 — BUCKETED co-located join (engine extra): both sides written
  // bucketed+sorted on the join key, registered as external tables,
  // then joined. Bucketing is the write-once layout that deletes the
  // per-query shuffle: each task merges bucket i of both tables
  // locally — at 100 TB the recurring fact⋈fact join goes from a
  // full-network exchange to zero join-side exchanges (plan asserted
  // in BucketingSpec; here the driver checks the answer through the
  // bucketed write+catalog+read path).
  q("k11_bucketed_join",
    s"""SELECT c_mktsegment, count(*) AS n_orders,
      |  ${sqlR2("sum(o_totalprice)")} AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_bkt")
    Tables.load(s, dir, "orders")
      .write.mode("overwrite").option("path", s"$out/orders_b")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bucketed")
    Tables.load(s, dir, "customer")
      .write.mode("overwrite").option("path", s"$out/customer_b")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bucketed")
    // merge hints pin the sort-merge shape the bucket layout serves
    // (broadcast would also work at test scale but proves nothing)
    s.table("orders_bucketed").hint("merge")
      .join(s.table("customer_bucketed").hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        r2(sum("o_totalprice")).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  // K12 — small-file compaction through the gate: a 64-fragment write
  // (the per-hour incremental-ingest pathology, SURVEY §7.4-7) is
  // rewritten toward target-size files by Maintenance.compact, and
  // the compacted table must serve the identical content. File-count
  // and atomic-swap behavior are spec'd in MaintenanceSpec.
  q("k12_compaction",
    s"""SELECT event_type, count(*) AS n,
      |  ${sqlR2("sum(value)")} AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_compact") + "/t"
    Tables.load(s, dir, "events").repartition(64)
      .write.mode("overwrite").parquet(out)
    graft.io.Maintenance.compact(s, out, Nil, targetBytes = 16L * 1024 * 1024)
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), r2(sum("value")).as("sum_value"))
      .orderBy("event_type")
  }

  // AQI (SURVEY §2.10) — EPA piecewise-linear interpolation as pure
  // codegen'd Column expressions (no UDF), applied to events.value as
  // a pm2.5-like concentration; identical CASE chain in the oracle.
  q("aqi_breakpoints", Aqi.oracleSql) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").select(col("event_id"), col("value"))
    Aqi.score(ev, Seq("pm25" -> col("value")))
      .select(col("event_id"), col("value"), r4(col("aqi")).as("aqi"), col("aqi_level"))
      .orderBy("event_id")
  }

  /** Multi-pollutant AQI mapping for [[aqiDominantOracle]] /
    * `aqi_dominant`: the synthetic event types stand in for the
    * reference's pivoted pollutant columns, each scored with its OWN
    * EPA breakpoint table.
    */
  val pollutantForEventType: Seq[(String, String)] = Seq(
    "pm25" -> "click", "pm10" -> "error", "o3" -> "purchase",
    "no2" -> "signup", "co" -> "view")

  private def aqiDominantOracle: String = {
    val pivotCols = pollutantForEventType.map { case (p, e) =>
      s"${sqlR4(s"avg(CASE WHEN event_type = '$e' THEN value END)")} AS $p"
    }.mkString(",\n      |    ")
    val aqiCols = pollutantForEventType.map { case (p, _) =>
      s"${Aqi.sqlAqiFor(p, Aqi.breakpointsByPollutant(p))} AS aqi_$p"
    }.mkString(",\n      |    ")
    val names = pollutantForEventType.map { case (p, _) => p -> s"aqi_$p" }
    val overall = Aqi.sqlRowAqi(names.map(_._2))
    s"""WITH wide AS (
      |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    $pivotCols
      |  FROM events GROUP BY 1, 2),
      |aqis AS (
      |  SELECT user_id, hour,
      |    $aqiCols
      |  FROM wide)
      |SELECT user_id, hour,
      |  ${sqlR4(overall)} AS aqi,
      |  ${Aqi.sqlAqiLevel(overall)} AS aqi_level,
      |  ${Aqi.sqlDominantPollutant(names, overall)} AS dominant
      |FROM aqis
      |ORDER BY user_id, hour""".stripMargin
  }

  // §2.10 full surface — overall row AQI (max over per-pollutant AQIs,
  // each on its own EPA table) + dominant pollutant (argmax) over
  // pivoted multi-pollutant rows, the reference AQI plan's
  // `doc/archive/AQI Calculation Implementation Plan.md:58-65`. Pivot
  // values are det-rounded BEFORE scoring so both engines interpolate
  // identical inputs.
  q("aqi_dominant", aqiDominantOracle) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("value"),
        date_trunc("hour", col("ts")).as("hour"))
    val wide0 = RelationalOps.pivotAvg(ev, Seq("user_id", "hour"),
      "event_type", pollutantForEventType.map(_._2), "value")
    val wide = wide0.select(
      Seq(col("user_id"), col("hour")) ++
        pollutantForEventType.map { case (p, e) => r4(col(e)).as(p) }: _*)
    val byP = pollutantForEventType.map { case (p, _) => p -> col(p) }
    Aqi.score(wide, byP)
      .select(col("user_id"), col("hour"), r4(col("aqi")).as("aqi"), col("aqi_level"),
        col("dominant_pollutant").as("dominant"))
      .orderBy("user_id", "hour")
  }

  // DQ — per-day completeness: distinct hours observed / 24 (the
  // reference's validation step as a reportable metric instead of a
  // log line). One partial-aggregated pass; a gap day surfaces as
  // coverage < 1.
  q("dq_completeness",
    s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |  CAST(count(DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
      |    AS hours_present,
      |  ${sqlR4("count(DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP))) / 24.0")}
      |    AS coverage
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(date_trunc("hour", col("ts"))).as("hours_present"),
        r4(countDistinct(date_trunc("hour", col("ts"))) / lit(24.0)).as("coverage"))
      .orderBy("day")
  }

  // DQ — freshness lag per event type against a fixed anchor (the
  // oracle-able stand-in for current_timestamp): hours between each
  // type's latest event and the anchor — the staleness alarm input.
  q("dq_freshness",
    """SELECT event_type,
      |  max(CAST(ts AS TIMESTAMP)) AS latest,
      |  CAST(floor((epoch(TIMESTAMP '2024-03-01 00:00:00')
      |    - epoch(date_trunc('second', max(CAST(ts AS TIMESTAMP))))) / 3600)
      |    AS BIGINT) AS lag_hours
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
    // elapsed whole hours on truncated-to-second timestamps — the same
    // arithmetic on both engines (unix_timestamp floors to seconds)
    val anchor = to_timestamp(lit("2024-03-01 00:00:00"))
    Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(max(col("ts")).as("latest"))
      .withColumn("lag_hours",
        floor((unix_timestamp(anchor) - unix_timestamp(col("latest")))
          .cast("double") / 3600).cast("long"))
      .orderBy("event_type")
  }

  // DQ — key-uniqueness audit: the primary-key checks a mart contract
  // declares, one row per key with duplicate counts. count vs
  // count(DISTINCT) per key — one partial-agg pass per table.
  q("dq_uniqueness",
    """SELECT * FROM (
      |  SELECT 'events.event_id' AS key_name,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
      |    CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_dups
      |  FROM events
      |  UNION ALL
      |  SELECT 'orders.o_orderkey',
      |    CAST(count(*) AS BIGINT), CAST(count(DISTINCT o_orderkey) AS BIGINT),
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      |  FROM orders)
      |ORDER BY key_name""".stripMargin) { (s, dir) =>
    def check(table: String, key: String): DataFrame =
      Tables.load(s, dir, table).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(key)).as("n_distinct"))
        .select(lit(s"$table.$key").as("key_name"), col("n_rows"),
          col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_dups"))
    check("events", "event_id").unionByName(check("orders", "o_orderkey"))
      .orderBy("key_name")
  }

  // DQ — accepted-values (domain) audit: categorical columns must stay
  // within their declared domain; violations surface with counts
  // instead of silently flowing downstream. One conditional-agg pass.
  q("dq_domain",
    """SELECT 'events.event_type' AS col_name,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN event_type IN
      |    ('click','error','purchase','signup','view')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
      |  CAST(count(DISTINCT CASE WHEN event_type NOT IN
      |    ('click','error','purchase','signup','view')
      |    THEN event_type END) AS BIGINT) AS n_bad_values
      |FROM events""".stripMargin) { (s, dir) =>
    val domain = eventTypes
    Tables.load(s, dir, "events").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("event_type").isin(domain: _*), 0L).otherwise(1L))
          .as("n_violations"),
        countDistinct(when(!col("event_type").isin(domain: _*),
          col("event_type"))).as("n_bad_values"))
      .select(lit("events.event_type").as("col_name"),
        col("n_rows"), col("n_violations"), col("n_bad_values"))
  }

  // DQ — distribution drift (PSI) between two time windows: the
  // monitor a training-data pipeline runs before trusting a new batch.
  // Fixed-width buckets from the GLOBAL min/max (a broadcast 1-row
  // stats join, never a driver collect), Laplace-smoothed shares per
  // window (zero-count buckets stay finite), per-bucket contribution
  // (p−q)·ln(p/q) and its running total; PSI > 0.2 is the usual
  // retrain/alert line. One scan builds the counts; the bucket spine
  // is generated, not scanned.
  q("dq_drift",
    s"""WITH stats AS (
      |  SELECT min(value) AS lo, max(value) AS hi FROM events),
      |bucketed AS (
      |  SELECT CAST(least(9, floor((value - lo) / ((hi - lo) / 10))) AS BIGINT) AS bucket,
      |    CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
      |      THEN 'ref' ELSE 'cur' END AS win
      |  FROM events CROSS JOIN stats),
      |counts AS (
      |  SELECT bucket,
      |    CAST(sum(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
      |    CAST(sum(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM bucketed GROUP BY bucket),
      |spine AS (
      |  SELECT unnest(generate_series(0, 9)) AS bucket),
      |shares AS (
      |  SELECT s.bucket,
      |    (coalesce(n_ref, 0) + 1) / CAST((SELECT sum(n_ref) FROM counts) + 10 AS DOUBLE) AS p,
      |    (coalesce(n_cur, 0) + 1) / CAST((SELECT sum(n_cur) FROM counts) + 10 AS DOUBLE) AS q
      |  FROM spine s LEFT JOIN counts c ON s.bucket = c.bucket)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  ${sqlR4("p")} AS p_ref, ${sqlR4("q")} AS p_cur,
      |  ${sqlR4("(p - q) * ln(p / q)")} AS psi_contrib
      |FROM shares ORDER BY bucket""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val stats = ev.agg(min("value").as("lo"), max("value").as("hi"))
    val bucketed = ev.crossJoin(broadcast(stats))
      .select(
        least(lit(9), floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / 10)))
          .cast("long").as("bucket"),
        when(col("ts") < to_timestamp(lit("2024-01-16 00:00:00")), "ref")
          .otherwise("cur").as("win"))
    val counts = bucketed.groupBy("bucket").agg(
      sum(when(col("win") === "ref", 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("win") === "cur", 1L).otherwise(0L)).as("n_cur"))
    val totals = counts.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"))
    val spine = s.range(0, 10).select(col("id").as("bucket"))
    spine.join(counts, Seq("bucket"), "left").crossJoin(broadcast(totals))
      .select(col("bucket"),
        ((coalesce(col("n_ref"), lit(0L)) + 1) / (col("t_ref") + 10).cast("double")).as("p"),
        ((coalesce(col("n_cur"), lit(0L)) + 1) / (col("t_cur") + 10).cast("double")).as("q"))
      .select(col("bucket"), r4(col("p")).as("p_ref"), r4(col("q")).as("p_cur"),
        r4((col("p") - col("q")) * log(col("p") / col("q"))).as("psi_contrib"))
      .orderBy("bucket")
  }

  // DQ — per-group z-score anomaly detection: the classic metric-drift
  // alarm (which readings sit ≥2σ from their event type's mean, which
  // cross the 3σ outlier line). Group stats are a 5-row aggregate
  // broadcast back over the corpus — one scan + one tiny join, no
  // window over the full table. Both the tail filter and the outlier
  // flag compare the ROUNDED z (DetRound on both engines), so the
  // row-set boundary is deterministic — the raw stddev differs between
  // engines only in the last ulp, which the rounding epsilon absorbs.
  q("dq_anomaly",
    s"""WITH stats AS (
      |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      |  FROM events GROUP BY 1),
      |z AS (
      |  SELECT e.event_id, e.event_type,
      |    ${sqlR4("(e.value - s.mu) / s.sigma")} AS z
      |  FROM events e JOIN stats s USING (event_type))
      |SELECT event_id, event_type, z, (abs(z) >= 3.0) AS is_outlier
      |FROM z WHERE abs(z) >= 2.0 ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp(col("value")).as("sigma"))
    ev.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        r4((col("value") - col("mu")) / col("sigma")).as("z"))
      .filter(abs(col("z")) >= 2.0)
      .withColumn("is_outlier", abs(col("z")) >= 3.0)
      .orderBy("event_id")
  }

  /** One referential-integrity check: count child rows and how many
    * have no parent key. The parent side is key-distinct first, so the
    * left join can't multiply child rows; each check is a single
    * key-equi join + one-row aggregate (AQE broadcasts small parents).
    */
  private def fkAudit(rel: String, child: DataFrame, ck: String,
                      parent: DataFrame, pk: String): DataFrame =
    child.select(col(ck).as("ck"))
      .join(parent.select(col(pk).as("k")).distinct(), col("ck") === col("k"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .select(lit(rel).as("relationship"), col("n_rows"),
        col("n_unmatched").cast("long").as("n_unmatched"))

  // DQ — referential-integrity audit over the star schema: orphaned
  // child keys in both fact→dim directions, plus childless parents
  // (customers that never ordered — a real nonzero signal on TPC-H
  // data). One row per relationship; nothing collects to the driver.
  q("dq_referential",
    """SELECT * FROM (
      |  SELECT 'customer.c_custkey->orders.o_custkey' AS relationship,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
      |  FROM customer c LEFT JOIN (SELECT DISTINCT o_custkey AS k FROM orders) p
      |    ON c.c_custkey = p.k
      |  UNION ALL
      |  SELECT 'events.user_id->customer.c_custkey',
      |    CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM events c LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
      |    ON c.user_id = p.k
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey->orders.o_orderkey',
      |    CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
      |    ON c.l_orderkey = p.k
      |  UNION ALL
      |  SELECT 'orders.o_custkey->customer.c_custkey',
      |    CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
      |    ON c.o_custkey = p.k
      |) ORDER BY relationship""".stripMargin) { (s, dir) =>
    val customer = Tables.load(s, dir, "customer")
    val orders = Tables.load(s, dir, "orders")
    fkAudit("customer.c_custkey->orders.o_custkey", customer, "c_custkey",
        orders, "o_custkey")
      .unionAll(fkAudit("events.user_id->customer.c_custkey",
        Tables.load(s, dir, "events"), "user_id", customer, "c_custkey"))
      .unionAll(fkAudit("lineitem.l_orderkey->orders.o_orderkey",
        Tables.load(s, dir, "lineitem"), "l_orderkey", orders, "o_orderkey"))
      .unionAll(fkAudit("orders.o_custkey->customer.c_custkey",
        orders, "o_custkey", customer, "c_custkey"))
      .orderBy("relationship")
  }

  // DQ — shuffle-key skew preflight: bucket rows by an md5-prefix hash
  // of the join/groupBy key and report per-bucket row counts + skew
  // factor (n × buckets / total; 1.0 = even) — the measurement that
  // decides between a plain shuffle, salting (j9_salted_join), or AQE
  // skew-join BEFORE paying for the wrong plan at 100 TB. The md5-hex
  // bucketing (instead of xxhash64) keeps the bucketing replayable in
  // the oracle byte-for-byte.
  q("dq_key_skew",
    s"""WITH b AS (
       |  SELECT CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 6)) AS BIGINT) % 32 AS bucket
       |  FROM lineitem),
       |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY bucket)
       |SELECT bucket, n_rows,
       |  ${sqlR4("n_rows * 32.0 / (SELECT sum(n_rows) FROM c)")} AS skew
       |FROM c ORDER BY bucket""".stripMargin) { (s, dir) =>
    graft.operators.QualityOps.keySkewReport(
        Tables.load(s, dir, "lineitem"), "l_orderkey", buckets = 32)
      .orderBy("bucket")
  }

  // DQ — single-pass column profiler: every per-column statistic
  // (non-null count, exact distinct, min/max, mean) for the whole
  // table computed in ONE wide aggregate over ONE scan — the 1-row
  // result is then unpivoted (stack) into per-column rows on the
  // driver-sized side. At 100 TB the scan is the cost; profiling n
  // columns must not mean n scans. The multi-distinct is Catalyst's
  // Expand (one extra map-side pass, still one scan).
  q("dq_profile",
    s"""WITH s AS (SELECT * FROM events)
       |SELECT * FROM (
       |  SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(count(event_id) AS BIGINT) AS n_nonnull,
       |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       |    CAST(min(event_id) AS DOUBLE) AS min_num,
       |    CAST(max(event_id) AS DOUBLE) AS max_num,
       |    ${sqlR4("avg(event_id)")} AS avg_num,
       |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
       |  FROM s
       |  UNION ALL
       |  SELECT 'user_id', CAST(count(*) AS BIGINT),
       |    CAST(count(user_id) AS BIGINT),
       |    CAST(count(DISTINCT user_id) AS BIGINT),
       |    CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
       |    ${sqlR4("avg(user_id)")}, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       |  FROM s
       |  UNION ALL
       |  SELECT 'event_type', CAST(count(*) AS BIGINT),
       |    CAST(count(event_type) AS BIGINT),
       |    CAST(count(DISTINCT event_type) AS BIGINT),
       |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       |    min(event_type), max(event_type)
       |  FROM s
       |  UNION ALL
       |  SELECT 'value', CAST(count(*) AS BIGINT),
       |    CAST(count(value) AS BIGINT),
       |    CAST(count(DISTINCT value) AS BIGINT),
       |    min(value), max(value), ${sqlR4("avg(value)")},
       |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       |  FROM s
       |) ORDER BY col_name""".stripMargin) { (s, dir) =>
    val one = Tables.load(s, dir, "events").agg(
      count(lit(1)).as("n_rows"),
      count(col("event_id")).as("nn_eid"),
      countDistinct(col("event_id")).as("nd_eid"),
      min(col("event_id")).cast("double").as("mn_eid"),
      max(col("event_id")).cast("double").as("mx_eid"),
      avg(col("event_id")).as("av_eid"),
      count(col("user_id")).as("nn_uid"),
      countDistinct(col("user_id")).as("nd_uid"),
      min(col("user_id")).cast("double").as("mn_uid"),
      max(col("user_id")).cast("double").as("mx_uid"),
      avg(col("user_id")).as("av_uid"),
      count(col("event_type")).as("nn_et"),
      countDistinct(col("event_type")).as("nd_et"),
      min(col("event_type")).as("mn_et"),
      max(col("event_type")).as("mx_et"),
      count(col("value")).as("nn_val"),
      countDistinct(col("value")).as("nd_val"),
      min(col("value")).as("mn_val"),
      max(col("value")).as("mx_val"),
      avg(col("value")).as("av_val"))
    one.select(col("n_rows"), expr(
      """stack(4,
        |  'event_id',   nn_eid, nd_eid, mn_eid, mx_eid, av_eid,
        |    CAST(NULL AS STRING), CAST(NULL AS STRING),
        |  'user_id',    nn_uid, nd_uid, mn_uid, mx_uid, av_uid,
        |    CAST(NULL AS STRING), CAST(NULL AS STRING),
        |  'event_type', nn_et,  nd_et,  CAST(NULL AS DOUBLE),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_et, mx_et,
        |  'value',      nn_val, nd_val, mn_val, mx_val, av_val,
        |    CAST(NULL AS STRING), CAST(NULL AS STRING)
        |) AS (col_name, n_nonnull, n_distinct, min_num, max_num,
        |      avg_num, min_str, max_str)""".stripMargin))
      .select(col("col_name"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"), col("min_num"), col("max_num"),
        r4(col("avg_num")).as("avg_num"), col("min_str"), col("max_str"))
      .orderBy("col_name")
  }

  // Time-series gap filling: per event type, a complete hourly spine
  // from its first to last hour (sequence + explode — generated where
  // the bounds row lives, no driver loop), hours with no events
  // filled with 0 — what dashboards and downstream window functions
  // need before they can trust frame offsets.
  q("ts_gapfill",
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi
      |  FROM hourly GROUP BY 1),
      |spine AS (SELECT event_type,
      |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
      |  FROM bounds)
      |SELECT s.event_type, strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour,
      |  coalesce(h.n, CAST(0 AS BIGINT)) AS n
      |FROM spine s LEFT JOIN hourly h
      |  ON h.event_type = s.event_type AND h.hour = s.hour
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
    val hourly = ev.groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
    val bounds = hourly.groupBy("event_type")
      .agg(min("hour").as("lo"), max("hour").as("hi"))
    val spine = bounds.select(col("event_type"),
      explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    spine.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "hour")
  }

  // The INCREMENTAL PRODUCTION LOOP end-to-end: batch 1 exact-dedups
  // internally and commits to a snapshot table; batch 2 dedups
  // against the snapshot's fingerprint history (never re-reading
  // batch 1's raw input — the 100 TB property: daily work is bounded
  // by the increment plus the digest index), commits as the next
  // version; the serving query reads the LATEST snapshot. Dedup
  // priority: earlier batch wins, then lowest doc_id — mirrored in
  // the oracle's window.
  q("pipe_incremental",
    """WITH ranked AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY md5(text)
      |      ORDER BY doc_id % 2, doc_id) AS rn
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM ranked WHERE rn = 1
      |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    import graft.io.Snapshots
    import graft.operators.DedupOps
    val docs = Tables.load(s, dir, "documents")
      .select("doc_id", "text", "source", "n_chars")
    val tbl = tmpDir("graft_incr")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    // day 1: in-batch exact dedup (keep min id), commit v1
    val keep1 = DedupOps.incrementalExact(b1, "doc_id", "text",
        seenIndex = b1.limit(0).select(md5(col("text").cast("binary")).as("fingerprint")))
      .select(col("keep_id").as("doc_id"))
    Snapshots.commit(b1.join(keep1, "doc_id"), tbl)
    // day 2: dedup against HISTORY = the snapshot's fingerprints
    val history = Snapshots.read(s, tbl)
    val keep2 = DedupOps.incrementalExact(b2, "doc_id", "text",
        seenIndex = DedupOps.fingerprintIndex(history, "text"))
      .select(col("keep_id").as("doc_id"))
    Snapshots.commit(history.unionByName(b2.join(keep2, "doc_id")), tbl)
    // serve from the latest version
    Snapshots.read(s, tbl)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("source")
  }

  // Time-series LOCF (last observation carried forward): error events
  // carry no usable reading, so each user's series fills them with the
  // most recent non-null value — the standard sensor-feed repair, one
  // window pass, values carried bit-exact (no arithmetic).
  q("ts_locf",
    """SELECT event_id, user_id,
      |  last_value(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |      FROM events)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("v"))
      .select(col("event_id"), col("user_id"),
        last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
      .orderBy("event_id")
  }

  // TS — linear interpolation between readings (ts_locf's numeric
  // sibling): each error row's missing value is reconstructed from the
  // nearest non-null neighbors on BOTH sides, weighted by time
  // fraction. The neighbor (ts, value) pairs ride in structs carried
  // by IGNORE NULLS window frames that exclude the current row — one
  // partitioning, no self-join, no sort-merge range lookup. Edges
  // degrade to backfill / LOCF; equal-timestamp neighbors guard the
  // zero denominator.
  q("ts_interpolate",
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
       |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
       |  FROM events),
       |f AS (
       |  SELECT *,
       |    last_value(CASE WHEN v IS NOT NULL
       |        THEN struct_pack(t := ts, x := v) END IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
       |    first_value(CASE WHEN v IS NOT NULL
       |        THEN struct_pack(t := ts, x := v) END IGNORE NULLS) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
       |  FROM e),
       |g AS (
       |  SELECT event_id, user_id,
       |    CASE
       |      WHEN pv IS NULL AND nv IS NULL THEN NULL
       |      WHEN pv IS NULL THEN nv.x
       |      WHEN nv IS NULL THEN pv.x
       |      WHEN epoch_us(nv.t) = epoch_us(pv.t) THEN pv.x
       |      ELSE pv.x + (nv.x - pv.x) *
       |        (CAST(epoch_us(ts) - epoch_us(pv.t) AS DOUBLE) /
       |         CAST(epoch_us(nv.t) - epoch_us(pv.t) AS DOUBLE))
       |    END AS vi
       |  FROM f WHERE event_type = 'error')
       |SELECT event_id, user_id, ${sqlR4("vi")} AS v_interp
       |FROM g ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wb = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val known = when(col("v").isNotNull,
      struct(col("ts").as("t"), col("v").as("x")))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("v"))
      .withColumn("pv", last(known, ignoreNulls = true)
        .over(wb.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nv", first(known, ignoreNulls = true)
        .over(wb.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        r4(when(col("pv").isNull && col("nv").isNull, lit(null))
          .when(col("pv").isNull, col("nv.x"))
          .when(col("nv").isNull, col("pv.x"))
          .when(unix_micros(col("nv.t")) === unix_micros(col("pv.t")), col("pv.x"))
          .otherwise(col("pv.x") + (col("nv.x") - col("pv.x")) *
            ((unix_micros(col("ts")) - unix_micros(col("pv.t"))).cast("double") /
             (unix_micros(col("nv.t")) - unix_micros(col("pv.t"))).cast("double"))))
          .as("v_interp"))
      .orderBy("event_id")
  }

  // TS — M4 downsampling (min/max/first/last per pixel-bucket), the
  // standard error-free time-series visualization reduction: within
  // each (series, time-bucket) the four extreme points pin the
  // rendered line exactly, collapsing any cardinality to 4 points per
  // bucket. One hash aggregate — min_by/max_by carry values without
  // arithmetic, so results are bit-exact. The orientation key
  // (ts, event_id) is encoded as one zero-padded string so both
  // engines break ties identically.
  q("ts_m4_downsample",
    """WITH e AS (
      |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
      |    value,
      |    lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), 20, '0') ||
      |      lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok
      |  FROM events)
      |SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n,
      |  min(value) AS v_min, max(value) AS v_max,
      |  arg_min(value, ok) AS v_first, arg_max(value, ok) AS v_last
      |FROM e GROUP BY user_id, bucket
      |ORDER BY user_id, bucket""".stripMargin) { (s, dir) =>
    val ok = concat(
      lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 12, "0"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("bucket"),
        col("value"), ok.as("ok"))
      .groupBy("user_id", "bucket")
      .agg(count(lit(1)).as("n"),
        min("value").as("v_min"), max("value").as("v_max"),
        min_by(col("value"), col("ok")).as("v_first"),
        max_by(col("value"), col("ok")).as("v_last"))
      .orderBy("user_id", "bucket")
  }

  // TS — truncated EWMA (α = ½, 12 taps) per user series. The
  // recursive s_t = αx_t + (1−α)s_{t−1} unrolls to Σ α(1−α)^k x_{t−k};
  // truncating at 12 taps bounds the window frame (recursive window
  // state doesn't exist in either engine) and renormalizing by the
  // weights actually present handles series heads. α = ½ makes every
  // weight a power of two — weight multiplication only scales the
  // exponent, so the unrolled sum is deterministic; ONE Scala loop
  // emits the identical term list on both sides.
  q("ts_ewma", {
    val terms = (0 until 12).map { k =>
      val w = java.math.BigDecimal.valueOf(0.5).pow(k + 1).toPlainString
      (s"coalesce(lag(value, $k) OVER w * $w, 0)",
       s"CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN $w ELSE 0 END")
    }
    s"""SELECT event_id, user_id,
      |  ${sqlR4(s"(${terms.map(_._1).mkString(" + ")}) / (${terms.map(_._2).mkString(" + ")})")} AS ewma
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin
  }) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val taps = (0 until 12).map { k =>
      val wt = java.math.BigDecimal.valueOf(0.5).pow(k + 1).toPlainString.toDouble
      (coalesce(lag(col("value"), k).over(w) * lit(wt), lit(0.0)),
       when(lag(col("value"), k).over(w).isNotNull, lit(wt)).otherwise(lit(0.0)))
    }
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .select(col("event_id"), col("user_id"),
        r4(taps.map(_._1).reduce(_ + _) / taps.map(_._2).reduce(_ + _)).as("ewma"))
      .orderBy("event_id")
  }

  // TS — additive seasonal decomposition of the hourly traffic
  // series: trend = centered 25-point moving average, seasonal =
  // mean detrended value per hour-of-day, residual = remainder.
  // The series is an AGGREGATED (tiny) table, so the unpartitioned
  // ordered window is safe — the raw-event pass is the usual
  // distributed groupBy; integer counts keep every sum exact before
  // the final divisions.
  q("ts_decompose",
    s"""WITH hourly AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT h, n,
      |    avg(CAST(n AS DOUBLE)) OVER (
      |      ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend,
      |    CAST(EXTRACT(hour FROM h) AS INTEGER) AS hod
      |  FROM hourly),
      |sea AS (SELECT hod, avg(n - trend) AS seasonal FROM t GROUP BY hod)
      |SELECT t.h, t.n, ${sqlR4("trend")} AS trend,
      |  ${sqlR4("seasonal")} AS seasonal,
      |  ${sqlR4("n - trend - seasonal")} AS resid
      |FROM t JOIN sea USING (hod) ORDER BY h""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.load(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val t = hourly
      .withColumn("trend", avg(col("n").cast("double"))
        .over(Window.orderBy("h").rowsBetween(-12, 12)))
      .withColumn("hod", hour(col("h")))
    val sea = t.groupBy("hod").agg(avg(col("n") - col("trend")).as("seasonal"))
    t.join(broadcast(sea), "hod")
      .select(col("h"), col("n"), r4(col("trend")).as("trend"),
        r4(col("seasonal")).as("seasonal"),
        r4(col("n") - col("trend") - col("seasonal")).as("resid"))
      .orderBy("h")
  }

  // TS — autocorrelation of the hourly traffic series at lags 1..4
  // (the seasonality detector feeding ts_decompose's period choice):
  // lagged copies via one ordered window over the tiny aggregated
  // series, then corr per lag — corr skips null pairs identically in
  // both engines, so the k leading rows fall out of lag k on both
  // sides.
  q("ts_autocorr",
    s"""WITH hourly AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
      |    CAST(count(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1),
      |l AS (
      |  SELECT n,
      |    lag(n, 1) OVER (ORDER BY h) AS n1, lag(n, 2) OVER (ORDER BY h) AS n2,
      |    lag(n, 3) OVER (ORDER BY h) AS n3, lag(n, 4) OVER (ORDER BY h) AS n4
      |  FROM hourly)
      |SELECT ${sqlR4("corr(n, n1)")} AS ac1, ${sqlR4("corr(n, n2)")} AS ac2,
      |  ${sqlR4("corr(n, n3)")} AS ac3, ${sqlR4("corr(n, n4)")} AS ac4
      |FROM l""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("h")
    val hourly = Tables.load(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).cast("double").as("n"))
    hourly
      .select(col("n") +: (1 to 4).map(k => lag(col("n"), k).over(w).as(s"n$k")): _*)
      .agg(r4(corr(col("n"), col("n1"))).as("ac1"),
        r4(corr(col("n"), col("n2"))).as("ac2"),
        r4(corr(col("n"), col("n3"))).as("ac3"),
        r4(corr(col("n"), col("n4"))).as("ac4"))
  }

  // A19 — bitmap aggregation: each user's active hours-of-day packed
  // into one BIGINT via bit_or(1 << hour) — the bitmap-index pattern
  // (set semantics in 8 bytes, mergeable by OR, popcount for
  // cardinality; at 100 TB this replaces a count-distinct shuffle with
  // a constant-size commutative aggregate).
  q("a19_hour_bitmap",
    """SELECT user_id,
      |  CAST(bit_or(1 << CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)) AS BIGINT) AS hours_bitmap,
      |  CAST(bit_count(bit_or(1 << CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER))) AS BIGINT) AS n_active_hours
      |FROM events
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), hour(ts)))").as("hours_bitmap"))
      .select(col("user_id"), col("hours_bitmap"),
        expr("bit_count(hours_bitmap)").cast("long").as("n_active_hours"))
      .orderBy("user_id")
  }

  // Marketing attribution — first-touch AND last-touch channel for
  // every purchase, from the same IGNORE-NULLS preceding-frame pattern
  // ts_interpolate uses: touch events ride in structs, purchases read
  // the frame's first/last without a self-join or per-user collect.
  // Purchases with no preceding touch keep NULLs (cold-start rows are
  // data, not errors).
  q("at_attribution",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |t AS (
      |  SELECT *,
      |    first_value(CASE WHEN event_type IN ('click', 'view')
      |        THEN struct_pack(ch := event_type, id := event_id) END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
      |    last_value(CASE WHEN event_type IN ('click', 'view')
      |        THEN struct_pack(ch := event_type, id := event_id) END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
      |  FROM e)
      |SELECT event_id, user_id,
      |  ft.ch AS first_touch, ft.id AS first_touch_id,
      |  lt.ch AS last_touch, lt.id AS last_touch_id
      |FROM t WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("click", "view"),
      struct(col("event_type").as("ch"), col("event_id").as("id")))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("ft", first(touch, ignoreNulls = true).over(w))
      .withColumn("lt", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("ft.ch").as("first_touch"), col("ft.id").as("first_touch_id"),
        col("lt.ch").as("last_touch"), col("lt.id").as("last_touch_id"))
      .orderBy("event_id")
  }

  // SQL-defined scalar UDFs (Spark 4 `CREATE FUNCTION ... RETURN
  // expr`) — the §2.10 surface where users extend the engine IN SQL:
  // the body is inlined into the plan at analysis (still codegen'd,
  // still optimizable — unlike an opaque JVM UDF), proven by nesting
  // one UDF inside another. The oracle runs the bodies inlined by
  // hand.
  q("sql_scalar_udf",
    s"""SELECT
      |  CAST(CASE WHEN n_chars < 500 THEN 0 WHEN n_chars < 2000 THEN 1 ELSE 2 END AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n,
      |  ${sqlR4("sum((CASE WHEN n_chars < 500 THEN 0 WHEN n_chars < 2000 THEN 1 ELSE 2 END) * (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.5 END))")} AS score
      |FROM documents
      |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION len_bucket(n BIGINT)
            |RETURNS BIGINT
            |RETURN CASE WHEN n < 500 THEN 0 WHEN n < 2000 THEN 1 ELSE 2 END""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION doc_score(n BIGINT, lang STRING)
            |RETURNS DOUBLE
            |RETURN len_bucket(n) * CASE WHEN lang = 'en' THEN 1.0 ELSE 0.5 END""".stripMargin)
    s.sql(
      s"""SELECT len_bucket(n_chars) AS bucket,
        |  count(*) AS n,
        |  ${sqlR4("sum(doc_score(n_chars, lang))")} AS score
        |FROM documents
        |GROUP BY 1 ORDER BY bucket""".stripMargin)
  }

  // SQL-defined TABLE function (Spark 4 `CREATE FUNCTION ... RETURNS
  // TABLE`) — the §2.10 UDTF surface in pure SQL: a parameterized
  // per-type event profile, invoked in FROM position. Like the scalar
  // form the body inlines into the plan (the aggregate below it still
  // gets partial aggregation); the oracle inlines it by hand.
  q("sql_table_udf",
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  ${sqlR2("sum(value)")} AS sum_value
      |FROM events WHERE value >= 100
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql(
      s"""CREATE OR REPLACE TEMPORARY FUNCTION event_profile(min_value DOUBLE)
        |RETURNS TABLE(event_type STRING, n BIGINT, sum_value DOUBLE)
        |RETURN SELECT event_type, count(*) AS n,
        |  ${sqlR2("sum(value)")} AS sum_value
        |FROM events WHERE value >= min_value
        |GROUP BY event_type""".stripMargin)
    s.sql("SELECT * FROM event_profile(100) ORDER BY event_type")
  }

  // SQL PIVOT syntax surface (a1_pivot does the same reshape through
  // the DataFrame API / conditional aggregation — this is the SQL
  // spelling users port from warehouses). Spark plans it as the same
  // single-shuffle pivot aggregate; the oracle states the CASE WHEN
  // desugaring.
  q("sql_pivot",
    s"""SELECT user_id % 10 AS cohort,
      |  ${sqlR2("sum(CASE WHEN event_type = 'click' THEN value END)")} AS clicks,
      |  ${sqlR2("sum(CASE WHEN event_type = 'view' THEN value END)")} AS views,
      |  ${sqlR2("sum(CASE WHEN event_type = 'purchase' THEN value END)")} AS purchases
      |FROM events
      |GROUP BY 1 ORDER BY cohort""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql(
      s"""SELECT cohort, ${sqlR2("clicks")} AS clicks, ${sqlR2("views")} AS views,
        |  ${sqlR2("purchases")} AS purchases
        |FROM (SELECT user_id % 10 AS cohort, event_type, value FROM events)
        |PIVOT (sum(value) FOR event_type
        |       IN ('click' AS clicks, 'view' AS views, 'purchase' AS purchases))
        |ORDER BY cohort""".stripMargin)
  }

  // ANSI error-safe functions (TRY_CAST / try_divide): the
  // dirty-input contract — malformed values become NULL instead of
  // failing the job, division by zero likewise. A third of the cast
  // inputs are genuinely numeric, so both the success and failure
  // paths are exercised; DuckDB states try_divide as its CASE
  // desugaring.
  q("f21_try_funcs",
    """SELECT doc_id,
      |  TRY_CAST(CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS VARCHAR)
      |                ELSE text END AS INTEGER) AS parsed,
      |  CASE WHEN doc_id % 5 = 0 THEN NULL
      |       ELSE CAST(n_chars AS DOUBLE) / (doc_id % 5) END AS ratio
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        expr("TRY_CAST(CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS STRING) ELSE text END AS INT)").as("parsed"),
        expr("try_divide(CAST(n_chars AS DOUBLE), doc_id % 5)").as("ratio"))
      .orderBy("doc_id")
  }

  // DQ — Benford's-law screen on order totals: leading-digit shares
  // vs log10(1 + 1/d), the classic fabricated-numbers detector.
  // Digits come from integer string prefixes (no float log for the
  // digit itself); shares and expectations round 4dp.
  q("dq_benford",
    s"""WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders WHERE o_totalprice >= 1),
      |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
      |t AS (SELECT sum(n) AS total FROM c)
      |SELECT digit, CAST(n AS BIGINT) AS n,
      |  ${sqlR4("n / CAST(total AS DOUBLE)")} AS share,
      |  ${sqlR4("log10(1 + 1.0 / digit)")} AS benford
      |FROM c, t ORDER BY digit""".stripMargin) { (s, dir) =>
    val c = Tables.load(s, dir, "orders")
      .filter(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val t = c.agg(sum("n").as("total"))
    c.crossJoin(broadcast(t))
      .select(col("digit"), col("n"),
        r4(col("n") / col("total").cast("double")).as("share"),
        r4(log10(lit(1) + lit(1.0) / col("digit"))).as("benford"))
      .orderBy("digit")
  }

  // K15 — incremental aggregate maintenance (materialized-view delta
  // merge): a grouped count/sum "view" over the first 20 days is
  // updated by a CDC batch (late deletes of early error rows +
  // inserts of the new days) WITHOUT rescanning history — delta rows
  // carry a ±1 sign, aggregate once, full-outer-merge into the view,
  // drop emptied groups. At 100 TB this is the difference between
  // touching the increment and recomputing the world. The oracle
  // recomputes from scratch over the surviving multiset — merged
  // counts must equal recomputed counts exactly (sums via DetRound:
  // base+delta vs recomputed summation orders differ in ulps, same
  // class as any partial agg).
  q("k15_incremental_agg",
    s"""WITH e AS (
       |  SELECT event_type, value,
       |    EXTRACT(day FROM CAST(ts AS TIMESTAMP)) AS d
       |  FROM events),
       |surv AS (
       |  SELECT event_type, value FROM e
       |  WHERE (d <= 20 AND NOT (event_type = 'error' AND d <= 5))
       |     OR d > 20)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       |  ${sqlR4("sum(value)")} AS sum_value
       |FROM surv GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), col("value"), dayofmonth(col("ts")).as("d"))
    val base = ev.filter(col("d") <= 20)
    // the standing materialized aggregate (would live as a table)
    val mv = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    // CDC batch: sign-tagged deletes + inserts, aggregated ONCE
    val delta = base.filter(col("event_type") === "error" && col("d") <= 5)
      .select(col("event_type"), col("value"), lit(-1L).as("sign"))
      .unionAll(ev.filter(col("d") > 20)
        .select(col("event_type"), col("value"), lit(1L).as("sign")))
      .groupBy("event_type")
      .agg(sum("sign").as("dn"), sum(col("sign") * col("value")).as("dsv"))
    mv.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_rows"),
        (coalesce(col("sv"), lit(0.0)) + coalesce(col("dsv"), lit(0.0))).as("sum_value"))
      .filter(col("n_rows") > 0)
      .select(col("event_type"), col("n_rows"), r4(col("sum_value")).as("sum_value"))
      .orderBy("event_type")
  }

  // K16 — CDC op log → SCD2 versioned dimension (the lakehouse
  // dimension-maintenance composite): insert/update ops each open a
  // version, ANY next op (incl. delete) closes the previous one, and
  // deletes leave a gap until the next insert/update re-opens. One
  // lead() over the full op stream fixes every valid_to BEFORE deletes
  // are dropped; both windows hash on the dimension key — no
  // self-join, no MERGE loop, history emitted in one pass.
  q("k16_cdc_scd2",
    """WITH o AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    CASE WHEN event_type = 'signup' THEN 'I'
      |         WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      |  FROM events),
      |l AS (
      |  SELECT *, lead(ts) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ts
      |  FROM o),
      |v AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS version_seq
      |  FROM l WHERE op <> 'D')
      |SELECT user_id, CAST(version_seq AS BIGINT) AS version_seq, value,
      |  epoch_us(ts) AS valid_from_us, epoch_us(valid_to_ts) AS valid_to_us,
      |  (valid_to_ts IS NULL) AS is_current
      |FROM v ORDER BY user_id, version_seq""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(w))
      .filter(col("op") =!= "D")
      .withColumn("version_seq", row_number().over(w).cast("long"))
      .select(col("user_id"), col("version_seq"), col("value"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(col("valid_to_ts")).as("valid_to_us"),
        col("valid_to_ts").isNull.as("is_current"))
      .orderBy("user_id", "version_seq")
  }

  // TS — peak session concurrency per day, sweep-line as a TWO-LEVEL
  // prefix sum. The naive form is a running sum over one global order
  // — a single-partition window, the classic 100 TB deadend. Here the
  // global prefix decomposes: boundary deltas net per timestamp →
  // within-DAY running sums (parallel, partitioned by day) + a
  // day-level cumulative offset (one window over ~#days rows,
  // broadcast back). The oracle runs the naive global sweep — the
  // decomposition must reproduce it exactly.
  q("ts_concurrency",
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |g AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM g),
      |sess AS (
      |  SELECT user_id, session_seq, min(ts) AS lo, max(ts) AS hi
      |  FROM s GROUP BY 1, 2),
      |b AS (
      |  SELECT lo AS bts, 1 AS d FROM sess
      |  UNION ALL SELECT hi, -1 FROM sess),
      |n AS (SELECT bts, CAST(sum(d) AS BIGINT) AS net FROM b GROUP BY bts),
      |r AS (
      |  SELECT bts, sum(net) OVER (ORDER BY bts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM n)
      |SELECT CAST(bts AS DATE) AS day, CAST(max(conc) AS BIGINT) AS max_concurrent
      |FROM r GROUP BY 1 ORDER BY day""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("new_s",
        when(lag("ts", 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_seq", sum("new_s").over(wRun))
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("lo"), max("ts").as("hi"))
    // both boundary rows come out of ONE pass over sessions (explode,
    // not a self-union that would rebuild the windows twice); nets
    // feeds both the within-day windows and the day offsets, so
    // materialize it — it's two small columns per distinct boundary
    val nets = sess
      .select(explode(array(
        struct(col("lo").as("bts"), lit(1L).as("d")),
        struct(col("hi").as("bts"), lit(-1L).as("d")))).as("b"))
      .groupBy(col("b.bts").as("bts")).agg(sum(col("b.d")).as("net"))
      .withColumn("day", to_date(col("bts")))
      .localCheckpoint()
    val wDay = Window.partitionBy("day").orderBy("bts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // day-level offsets: one tiny window over #days rows, broadcast back
    val wDays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = nets.groupBy("day").agg(sum("net").as("day_net"))
      .withColumn("offset", coalesce(sum("day_net").over(wDays), lit(0L)))
      .select("day", "offset")
    nets.withColumn("run_in_day", sum("net").over(wDay))
      .join(broadcast(offsets), "day")
      .groupBy("day")
      .agg(max(col("offset") + col("run_in_day")).as("max_concurrent"))
      .orderBy("day")
  }

  // DQ — order-independent content digest per group: each row hashes
  // to a 32-bit integer (md5 prefix) and the group digest is their
  // exact integer SUM — commutative, so partitioning/ordering can't
  // change it. This is how two engines (or two replicas of a 100 TB
  // table) reconcile content without shipping rows: compare digests
  // per group, drill into mismatched groups only.
  q("dq_table_digest",
    """SELECT l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST('0x' || substr(md5(
      |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)
      |      || '|' || l_linestatus), 1, 8) AS BIGINT)) AS BIGINT) AS digest
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val rowStr = concat_ws("|", col("l_orderkey").cast("string"),
      col("l_linenumber").cast("string"), col("l_linestatus"))
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(conv(substring(md5(rowStr), 1, 8), 16, 10).cast("long")).as("digest"))
      .orderBy("l_returnflag")
  }

  // K7 — MERGE-style upsert: signup activity updates customer
  // balances (matched), shifted keys exercise the insert path,
  // untouched customers are kept — one full-outer join, audit-tagged.
  q("k7_merge_upsert",
    s"""WITH t AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
      |src0 AS (SELECT user_id AS k, ${sqlR2("avg(value)")} AS bal
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |s AS (SELECT k, bal FROM src0
      |  UNION ALL SELECT k + 1000000, bal FROM src0)
      |SELECT coalesce(s.k, t.k) AS k, coalesce(s.bal, t.bal) AS bal,
      |  CASE WHEN t.k IS NULL THEN 'inserted'
      |       WHEN s.k IS NULL THEN 'kept' ELSE 'updated' END AS action
      |FROM t FULL OUTER JOIN s ON t.k = s.k
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val target = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
    val src0 = Tables.load(s, dir, "events")
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("k"))
      .agg(r2(avg(col("value"))).as("bal"))
    val source = src0.unionByName(
      src0.select((col("k") + 1000000L).as("k"), col("bal")))
    RelationalOps.mergeUpsert(target, source, "k", Seq("bal"))
      .orderBy("k")
  }

  // K7b — CDC apply (MERGE with DELETE): error-active users are
  // deleted from the balance table, signup activity upserts, with
  // delete-wins priority when a key has both ops. One full-outer key
  // join; a matched delete drops the row, an unmatched delete no-ops.
  q("k7b_merge_cdc",
    s"""WITH t AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
      |d AS (SELECT DISTINCT user_id AS k FROM events WHERE event_type = 'error'),
      |u0 AS (SELECT user_id AS k, ${sqlR2("avg(value)")} AS bal
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |u AS (SELECT u0.k, u0.bal FROM u0 LEFT JOIN d ON u0.k = d.k
      |  WHERE d.k IS NULL),
      |s AS (SELECT k, 'U' AS op, bal FROM u
      |  UNION ALL SELECT k, 'D', CAST(NULL AS DOUBLE) FROM d)
      |SELECT coalesce(s.k, t.k) AS k, coalesce(s.bal, t.bal) AS bal,
      |  CASE WHEN t.k IS NULL THEN 'inserted'
      |       WHEN s.k IS NULL THEN 'kept' ELSE 'updated' END AS action
      |FROM t FULL OUTER JOIN s ON t.k = s.k
      |WHERE s.op IS NULL OR s.op <> 'D'
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val target = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
    val ev = Tables.load(s, dir, "events")
    val dels = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("k")).distinct()
    val ups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("k"))
      .agg(r2(avg(col("value"))).as("bal"))
      .join(dels, Seq("k"), "left_anti") // delete wins on op conflict
    val source = ups.withColumn("op", lit("U"))
      .unionByName(dels.select(col("k"), lit("D").as("op"),
        lit(null).cast("double").as("bal")))
    RelationalOps.mergeApplyCdc(target, source, "k", Seq("bal"), "op")
      .orderBy("k")
  }

  // W9 — lag IGNORE NULLS: each reading paired with the PREVIOUS
  // non-null reading (ts_locf's sibling — previous instead of
  // current-carry), one window pass.
  q("w9_lag_ignore_nulls",
    """SELECT event_id, user_id,
      |  lag(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS prev_v
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |      FROM events)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("v"))
      .select(col("event_id"), col("user_id"),
        lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_v"))
      .orderBy("event_id")
  }

  // SCD2 interval builder: per user, collapse the event stream into
  // type-change intervals [valid_from, valid_to) with an open current
  // row — the slowly-changing-dimension shape. Boundaries exported as
  // epoch micros (exact integers on both engines, no format drift).
  q("scd2_intervals",
    """WITH ordered AS (
      |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |changes AS (
      |  SELECT user_id, event_id, event_type, ts FROM ordered
      |  WHERE prev IS NULL OR prev <> event_type),
      |iv AS (
      |  SELECT user_id, event_type, ts AS vf,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
      |  FROM changes)
      |SELECT user_id, event_type, epoch_us(vf) AS valid_from_us,
      |  coalesce(epoch_us(vt), CAST(-1 AS BIGINT)) AS valid_to_us,
      |  (vt IS NULL) AS is_current
      |FROM iv ORDER BY user_id, valid_from_us""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val changes = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev", lag(col("event_type"), 1).over(wAll))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val wChg = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("vt", lead(col("ts"), 1).over(wChg))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("valid_from_us"),
        coalesce(unix_micros(col("vt")), lit(-1L)).as("valid_to_us"),
        col("vt").isNull.as("is_current"))
      .orderBy("user_id", "valid_from_us")
  }

  // Cohort retention: users grouped by the week of their first event;
  // for each (cohort week, week offset) count distinct active users
  // and the retained share. Two shuffles on user_id (first-touch +
  // re-join) then one on the cohort grain — all key-equi, no windows
  // over the whole table.
  q("w7_retention",
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS aw
      |  FROM events),
      |fw AS (SELECT user_id, min(aw) AS cohort_week FROM ev GROUP BY 1),
      |act AS (
      |  SELECT e.user_id, f.cohort_week,
      |    CAST(date_diff('day', f.cohort_week, e.aw) // 7 AS INTEGER) AS week_k
      |  FROM ev e JOIN fw f USING (user_id)),
      |cs AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      |  FROM fw GROUP BY 1),
      |r AS (SELECT cohort_week, week_k,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      |  FROM act GROUP BY 1, 2)
      |SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week,
      |  r.week_k, r.n_active, cs.cohort_size,
      |  """.stripMargin + sqlR4("r.n_active / cs.cohort_size") +
    """ AS retention
      |FROM r JOIN cs USING (cohort_week)
      |ORDER BY cohort_week, week_k""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("aw"))
    val firstW = ev.groupBy("user_id").agg(min("aw").as("cohort_week"))
    val cohortSize = firstW.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    ev.join(firstW, "user_id")
      .withColumn("week_k",
        (datediff(col("aw"), col("cohort_week")) / lit(7)).cast("int"))
      .groupBy("cohort_week", "week_k")
      .agg(countDistinct("user_id").as("n_active"))
      .join(cohortSize, "cohort_week")
      .withColumn("retention", r4(col("n_active") / col("cohort_size")))
      // string date at the boundary: the driver compare stringifies
      // py date vs timestamp differently (see dq_completeness)
      .withColumn("cohort_week", date_format(col("cohort_week"), "yyyy-MM-dd"))
      .orderBy("cohort_week", "week_k")
  }

  // §2.9 streaming↔batch parity, driver-hashed: the real events table
  // is split into TWO micro-batches at the midpoint of its time range
  // and driven through the flatMapGroupsWithState sessionizer
  // (file-source stream, maxFilesPerTrigger=1, AvailableNow); the
  // emitted sessions must hash-match the one-shot batch consecutive-gap
  // sessionization (w4_sessionize semantics) computed by the oracle.
  // A per-user sentinel event one day past the global max closes every
  // user's final session INLINE (gap exceeded ⇒ emitted in the same
  // micro-batch) — no reliance on event-time timeouts, whose firing
  // needs a later batch; the sentinel's own session stays open in
  // state and is never emitted, so the output is exactly the real
  // session set. Watermark delay spans the whole table so nothing is
  // late-dropped (parity isolates the GAP/state semantics; late-drop
  // semantics are pinned separately in the streaming specs).
  private val sessionizeOracle =
    s"""WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |g AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT *, sum(new_s) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      |  FROM g)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  ${sqlR4("sum(value)")} AS total_value
      |FROM s GROUP BY user_id, seq
      |ORDER BY user_id, session_start""".stripMargin

  q("st_sessionize_parity", sessionizeOracle) { (s, dir) =>
    sessionizeParity(s, dir, "st_sessionize_parity")(
      graft.streaming.Sessionize.sessionizeStream(_, gapMinutes = 30,
        watermarkDelay = "3650 days"))
  }

  /** The sessionization rows' body: events in two micro-batches cut at
    * the midpoint of their time range, the per-user sentinels in the
    * second, drained through `sessionize`.
    */
  private def sessionizeParity(s: SparkSession, dir: String, label: String,
                               restartAfter: Option[Int] = None,
                               extraConf: Seq[(String, String)] = Nil)(
                               sessionize: DataFrame => Dataset[_]): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("user_id"), col("ts"), col("value"))
    val Seq(_, cutoff, hi) = timeCuts(ev, 2)
    val users = sentinels(ev, "ts" -> new java.sql.Timestamp(hi.getTime + 24L * 3600 * 1000),
      "value" -> 0.0)(ev.select("user_id").distinct())
    val Seq(b1, b2) = slices(ev, Seq(cutoff))
    val (out, _) = streamParity(s, label, Seq(Seq(b1, b2.unionByName(users))),
      restartAfter, extraConf)(in => sessionize(in.head))
    s.read.parquet(out)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), r4(col("total_value")).as("total_value"))
      .orderBy("user_id", "session_start")
  }

  // §2.9 streaming↔batch parity #2 — the STREAMING AGGREGATION state
  // class (st_sessionize_parity covers flatMapGroupsWithState): the
  // events table split into three time-range micro-batches through a
  // streaming groupBy(hour, event_type) in complete mode must equal
  // the one-shot batch aggregation exactly — partial per-batch state
  // merging across triggers is what's under test. Complete mode +
  // memory sink is the verification harness shape: driver memory is
  // bounded by the AGGREGATE's cardinality (hours × 5 types), never
  // the event count, so the harness itself scales with the result.
  q("st_hourly_parity",
    """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
      |  event_type, CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").select(col("ts"), col("event_type"))
    val Seq(_, c1, c2, _) = timeCuts(ev, 3)
    val stage = tmpDir("graft_st_hourly_parity_in")
    stageBatches(slices(ev, Seq(c1, c2)), stage)
    val sinkName = s"st_hourly_parity_${System.nanoTime()}"
    // the memory sink registers its view in the clone the stream ran
    // on, so the returned frame reads it there
    GraftExtensions.isolated(s, streamConfs: _*) { c =>
      awaitOrFail(
        staged(c, ev.schema, stage)
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start(), 300000, "st_hourly_parity stream")
      c.table(sinkName).orderBy("hour", "event_type")
    }
  }

  // §2.9 streaming↔batch parity #3 — the CUSTOM BUCKET-STATE class
  // (st_sessionize_parity: per-key custom state; st_hourly_parity:
  // streaming aggregation; here: flatMapGroupsWithState keyed by LSH
  // pigeonhole bucket): the documents corpus, given deterministic
  // ascending event times, split into two micro-batches through the
  // streaming SimHash near-dup detector must emit EXACTLY the batch
  // simHashPairs pair set — pairs whose two docs arrive in DIFFERENT
  // micro-batches only exist if bucket state carries members across
  // batches, which is the property under test. Watermark spans the
  // corpus so no eviction interferes (eviction semantics are pinned in
  // NearDupStreamSpec). Non-vacuous: the corpus has real Hamming≤3
  // pairs at every sf (17 at sf0.01, 525 at sf0.1).
  q("st_neardup_parity",
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  true AS nonvacuous_ok, true AS parity_ok
      |FROM documents""".stripMargin) { (s, dir) =>
    import graft.operators.DedupOps
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    // deterministic event times ascending by doc_id (2024-01-01 + id s)
    val evd = docs.withColumn("ts",
      timestamp_seconds(lit(1704067200L) + col("doc_id")))
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val (outDir, _) = streamParity(s, "st_neardup_parity", Seq(Seq(
        evd.filter(col("doc_id") <= maxId / 2), evd.filter(col("doc_id") > maxId / 2)))) { in =>
      graft.streaming.NearDupStream.nearDupPairs(in.head,
        "doc_id", "text", "ts", delay = "3650 days", maxHamming = 3)
    }
    // explicit schema: a zero-pair run leaves no parquet files to infer from
    val pairSchema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType),
      StructField("hamming", IntegerType), StructField("ts", TimestampType)))
    val streamPairs = s.read.schema(pairSchema).parquet(outDir)
      .select(col("id_a"), col("id_b")).distinct()
    val batchPairs = DedupOps.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select(col("id_a"), col("id_b")).distinct()
    val sym = batchPairs.withColumn("__b", lit(1))
      .join(streamPairs.withColumn("__s", lit(1)), Seq("id_a", "id_b"), "full_outer")
      .agg(count(lit(1)).as("__n_pairs"),
        coalesce(min(col("__b").isNotNull && col("__s").isNotNull), lit(true))
          .as("parity_ok"))
    docs.agg(count(lit(1)).as("n_docs")).crossJoin(sym)
      .select(col("n_docs"), (col("__n_pairs") > 0).as("nonvacuous_ok"),
        col("parity_ok"))
  }

  // P9 — drop-unparseable timestamps (reference openaq_etl.py:293-297,
  // AqPipeline.parseTimestamps): a timestamp-string column with
  // deterministic corruption — keys ≡0 mod 7 carry garbage text, keys
  // ≡0 mod 11 an invalid clock time — goes through try_to_timestamp +
  // null-filter. The surviving row SET is the check: both corrupt
  // classes must be absent and every survivor parses to the exact wall
  // time on both engines (Spark try_to_timestamp ≡ DuckDB try_cast).
  q("p9_drop_unparseable",
    """WITH src AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'not-a-timestamp'
      |         WHEN o_orderkey % 11 = 0
      |           THEN concat(strftime(o_orderdate, '%Y-%m-%d'), 'T25:99:00')
      |         ELSE concat(strftime(o_orderdate, '%Y-%m-%d'), ' 12:30:45') END AS raw_ts
      |  FROM orders)
      |SELECT o_orderkey, try_cast(raw_ts AS TIMESTAMP) AS ts
      |FROM src WHERE try_cast(raw_ts AS TIMESTAMP) IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit("not-a-timestamp"))
          .when(col("o_orderkey") % 11 === 0,
            concat(date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("T25:99:00")))
          .otherwise(concat(date_format(col("o_orderdate"), "yyyy-MM-dd"),
            lit(" 12:30:45")))
          .as("raw_ts"))
      .withColumn("ts", try_to_timestamp(col("raw_ts")))
      .filter(col("ts").isNotNull)
      .select("o_orderkey", "ts")
      .orderBy("o_orderkey")
  }

  // A10 — the metadata-consistency audit (AqPipeline.validate;
  // reference tests/test_glue_transformation.py:358-368) as a driver
  // row: audit the RAW events (duplicates present ⇒ consistent=false)
  // and the post-pipeline mart (dedup guarantees row_count ==
  // distinct_keys, fill guarantees null-free criticals ⇒ true) in one
  // (stage, counts, flag) frame. The oracle recomputes both audits
  // relationally; distinct_keys mimics Spark's countDistinct null
  // semantics (tuples with any null key excluded) via the CASE struct.
  q("a10_metadata_audit",
    """WITH src AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
      |dedup AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
      |    FROM src) WHERE rn = 1),
      |mart AS (
      |  SELECT w.user_id, w.hour, coalesce(c_mktsegment, 'Unknown') AS segment
      |  FROM (SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour FROM dedup) w
      |  LEFT JOIN customer ON w.user_id = c_custkey),
      |aud AS (
      |  SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS row_count,
      |    CAST(count(DISTINCT CASE WHEN user_id IS NOT NULL AND ts IS NOT NULL
      |      THEN (user_id, ts) END) AS BIGINT) AS distinct_keys,
      |    CAST(count(CASE WHEN user_id IS NULL OR ts IS NULL OR event_type IS NULL
      |      THEN 1 END) AS BIGINT) AS null_critical
      |  FROM src
      |  UNION ALL
      |  SELECT 'mart' AS stage, CAST(count(*) AS BIGINT) AS row_count,
      |    CAST(count(DISTINCT CASE WHEN user_id IS NOT NULL AND hour IS NOT NULL
      |      THEN (user_id, hour) END) AS BIGINT) AS distinct_keys,
      |    CAST(count(CASE WHEN user_id IS NULL OR hour IS NULL OR segment IS NULL
      |      THEN 1 END) AS BIGINT) AS null_critical
      |  FROM mart)
      |SELECT stage, row_count, distinct_keys,
      |  row_count - distinct_keys AS dup_rows, null_critical,
      |  (row_count = distinct_keys AND null_critical = 0) AS consistent
      |FROM aud ORDER BY stage""".stripMargin) { (s, dir) =>
    import graft.pipeline.AqPipeline
    val raw = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    AqPipeline.validate(raw, "raw",
        Seq("user_id", "ts"), Seq("user_id", "ts", "event_type"))
      .unionAll(AqPipeline.validate(martPipeline(s, dir), "mart",
        Seq("user_id", "hour"), Seq("user_id", "hour", "segment")))
      .orderBy("stage")
  }

  // K20 — the conf-gated approximation rewrites driven end-to-end (the
  // flip-one-flag 100 TB incident mode): EXACT-syntax SQL —
  // COUNT(DISTINCT) and percentile() — runs once with
  // spark.graft.approxDistinct/approxPercentile=true, and the row
  // FAILS LOUDLY unless the optimized plan actually carries the HLL++
  // and t-digest aggregates (the rules are verified ACTIVE, not merely
  // registered). The approximate results (3 groups — bounded) are then
  // pinned against the exact computation, which the oracle recomputes:
  // the HLL++ estimate must sit within 3·rsd of the exact distinct
  // count and the digest median inside the exact p45–p55 rank window.
  // The approx rows are materialized on the enabled clone and joined
  // to the exact half as local rows.
  q("k20_approx_rewrite",
    """SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_nd,
      |  true AS distinct_ok, true AS median_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    // The approx half runs on an isolated clone (the k21 convention):
    // the rewrite confs flip the meaning of COUNT(DISTINCT)/percentile()
    // for EVERY query optimized while they are set, and the verify
    // harness optimizes queries concurrently on the shared session —
    // r13 caught `ann_ivf_train` hashing an HLL++ ESTIMATE (500 → 484)
    // of its exact id census when its plan compiled inside this row's
    // enabled window. A try/finally restore shrinks the window; only a
    // separate SQLConf closes it. The clone carries the caller's
    // `lineitem` view.
    val sqlText =
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd,
        |  percentile(l_extendedprice, 0.5) AS med
        |FROM lineitem GROUP BY l_returnflag""".stripMargin
    val approxRows = GraftExtensions.isolated(s,
        "spark.graft.approxDistinct" -> "true",
        "spark.graft.approxPercentile" -> "true") { ns =>
      // self-register the rewrite rules on plain sessions (no
      // GraftExtensions wiring — same fallback pattern as TopKPerGroup's
      // strategy): extraOptimizations runs in the optimizer's
      // user-provided batch, so the ACTIVE-in-plan requirement below
      // holds under any harness that reaches this query
      graft.plans.ApproxDistinctRewrite.synchronized {
        val extra = ns.experimental.extraOptimizations
        val injected = ns.sessionState.optimizer.extendedOperatorOptimizationRules
        // per-rule presence: a wiring that injects only ONE of the two
        // rules (e.g. a future extension variant) must not cause the
        // other to be skipped NOR this one to be double-registered
        def present(isRule: org.apache.spark.sql.catalyst.rules.Rule[
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] => Boolean) =
          extra.exists(isRule) || injected.exists(isRule)
        val missing = Seq[org.apache.spark.sql.catalyst.rules.Rule[
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]](
          graft.plans.ApproxDistinctRewrite(ns),
          graft.plans.ApproxPercentileRewrite(ns))
          .filterNot(r => present(_.getClass == r.getClass))
        if (missing.nonEmpty)
          ns.experimental.extraOptimizations = extra ++ missing
      }
      val adf = ns.sql(sqlText)
      val opt = adf.queryExecution.optimizedPlan
      val hasHll = opt.exists(_.expressions.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus => true
        case _ => false
      }))
      val hasDigest = opt.exists(_.expressions.exists(_.exists {
        case _: org.apache.spark.sql.graftx.TDigestQuantiles => true
        case _ => false
      }))
      require(hasHll, "approxDistinct rewrite registered but NOT active in the plan")
      require(hasDigest, "approxPercentile rewrite registered but NOT active in the plan")
      adf.collect() // 3 groups
    }
    val approx = s.createDataFrame(
      java.util.Arrays.asList(approxRows: _*),
      StructType(Seq(StructField("l_returnflag", StringType),
        StructField("approx_nd", LongType), StructField("approx_med", DoubleType))))
    // exact distinct is a scalable two-phase hash agg; the exact
    // QUANTILE window comes from the distributed histogram-guided
    // selection — `percentile` on the continuous l_extendedprice is
    // the one-reducer-per-group shape (see a11_tdigest)
    val exQ = graft.operators.QuantileOps.exactQuantilesDF(
      Tables.load(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      Seq(0.45, 0.55))
    val exact = s.sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_nd
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      .join(broadcast(exQ), "l_returnflag")
      .select(col("l_returnflag"), col("exact_nd"),
        element_at(col("quantiles"), 1).as("p45"),
        element_at(col("quantiles"), 2).as("p55"))
    exact.join(approx, "l_returnflag")
      .select(col("l_returnflag"), col("exact_nd"),
        (abs(col("approx_nd") - col("exact_nd")) <=
          greatest(lit(1L), col("exact_nd") * lit(3 * 0.05))).as("distinct_ok"),
        col("approx_med").between(col("p45"), col("p55")).as("median_ok"))
      .orderBy("l_returnflag")
  }

  // K21 — ANALYZE/CBO driven end-to-end: per-column statistics must
  // actually CHANGE the physical plan, not just sit in the catalog
  // (CatalogOps.analyzeTable was spec-only before this row). The
  // selective customer filter (segment equality × acctbal range) is
  // invisible to the size-only estimator — the filtered relation
  // keeps the full table's sizeInBytes, so with the broadcast
  // threshold pinned between the two estimates the baseline plans a
  // shuffle join — while the CBO estimator with column NDV/min-max
  // stats prices it at ~2% and flips the build side to a broadcast.
  // Both plan shapes are REQUIRED (pre-AQE sparkPlan: no broadcast
  // without column stats, BroadcastHashJoin with them), the estimate
  // drop is required (≥ 4×), and the join result is materialized
  // UNDER the CBO conf (k20's lazy-plan lesson) then hash-pinned
  // against the oracle's recomputation. Runs on isolated clones:
  // threshold/CBO knobs never leak into concurrently verifying
  // queries. At 100 TB this flip is the difference between
  // shuffling a fact table and shipping a few-MB dim — stats turn the
  // optimizer's size guess into a measurement.
  q("k21_cbo_join",
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  ${sqlR2("sum(o_totalprice)")} AS sum_price,
      |  true AS estimate_dropped_ok, true AS baseline_no_bhj_ok,
      |  true AS cbo_bhj_ok
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND c_acctbal < 1000
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import graft.io.CatalogOps
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val tOrders = s"k21_orders_$tag"; val tCust = s"k21_cust_$tag"
    def joined(c: SparkSession) = c.table(tOrders)
      .join(c.table(tCust), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") < 1000)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), r2(sum("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
    // estimate the shape the JOIN actually builds on — filter THEN
    // key-only projection (column pruning scales even the size-only
    // estimate by the width ratio, so measuring the full-width
    // filter would place the threshold on the wrong side of the
    // baseline's pruned child). Plan-stats evaluation reads the
    // THREAD-ACTIVE session's SQLConf (SQLConf.get), not the
    // Dataset's, which `isolated` sets to the clone it runs on.
    def custEstimate(c: SparkSession): BigInt = c.table(tCust)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") < 1000)
      .select("c_custkey")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    def hasBhj(c: SparkSession) = joined(c).queryExecution.sparkPlan.exists {
      case _: BroadcastHashJoinExec => true
      case _ => false
    }
    val cbo = "spark.sql.cbo.enabled" -> "true"
    // each phase plans on its own clone; the tables and their stats
    // live in the shared catalog, which every clone sees
    val (rows, sepOk, cboBhjOk, baseNoBhjOk) = GraftExtensions.isolated(s) { ns =>
      try {
        // table creation INSIDE the try: if the second write (or a load)
        // throws, the finally's DROP TABLE IF EXISTS still covers
        // whatever was created — otherwise repeated verify runs leak
        // orphaned k21_* tables into the shared warehouse
        Tables.load(ns, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
          .write.format("parquet").saveAsTable(tOrders)
        Tables.load(ns, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
          .write.format("parquet").saveAsTable(tCust)
        CatalogOps.analyzeTable(ns, tCust)
        CatalogOps.analyzeTable(ns, tOrders)
        // s0: the size-only baseline — filter keeps the table's on-disk
        // bytes (what the optimizer believes without CBO)
        val s0 = custEstimate(ns)
        // column stats: NDV(c_mktsegment)=5 × acctbal min/max range
        // prices the filter at ~2% of the rows
        val s2 = GraftExtensions.isolated(ns, cbo) { c =>
          CatalogOps.analyzeTable(c, tCust, Seq("c_custkey", "c_mktsegment", "c_acctbal"))
          custEstimate(c)
        }
        // the three flags below are NOT require()d here — they flow
        // into the hashed *_ok columns, where the oracle pins them
        // true. A stats drift (e.g. a Spark version bump moving both
        // estimates to the same side of the threshold) therefore shows
        // up as a value/hash MISMATCH on this row rather than passing
        // the plan asserts vacuously; a local require would detect the
        // same drift but make the oracle columns unfalsifiable.
        val sep = s2 * 4 <= s0
        // threshold strictly between the two estimates (geometric mean:
        // ≥ 2× margin to each side once s0/s2 ≥ 4)
        val threshold = "spark.sql.autoBroadcastJoinThreshold" ->
          BigInt(math.sqrt((s0 * s2).toDouble).toLong).toString
        val (out, cboFlipped) = GraftExtensions.isolated(ns, cbo, threshold) { c =>
          val flipped = hasBhj(c)
          (joined(c).collect(), flipped) // materialize UNDER the CBO conf
        }
        val baseShuffles = GraftExtensions.isolated(ns, threshold)(c => !hasBhj(c))
        (out, sep, cboFlipped, baseShuffles)
      } finally {
        ns.sql(s"DROP TABLE IF EXISTS $tOrders")
        ns.sql(s"DROP TABLE IF EXISTS $tCust")
      }
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("o_orderpriority", StringType),
          StructField("n_orders", LongType),
          StructField("sum_price", DoubleType))))
      .select(col("o_orderpriority"), col("n_orders"), col("sum_price"),
        lit(sepOk).as("estimate_dropped_ok"),
        lit(baseNoBhjOk).as("baseline_no_bhj_ok"),
        lit(cboBhjOk).as("cbo_bhj_ok"))
      .orderBy("o_orderpriority")
  }

  // §2.9 streaming↔batch parity #4 — the LATE-DATA DROP semantics (the
  // three rows above deliberately disable lateness with a 3650-day
  // watermark; here the watermark is REAL and the drop path is the
  // property under test). Three micro-batches through
  // withWatermark(7 days) + dropDuplicates(event_id, ts), split so the
  // one-batch LAG in Spark's late-event filter is respected
  // (IncrementalExecution hands stateful operators the watermark in
  // effect during the PREVIOUS batch for late-row filtering, and the
  // freshly-updated one only for state eviction — measured in this
  // harness: late rows in batch 1 pass, the same rows in batch 2 drop):
  //   b1  even events — the full 30-day range; establishes watermark
  //       maxEven − 7d at its completion (runs at watermark 0 itself).
  //   b2  the last-3-days even rows re-injected — not late (the filter
  //       for batch 1 still uses watermark 0), but DUPLICATE, so
  //       batch-1 state must suppress them: emitting them twice fails
  //       the hash, and so does dropping them as late (they sit above
  //       the watermark, whose eviction must NOT have removed their
  //       keys).
  //   b3  odd events — the whole range again; the late filter now uses
  //       the b1-established watermark, so an odd event survives iff
  //       its timestamp is at/after it.
  // The oracle reproduces Spark's exact arithmetic: the watermark is
  // floor(maxEventMs(evens)) − delayMs, and the stateful operator
  // admits rows with ts_us ≥ wm_ms·1000 (it drops ts_us ≤ wm_ms·1000−1).
  q("st_late_drop_parity",
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events),
      |wm AS (
      |  SELECT (epoch_us(max(ts)) // 1000 - 604800000) * 1000 AS wm_us
      |  FROM e WHERE event_id % 2 = 0)
      |SELECT event_id, ts, user_id, value FROM e
      |WHERE event_id % 2 = 0 OR epoch_us(ts) >= (SELECT wm_us FROM wm)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val even = ev.filter(col("event_id") % 2 === 0)
    val maxEven = timeCuts(even, 1).last
    val reinjectFrom = new java.sql.Timestamp(maxEven.getTime - 3L * 86400 * 1000)
    val (outDir, _) = streamParity(s, "st_late_drop_parity", Seq(Seq(even,
        even.filter(col("ts") >= reinjectFrom), ev.filter(col("event_id") % 2 === 1)))) { in =>
      in.head.withWatermark("ts", "7 days").dropDuplicates("event_id", "ts")
    }
    s.read.schema(ev.schema).parquet(outDir).orderBy("event_id")
  }

  // §2.9 streaming↔batch parity #5 — freshest-wins streaming dedup
  // (AqStreaming.dedupFreshestStream) against its batch twin
  // (AqPipeline.deduplicate's exact ordering: extracted_at DESC,
  // sensor_id ASC). events is mapped to the raw-measurement shape with
  // the event HOUR as the reading time — so one (location, hour,
  // parameter) key collects many candidate rows — and split by
  // event_id parity, putting a key's candidates in BOTH micro-batches:
  // a batch-2 "correction" (fresher extracted_at) must REPLACE batch
  // 1's in-state candidate, and a batch-2 loser must NOT dislodge a
  // fresher batch-1 winner. Winners emit via event-time timeout, so
  // batch 3 stages a far-future dummy reading that drags the watermark
  // past every real hour (the dummy's own key never times out and is
  // therefore never emitted — output is exactly the real winner set).
  // The 3650-day delay disables late-drops (pinned by the row above).
  q("st_dedup_freshest_parity",
    """WITH src AS (
      |  SELECT user_id AS location_id, event_id AS sensor_id,
      |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS datetime,
      |    event_type AS parameter, value,
      |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%f') AS extracted_at
      |  FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY location_id, datetime, parameter
      |    ORDER BY extracted_at DESC, sensor_id ASC) AS rn
      |  FROM src)
      |SELECT location_id, CAST(datetime AS TIMESTAMP) AS datetime, parameter,
      |  value, extracted_at, sensor_id
      |FROM r WHERE rn = 1
      |ORDER BY location_id, datetime, parameter""".stripMargin) { (s, dir) =>
    val meas = Tables.load(s, dir, "events").select(
      col("user_id").as("location_id"),
      col("event_id").as("sensor_id"),
      date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("datetime"),
      col("event_type").as("parameter"),
      col("value"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("extracted_at"))
    def dummy(datetime: String, id: Long) = sentinels(meas, "location_id" -> -1L,
      "sensor_id" -> id, "datetime" -> datetime, "parameter" -> "none",
      "value" -> 0.0, "extracted_at" -> "")()
    val (outDir, _) = streamParity(s, "st_dedup_freshest_parity", Seq(Seq(
        meas.filter(col("sensor_id") % 2 === 0),
        meas.filter(col("sensor_id") % 2 =!= 0)
          .unionByName(dummy("2100-01-01 00:00:00", -1L)),
        dummy("2100-01-02 00:00:00", -2L)))) { in =>
      graft.streaming.AqStreaming.dedupFreshestStream(in.head, watermark = "3650 days")
    }
    s.read.parquet(outDir)
      .select("location_id", "datetime", "parameter", "value",
        "extracted_at", "sensor_id")
      .orderBy("location_id", "datetime", "parameter")
  }

  // §2.9 streaming↔batch parity #6 — CHECKPOINT-RESTART recovery (what
  // a production cluster does on every driver/executor loss or planned
  // redeploy). st_sessionize_parity carries state across micro-batches
  // of ONE query — state lives in executor memory between triggers;
  // here the query is STOPPED after batch 1 and a brand-new query is
  // started on the SAME checkpoint for batch 2, so per-key session
  // state must round-trip the on-disk state store (snapshot/delta
  // replay) and the offset log must resume past the committed batch.
  // Non-vacuous by construction: every user's last batch-1 session
  // stays OPEN in state at shutdown (no sentinel in b1) and is only
  // emitted/merged correctly in run 2 if recovery restored it — lost
  // state would drop or split those sessions and fail the hash.
  q("st_restart_parity", sessionizeOracle) { (s, dir) =>
    sessionizeParity(s, dir, "st_restart_parity", restartAfter = Some(1))(
      graft.streaming.Sessionize.sessionizeStream(_, gapMinutes = 30,
        watermarkDelay = "3650 days"))
  }

  // §2.9 streaming↔batch parity #7 — STREAM-STREAM JOIN with
  // watermark-bounded state (StreamJoins.attributionJoinLeftOuter),
  // the one streaming state class previously pinned only in specs.
  // Clicks and purchases flow as two file streams in two time-ordered
  // micro-batches (split at the mid-timestamp), left-outer joined on
  // user within a 30-minute preceding window under a REAL 10-minute
  // watermark, and the full output must hash-equal the one-shot batch
  // left-outer join. Three semantics are exercised at once:
  //   - inner matches WITHIN a batch emit immediately;
  //   - a batch-1 cause can match a batch-2 effect (cross-batch state:
  //     retained because eviction needs wm > c_ts + window, and any
  //     such cause has c_ts > cutoff − window ≥ wm − window);
  //   - OUTER rows emit only after the watermark closes their window —
  //     batch-1 stragglers after batch 2's watermark, and everything
  //     else in the trailing no-data batch a far-future heartbeat
  //     (user −1, filtered from output and absent from the oracle)
  //     forces by dragging the watermark past every real window.
  // Parity is exact (not just row-count) BECAUSE the split is
  // time-ordered: a cause evicted after batch 1 has c_ts + 30 min <
  // wm ≤ cutoff, while every batch-2 effect has e_ts > cutoff — no
  // match can span the eviction boundary, so state bounded by the
  // window loses nothing (the 100 TB story: join state ∝ window, not
  // stream length, with zero missed pairs).
  private val attributionOracle =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type
      |  FROM events),
      |c AS (SELECT user_id, ts, value FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
      |SELECT c.user_id, c.ts AS c_ts, p.ts AS e_ts,
      |  c.value AS c_value, p.value AS e_value
      |FROM c LEFT JOIN p ON c.user_id = p.user_id
      |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
      |ORDER BY 1, 2, 3, 5""".stripMargin

  q("st_join_parity", attributionOracle) { (s, dir) =>
    attributionParity(s, "st_join_parity", Tables.load(s, dir, "events"))._1
  }

  /** The attribution-join rows' body: `ev`'s clicks and purchases as two
    * streams, each in two micro-batches cut at the midpoint of `ev`'s
    * time range with a far-future heartbeat (user −1) in the second,
    * left-outer joined; returns the joined rows without the heartbeats'
    * self-pair, and the last query.
    */
  private def attributionParity(s: SparkSession, label: String, ev: DataFrame,
                                restartAfter: Option[Int] = None): (DataFrame, StreamingQuery) = {
    val Seq(_, cutoff, _) = timeCuts(ev, 2)
    def side(eventType: String): Seq[DataFrame] = {
      val events = ev.filter(col("event_type") === eventType)
        .select(col("user_id"), col("ts"), col("value"))
      val heartbeat = sentinels(events, "user_id" -> -1L,
        "ts" -> java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), "value" -> 0.0)()
      val Seq(b1, b2) = slices(events, Seq(cutoff))
      Seq(b1, b2.unionByName(heartbeat))
    }
    val (outDir, query) = streamParity(s, label, Seq(side("click"), side("purchase")),
        restartAfter) { in =>
      graft.streaming.StreamJoins.attributionJoinLeftOuter(in(0), in(1),
        windowMinutes = 30, watermarkDelay = "10 minutes")
    }
    (s.read.parquet(outDir)
      .filter(col("user_id") >= 0)
      .select("user_id", "c_ts", "e_ts", "c_value", "e_value")
      .orderBy("user_id", "c_ts", "e_ts", "e_value"), query)
  }

  // §2.9 streaming↔batch parity — the stream-stream join under KEY
  // SKEW. st_join_parity runs on near-uniform user_ids; production
  // attribution streams have hot entities (one bot account, one
  // default/null-mapped id), and the symmetric hash join routes ALL of
  // a key's state through one shuffle partition — the configuration
  // where a skew regression (state blowup, dropped matches under
  // memory pressure) would hide from the uniform row. This row PLANTS
  // the hot key deterministically (every user_id % 5 == 0 remaps to
  // user 1 on BOTH sides — the hot key then carries ~20% of each
  // stream) and runs the identical windowed left-outer join across a
  // mid-stream batch cut; the oracle applies the same remap in SQL, so
  // every hot-key match AND every hot-key unmatched outer row is
  // hash-pinned. Two booleans ride in the hash: the plant is
  // non-vacuous (hot key ≥ 15% of the cause stream), and the join
  // state DRAINED after the far-future heartbeats closed every window
  // (bounded state under skew: leftover state ∝ open windows — which
  // the heartbeat reduces to the heartbeats themselves — never ∝ the
  // hot key's row count).
  q("st_join_skew_parity",
    """WITH e AS (
      |  SELECT CASE WHEN user_id % 5 = 0 THEN 1 ELSE user_id END AS user_id,
      |    CAST(ts AS TIMESTAMP) AS ts, value, event_type
      |  FROM events),
      |c AS (SELECT user_id, ts, value FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
      |SELECT c.user_id, c.ts AS c_ts, p.ts AS e_ts,
      |  c.value AS c_value, p.value AS e_value,
      |  true AS hot_planted_ok, true AS state_drained_ok
      |FROM c LEFT JOIN p ON c.user_id = p.user_id
      |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
      |ORDER BY 1, 2, 3, 5""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select(
        when(pmod(col("user_id"), lit(5)) === 0, lit(1L))
          .otherwise(col("user_id")).as("user_id"),
        col("ts"), col("value"), col("event_type"))
    // non-vacuity: the planted key must actually be hot
    val hotStats = ev.filter(col("event_type") === "click")
      .agg(count(lit(1)).as("n"),
        sum(when(col("user_id") === 1, 1L).otherwise(0L)).as("hot")).collect()(0)
    val hotPlantedOk = hotStats.getLong(1) * 100 >= hotStats.getLong(0) * 15
    val (joined, query) = attributionParity(s, "st_join_skew_parity", ev)
    val stateRows = Option(query.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    // after the 2100 heartbeats advance the watermark, every real
    // window is closed: residual join state is the heartbeats alone
    // (≤ a few rows) — NOT proportional to the hot key's row count
    val stateDrainedOk = stateRows >= 0 && stateRows <= 8
    joined
      .withColumn("hot_planted_ok", lit(hotPlantedOk))
      .withColumn("state_drained_ok", lit(stateDrainedOk))
  }

  // §2.9 streaming↔batch parity #10 — CHECKPOINT-RESTART for the
  // STREAM-STREAM JOIN state backend (SymmetricHashJoinStateManager —
  // the fourth distinct stateful-operator store, after
  // flatMapGroupsWithState, windowed aggregation, and
  // transformWithState/RocksDB). Identical join and oracle to
  // st_join_parity, but the query is STOPPED after batch 1 — every
  // unmatched batch-1 row on BOTH sides now lives only in the
  // checkpoint's keyed join state — and a brand-new query resumes for
  // batch 2. Non-vacuous two ways: a batch-1 cause can only match a
  // batch-2 effect if the restored cause state is probed by the new
  // incarnation, and a batch-1 unmatched cause can only emit its
  // outer row if recovery carried it to the post-heartbeat watermark
  // close. Lost or double-restored state fails the hash either way.
  q("st_join_restart_parity", attributionOracle) { (s, dir) =>
    attributionParity(s, "st_join_restart_parity", Tables.load(s, dir, "events"),
      restartAfter = Some(1))._1
  }

  // §2.9 streaming↔batch parity #8 — CHECKPOINT-RESTART for the
  // WINDOWED-AGGREGATION state backend (st_restart_parity proves
  // restart for flatMapGroupsWithState; st_hourly_parity runs this
  // operator but in one query incarnation). Append-mode
  // window(ts, 1 hour) × event_type counts under a REAL 1-hour
  // watermark: run 1 drains batch 1 (events ≤ mid-ts) and STOPS — the
  // cutoff-straddling hour's partial counts now live only in the
  // checkpoint's state store; run 2 is a brand-new query on the same
  // checkpoint folding in batch 2 plus a far-future heartbeat (type
  // 'hb') that drags the watermark past every real window so the
  // trailing no-data batch flushes them all. Parity is exact because
  // emission and arrival can't cross: a window emitted in run 1 has
  // end ≤ max(b1.ts) − 1 h < cutoff, while every batch-2 row has
  // ts > cutoff — append-once is never violated; and batch 2 is never
  // late-dropped because the restored watermark is max(b1.ts) − 1 h <
  // cutoff < min(b2.ts). Lost window state would under-count the
  // straddling hour and fail the hash. The heartbeat's own window
  // never closes (wm stops 1 h short of it) and is never emitted.
  private val restartAggOracle =
    """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
      |  event_type, CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  q("st_restart_agg_parity", restartAggOracle) { (s, dir) =>
    restartAggParity(s, dir, "st_restart_agg_parity")
  }

  // Same restart harness on the PRODUCTION state backend: recovery
  // must replay RocksDB snapshot+changelog files for the windowed
  // aggregate's state store instead of the default provider's HDFS
  // delta files. `ScaleBench state-backend` measures all four stateful
  // families under RocksDB at a 4 g heap; this row puts the
  // windowed-agg × restart × RocksDB combination inside the oracle
  // gate so a provider-specific recovery regression turns a
  // CORRECTNESS row red rather than only a probe line.
  // The provider goes on the stream's isolated clone, never on the
  // caller's session: rows run concurrently on one shared session
  // (Verify), and a borrowed conf would be visible to every row
  // running alongside this one.
  q("st_restart_agg_rocksdb_parity", restartAggOracle) { (s, dir) =>
    restartAggParity(s, dir, "st_restart_agg_rocksdb_parity", rocksDb)
  }

  private def restartAggParity(s: SparkSession, dir: String, label: String,
                               extraConf: (String, String)*): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("ts"), col("event_type"))
    val Seq(_, cutoff, hi) = timeCuts(ev, 2)
    val heartbeat = sentinels(ev,
      "ts" -> new java.sql.Timestamp(hi.getTime + 2L * 86400 * 1000), "event_type" -> "hb")()
    val Seq(b1, b2) = slices(ev, Seq(cutoff))
    val (outDir, _) = streamParity(s, label, Seq(Seq(b1, b2.unionByName(heartbeat))),
        Some(1), extraConf) { in =>
      in.head
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("hour"), col("event_type"), col("n"))
    }
    s.read.parquet(outDir)
      .filter(col("event_type") =!= "hb") // belt-and-braces: never emits
      .select("hour", "event_type", "n")
      .orderBy("hour", "event_type")
  }

  // §2.9 streaming↔batch parity #9 — CHECKPOINT-RESTART for the
  // transformWithState / RocksDB state backend (the third and last
  // stateful backend: st_restart_parity covers flatMapGroupsWithState
  // on the default HDFS-backed provider, st_restart_agg_parity the
  // windowed-aggregate store). st_restart_parity's restart — stop
  // after batch 1 with every user's last session OPEN in state, resume
  // a brand-new query from the same checkpoint — but through
  // [[graft.streaming.SessionizeV2]], so recovery must replay RocksDB
  // snapshot/changelog files AND restore the per-key event-time timer
  // registry (timers never fire here — the 3650-day delay pins gap
  // semantics; per-user sentinels close final sessions inline).
  q("st_restart_v2_parity", sessionizeOracle) { (s, dir) =>
    sessionizeParity(s, dir, "st_restart_v2_parity", Some(1), Seq(rocksDb))(
      graft.streaming.SessionizeV2.sessionizeStream(_, gapMinutes = 30,
        watermarkDelay = "3650 days"))
  }

  // §2.9 streaming-state BOUND inside the oracle gate. The eleven
  // parity rows pin WHAT the stateful operators emit; the claim that
  // makes them deployable at 100 TB — state ∝ watermark window, NOT
  // stream length — lived only in `ScaleBench stream`'s
  // printed census. This row hashes it: events drain through
  // withWatermark(3 days) + dropDuplicates(event_id) in four
  // time-ordered micro-batches over a 30-day span (a REAL watermark —
  // the other dedup rows disable lateness to isolate their own
  // property), with a 10%-of-rows duplicate subset injected so the
  // dedup is non-vacuous (kept duplicates would inflate the counts and
  // fail the hash, so dedup correctness rides on the data columns).
  // After the drain, the final progress's state census must show
  // EVICTION did its job. The exact arithmetic: a key's state entry
  // expires at firstSeen + delay, and the finalizing no-data batch
  // (pinned ON below — without it the last eviction would use the
  // batch-3 watermark and legitimately retain ~45% of keys) evicts at
  // watermark = max(ts) − delay, so the kept set is exactly
  // keys(ts ≥ hi − 2×delay) — measured: 2007 of 10000 on the 30-day
  // span. The hashed bound adds two days of margin on top of that
  // tight 2×delay window (boundary-semantics drift across Spark
  // upgrades or a non-uniform ts tail should not flip the row —
  // the single-day margin measured only ~14% slack) plus the
  // stream-length leg:
  // state must be at most half of all keys ever seen. A regression
  // that stops evicting (state ∝ stream length — the unbounded-state
  // failure mode) flips `state_bounded_ok` and turns the row red.
  // Oracle: duplicates collapse, so the output is the plain per-type
  // aggregate over events.
  q("st_state_bound_parity",
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  ${sqlR4("sum(value)")} AS sum_value, true AS state_bounded_ok
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val Seq(_, c1, c2, c3, hi) = timeCuts(ev, 4)
    // the duplicates: the same rows again, with the same ts
    val withDupes = ev.unionByName(ev.filter(col("event_id") % 10 === 0))
    // the finalizing no-data batch runs the LAST eviction, at
    // watermark max(ts) − delay; the census below depends on it
    val (outDir, query) = streamParity(s, "st_state_bound_parity", Seq(Seq(
        withDupes.filter(col("ts") < c1),
        withDupes.filter(col("ts") >= c1 && col("ts") < c2),
        withDupes.filter(col("ts") >= c2 && col("ts") < c3),
        withDupes.filter(col("ts") >= c3))), extraConf = Seq(noDataBatches)) { in =>
      in.head
        .withWatermark("ts", "3 days")
        // NOT dropDuplicates(keys): with the event-time column absent
        // from the key, that operator never evicts (state ∝ stream
        // length — the exact failure mode this row guards against,
        // confirmed here by measurement: stateRows stayed 10000/10000).
        // dropDuplicatesWithinWatermark dedups the key within the
        // watermark delay of first sight and evicts on watermark pass.
        .dropDuplicatesWithinWatermark("event_id")
    }
    val stateRows = Option(query.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    // kept set is exactly keys(ts ≥ hi − 2×delay = last 6 days); bound
    // with TWO days of margin (8-day window): the single-day margin had
    // only ~14% slack under the uniform generator, close enough that a
    // non-uniform ts tail could flip the row without any streaming
    // regression. The bound stays ∝ watermark (8 days ≪ the 30-day
    // span), and the stream-length leg below keeps the
    // unbounded-state failure mode red.
    val windowKeys = ev.filter(
      col("ts") >= new java.sql.Timestamp(hi.getTime - 8L * 24 * 3600 * 1000)).count()
    val totalKeys = ev.count()
    // strict lower bound too: the last watermark window's keys must
    // still BE in state (0 would mean the census read nothing — a
    // vacuous pass — or over-eviction)
    val boundedOk = stateRows > 0 &&
      stateRows <= windowKeys && stateRows * 2 <= totalKeys
    s.read.parquet(outDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
      .withColumn("state_bounded_ok", lit(boundedOk))
      .orderBy("event_type")
  }

  // §2.9 streaming↔batch parity — the DRIFT MONITOR's histogram
  // (batch twin dq_drift; spec DriftStreamSpec was the last
  // histogram-path evidence outside the oracle gate). Windowed
  // fixed-bounds bucket counts are EXACT (no sketch), so the stream
  // must reproduce the batch histogram bit-for-bit: events drain in
  // three time-ordered micro-batches + a window-closing sentinel
  // under a REAL 1-hour watermark in append mode — every day's
  // histogram is emitted exactly once when the watermark passes its
  // window end, and a day straddling a batch cut must merge its
  // per-batch partial counts through the state store. The sentinel
  // sits at 00:30 of max(ts)'s day + 3, so its own window can never
  // close (watermark = sentinel − 1 h < that window's end) while
  // every real day does. Oracle: the same clamp-bucket arithmetic in
  // DuckDB over the events table.
  q("st_drift_parity",
    s"""SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
      |  CAST(least(9, greatest(0, CAST(floor(value / 50) AS BIGINT))) AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, bucket""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").select(col("ts"), col("value"))
    val Seq(_, c1, c2, hi) = timeCuts(ev, 3)
    val dayMs = 24L * 3600 * 1000
    val sentinel = sentinels(ev, "ts" -> new java.sql.Timestamp(
      (hi.getTime / dayMs) * dayMs + 3 * dayMs + 30L * 60 * 1000), "value" -> 0.0)()
    // the sentinel's contract: the finalizing no-data batch emits the
    // last real window
    val (outDir, _) = streamParity(s, "st_drift_parity", Seq(slices(ev, Seq(c1, c2)) :+ sentinel),
        extraConf = Seq(noDataBatches)) { in =>
      graft.streaming.CurationStream.bucketHistogram(in.head,
        "value", "ts", lo = 0.0, hi = 500.0, nBuckets = 10,
        windowDur = "1 day", delay = "1 hour")
    }
    s.read.parquet(outDir)
      .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
        col("bucket"), col("n"))
      .orderBy("day", "bucket")
  }

  // §2.9 streaming↔batch parity — the TRENDING-TERMS sketch
  // (CurationStream.trendingTerms: the mergeable Misra–Gries
  // heavy-hitters aggregate as windowed streaming state; spec
  // TrendingTermsSpec was its last evidence outside the gate). Sketch
  // CONTENT isn't hashable (counter survival depends on merge order),
  // but the MG theorems are deterministic, so (the tx_heavy_hitters
  // convention, here per WINDOW and with the sketch built ACROSS
  // micro-batch boundaries through the state store): every token with
  // window frequency > N_w/(k+1) must appear in that window's sketch,
  // and every emitted counter must satisfy
  // exact − ⌊N_w/(k+1)⌋ ≤ min_count ≤ exact with no phantom items.
  // The windows' exact token totals and heavy-hitter counts are
  // SQL-recomputable, so the oracle pins them as data columns. Docs
  // get deterministic event times (2024-01-01 + doc_id s), 2-minute
  // windows, a 1-minute watermark, two micro-batches cut mid-window
  // (the straddled window's sketch must merge through state), and a
  // far-future sentinel closes the last real window.
  private val trendingK = 32 // MG counters; the oracle threshold derives from it
  q("st_trending_parity",
    s"""WITH d AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |w AS (
      |  SELECT strftime(CAST(to_timestamp(1704067200 + CAST(floor(doc_id / 120) AS BIGINT) * 120) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
      |    token
      |  FROM d),
      |c AS (SELECT window_start, token, count(*) AS c FROM w GROUP BY 1, 2),
      |n AS (SELECT window_start, CAST(sum(c) AS BIGINT) AS n_tokens FROM c GROUP BY 1),
      |h AS (
      |  SELECT c.window_start, count(*) AS n_heavy
      |  FROM c JOIN n USING (window_start)
      |  WHERE c.c > n.n_tokens / ${trendingK + 1}.0
      |  GROUP BY 1)
      |SELECT n.window_start, n.n_tokens,
      |  CAST(coalesce(h.n_heavy, 0) AS BIGINT) AS n_heavy,
      |  true AS covered_ok, true AS bounds_ok
      |FROM n LEFT JOIN h USING (window_start)
      |ORDER BY window_start""".stripMargin) { (s, dir) =>
    val k = trendingK
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val evd = docs.withColumn("ts",
      timestamp_seconds(lit(1704067200L) + col("doc_id")))
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val sentinel = sentinels(evd, "doc_id" -> -1L, "text" -> "zz",
      "ts" -> timestamp_seconds(lit(1704067200L + maxId + 7L * 24 * 3600)))()
    // cut mid-window: half the corpus, NOT a window boundary multiple;
    // same sentinel contract as st_drift_parity
    val (outDir, _) = streamParity(s, "st_trending_parity", Seq(Seq(
        evd.filter(col("doc_id") <= maxId / 2),
        evd.filter(col("doc_id") > maxId / 2).unionByName(sentinel))),
        extraConf = Seq(noDataBatches)) { in =>
      graft.streaming.CurationStream.trendingTerms(in.head,
        "text", "ts", windowDur = "2 minutes", delay = "1 minute", k = k)
    }
    val hhSchema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("item", StringType), StructField("min_count", LongType)))
    val hh = s.read.schema(hhSchema).parquet(outDir)
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("item"), col("min_count"))
    // exact per-window token counts, batch side (same window math)
    val exact = docs
      .select((col("doc_id") - pmod(col("doc_id"), lit(120L))).as("__w"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .select(date_format(timestamp_seconds(lit(1704067200L) + col("__w")),
        "yyyy-MM-dd HH:mm:ss").as("window_start"), col("token"))
      .groupBy("window_start", "token").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val totals = exact.groupBy("window_start").agg(sum("c").as("n_tokens"))
    val heavy = exact.join(totals, "window_start")
      .filter(col("c") > col("n_tokens") / lit((k + 1).toDouble))
    val nHeavy = heavy.groupBy("window_start")
      .agg(count(lit(1)).as("n_heavy"))
    // MG coverage theorem, per window: no heavy token missing from the
    // window's sketch
    val coveredOk = heavy
      .join(hh, heavy("window_start") === hh("window_start") &&
        heavy("token") === hh("item"), "left_anti")
      .agg((count(lit(1)) === 0).as("covered_ok"))
    // MG bound theorem, per emitted counter: joined exact must exist
    // (no phantom items) and sit within [min_count, min_count + ⌊N/(k+1)⌋]
    val boundsOk = hh
      .join(exact, hh("window_start") === exact("window_start") &&
        hh("item") === exact("token"), "left")
      .join(totals.withColumnRenamed("window_start", "__tw"),
        hh("window_start") === col("__tw"))
      .agg(coalesce(min(
        col("c").isNotNull &&
          col("min_count") <= col("c") &&
          col("min_count") >= col("c") - floor(col("n_tokens") / lit(k + 1))),
        lit(true)).as("bounds_ok"))
    totals.join(nHeavy, Seq("window_start"), "left")
      .select(col("window_start"), col("n_tokens"),
        coalesce(col("n_heavy"), lit(0L)).as("n_heavy"))
      .crossJoin(coveredOk).crossJoin(boundsOk)
      .orderBy("window_start")
  }
}
