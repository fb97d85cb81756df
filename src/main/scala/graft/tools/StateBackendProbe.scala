package graft.tools

import org.apache.spark.sql.DataFrame

/** Stateful parity on the PRODUCTION state backend: the four
  * `st_*restart*` rows prove checkpoint-restart for all four stateful
  * operator families (flatMapGroupsWithState, windowed agg,
  * transformWithState, SymmetricHashJoinStateManager), and
  * `st_state_bound_parity` adds the fifth state format (streaming
  * dedup — key + expiry per row, with its watermark-EVICTION census
  * hashed into the row), but — except for transformWithState, which
  * requires RocksDB — they run on the default HDFS-backed state store. A real cluster runs RocksDB
  * (state off-heap + native, snapshot/changelog files on the
  * checkpoint volume), so this probe re-runs each row with
  * `spark.sql.streaming.stateStore.providerClass = RocksDB…` and
  * hash-compares the output against a default-provider run in the
  * SAME JVM. The default-provider run is the exact frame the driver
  * oracles at sf0.01, so `match` here chains RocksDB parity to the
  * DuckDB oracle transitively.
  *
  * Run it under the SpillBench memory axis (the point: RocksDB keeps
  * state OFF-heap, so restart parity must hold where the on-heap
  * provider would be squeezed):
  *
  *   SPARK_DRIVER_MEM=4g sbt "runMain graft.tools.StateBackendProbe \
  *     /root/testdata/sf0.01"
  *
  * One JSON line per query: {"query":…,"provider":"rocksdb",
  * "rows":n,"match":bool,"sec":…}.
  */
object StateBackendProbe {

  val RESTART_ROWS: Seq[String] = Seq(
    "st_restart_parity",       // flatMapGroupsWithState sessionization
    "st_restart_agg_parity",   // windowed aggregation state
    "st_restart_v2_parity",    // transformWithState (RocksDB-native already)
    "st_join_restart_parity",  // stream-stream join state manager
    // fifth state format: streaming-dedup state (dropDuplicates
    // WithinWatermark — key + expiry timestamp per row). Not a
    // restart row, but its state_bounded_ok column additionally pins
    // that RocksDB EVICTION matches the default provider's, not just
    // the emitted rows.
    "st_state_bound_parity")

  private val ROCKSDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"

  /** Canonical multiset fingerprint (the TaskRetrySpec form: U+0001
    * field separator so distinct rows cannot collide by concatenation).
    */
  private def fingerprint(df: DataFrame): (Long, Int) = {
    val rows = df.collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
    val h = rows.foldLeft(1125899906842597L)((acc, r) =>
      acc * 31 + r.hashCode)
    (h, rows.length)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq.map(_.trim)
                else RESTART_ROWS
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    def r1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

    val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "16g")
    println(s"""{"probe":"state_backend","heap":"$heap","dir":"$dir"}""")

    names.foreach { name =>
      try {
        // baseline: default provider — the driver-oracled frame
        spark.conf.unset(PROVIDER_CONF)
        val (hDefault, nDefault) =
          fingerprint(graft.SparkEntry.queries(name)(spark, dir))
        // production backend: RocksDB, state off-heap
        spark.conf.set(PROVIDER_CONF, ROCKSDB)
        val t0 = System.nanoTime()
        val (hRocks, nRocks) =
          fingerprint(graft.SparkEntry.queries(name)(spark, dir))
        val sec = (System.nanoTime() - t0) / 1e9
        val ok = hRocks == hDefault && nRocks == nDefault
        println(s"""{"query":"$name","provider":"rocksdb","rows":$nRocks,""" +
          s""""rows_default":$nDefault,"match":$ok,"sec":${r1(sec)}}""")
      } catch { case e: Throwable =>
        val msg = graft.GraftConf.jsonSafeMsg(e, 200)
        println(s"""{"query":"$name","provider":"rocksdb","error":"$msg"}""")
      } finally spark.conf.unset(PROVIDER_CONF)
    }
    spark.stop()
  }
}
