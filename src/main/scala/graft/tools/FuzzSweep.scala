package graft.tools

import graft.queries.QueryFuzz

/** Value-level CROSS-ENGINE sweep of the differential fuzzer: render
  * every seed of a generator family both ways, write the DataFrame
  * result as parquet and the SQL rendering into `oracle_sql.json` —
  * the exact artifact shape `graft.Verify` produces — so the existing
  * DuckDB gate mimic (`tools/check.py <sfDir> <outDir>`: columns
  * sorted by name, rows sorted, exact value equality) compares ALL
  * seeds, not just the fixed gate dozen.
  *
  * The in-process `QueryFuzzSpec` sweep proves the two renderings
  * mean the same query to SPARK; this instrument proves them against
  * a SECOND engine at every seed — it is how the v3 rollup-over-empty
  * divergence was found (seeds 41/63; see BENCHNOTES round 13).
  *
  * Usage: tools/run_main.sh graft.tools.FuzzSweep v3 \
  *          /root/testdata/sf0.01 /tmp/fuzz_sweep_v3 100
  */
object FuzzSweep {
  def main(args: Array[String]): Unit = {
    val gen = args(0) match {
      case "v1" => QueryFuzz.generate _
      case "v2" => QueryFuzz.generateV2 _
      case "v3" => QueryFuzz.generateV3 _
      case other => sys.error(s"unknown generator family: $other")
    }
    val sfDir = args(1)
    val outDir = args(2)
    val nSeeds = if (args.length > 3) args(3).toInt else 100
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftExtensions.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()

    val sqls = Seq.newBuilder[(String, String)]
    var failed = 0
    for (seed <- 1 to nSeeds) {
      val name = f"${args(0)}%s_$seed%03d"
      val fq = gen(seed.toLong)
      try {
        QueryFuzz.toDataFrame(fq, spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        sqls += name -> QueryFuzz.toSql(fq)
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz-sweep] $name FAILED: ${e.getMessage}")
      }
    }
    graft.Json.write(s"$outDir/oracle_sql.json", sqls.result())
    println(graft.Json.line(Seq("probe" -> "fuzz_sweep", "family" -> args(0), "sf" -> sfDir,
      "seeds" -> nSeeds, "written" -> sqls.result().size, "failed" -> failed)))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
