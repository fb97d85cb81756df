package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query surface is assembled from per-domain packs; names carry
  * the SURVEY §2 operator ids they exercise:
  *  - [[CoreQueries]]       relational ops (§2.2–§2.8)
  *  - [[PipelineQueries]]   the reference's end-to-end dataflow (§3.2),
  *                          I/O roundtrips (§2.1), AQI (§2.10)
  *  - [[TextQueries]]       text analysis + document dedup (scale mandate)
  *  - [[SimQueries]]        vector similarity / ANN (scale mandate)
  *  - [[MultimodalQueries]] binary-column plumbing (scale mandate)
  *  - [[FuzzQueries]]       fixed-seed generated queries (differential
  *                          fuzzing — DataFrame vs DuckDB every round)
  */
object SparkEntry {
  private val packs: Seq[QueryPack] = Seq(
    CoreQueries, PipelineQueries, TextQueries, SimQueries, MultimodalQueries,
    FuzzQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.martPipeline(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (built once). */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (MinHash/SimHash/LSH) → driver records a rows-only check.
    */
  def oracleSql: Map[String, String] = packs.flatMap(_.oracles).toMap
}
