package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided synthetic tables
  * (`/root/testdata/sf*`, see TESTDATA.md). Parquet carries its own
  * schema; no inference hazards (SURVEY §1.3).
  *
  * `events.ts` has been written by the driver in different parquet
  * physical types across testdata generations — TIMESTAMP(NANOS)
  * (which Spark's reader only accepts via the nanos-as-long legacy
  * conf, set on every `GraftExtensions.session`) and plain
  * timestamp[us] (which Spark reads as TIMESTAMP_NTZ). We therefore
  * branch on the ACTUAL read schema rather than assuming one encoding:
  *   - LongType (nanos-as-long): exact integer `DIV 1000` to micros
  *     (a double roundtrip would corrupt epoch-nanos > 2^53) — the
  *     same truncation DuckDB applies casting TIMESTAMP_NS→TIMESTAMP.
  *   - TimestampNTZType: cast to session-TZ TimestampType (sessions
  *     run UTC, so the wall clock is preserved and matches DuckDB).
  *   - TimestampType: already what we want; pass through.
  * Reference semantic: timestamp cast normalization on ingest
  * (reference glue_jobs/process_openaq_raw.py:118-121).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize whatever physical encoding `ts` arrived in to
    * microsecond TimestampType. Shared by batch loads and the
    * streaming specs (same parquet, same hazard).
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** Register every table as a temp view so `spark.sql` queries use the
    * same names the DuckDB oracle sees.
    *
    * Idempotent per (session, dir): re-registering the same parquet
    * paths costs ~1 s of footer reads + analysis, and the SQL-surface
    * queries each call this on every run (3× per query under the
    * bench). The views are pure path bindings — same dir ⇒ same
    * definition — so a repeat call with an unchanged dir is a no-op.
    * A dir change (sf switch within one session) re-registers.
    */
  // Weak session reference, not identityHashCode: identity hashes can
  // be reused after GC, so a hash key could silently no-op for a NEW
  // session that collided with a dead one's key. Reference equality
  // can't collide, and the weak ref lets a discarded session be
  // collected.
  @volatile private var registeredFor
      : Option[(java.lang.ref.WeakReference[SparkSession], String)] = None
  def registerAll(spark: SparkSession, dir: String): Unit = {
    // Memo hit still verifies EVERY view still EXISTS (cheap catalog
    // lookups) — a caller that DROPPED a temp view would otherwise be
    // stuck with a silent no-op. A view SHADOWED via
    // createOrReplaceTempView still exists and passes this check; a
    // caller that rebinds these names must call resetRegistration().
    val hit = registeredFor.exists { case (ref, d) =>
      (ref.get eq spark) && d == dir
    } && names.forall(spark.catalog.tableExists)
    if (!hit) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registeredFor = Some((new java.lang.ref.WeakReference(spark), dir))
    }
  }

  /** Drop the memo so the next [[registerAll]] re-registers — for
    * callers that mutate the temp-view namespace wholesale.
    */
  def resetRegistration(): Unit = registeredFor = None
}
