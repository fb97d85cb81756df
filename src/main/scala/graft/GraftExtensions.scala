package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftx.{DamerauLevenshtein, FloatVecDot, JaroSimilarity, JaroWinklerSimilarity, MgHeavyHitters, NgramGenerator, RhpSignature, SimHash64, TokenNgrams}

/** `SparkSessionExtensions` entry point: injects the graft expressions
  * into the session's FunctionRegistry so the SQL surface has them
  * from the first query. Wire-up:
  *
  * {{{
  * GraftExtensions.session("local[8]", 8)           // programmatic
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

    ext.injectFunction((
      FunctionIdentifier("float_vec_dot"),
      info("float_vec_dot", "_FUNC_(a, b) - double-precision dot product of two float arrays"),
      (es: Seq[Expression]) => FloatVecDot(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "_FUNC_(tokens) - 64-bit SimHash of a token array"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    ext.injectFunction((
      FunctionIdentifier("token_ngrams"),
      info("token_ngrams", "_FUNC_(tokens[, n]) - token n-gram shingles (default n=3)"),
      (es: Seq[Expression]) =>
        org.apache.spark.sql.graftx.GraftFunctions.tokenNgramsBuilder(es)))
    ext.injectFunction((
      FunctionIdentifier("rhp_signature64"),
      info("rhp_signature64", "_FUNC_(vec) - 16-bit random-hyperplane LSH bucket of a 64-dim float vector"),
      (es: Seq[Expression]) => RhpSignature(es.head, 64, 16)))
    ext.injectFunction((
      FunctionIdentifier("ngram_gen"),
      info("ngram_gen", "_FUNC_(tokens, n) - GENERATOR: one (pos, ngram) row per n-gram, no intermediate array"),
      (es: Seq[Expression]) => NgramGenerator(es.head,
        es(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("damerau_levenshtein"),
      info("damerau_levenshtein", "_FUNC_(a, b) - unrestricted Damerau-Levenshtein distance"),
      (es: Seq[Expression]) => DamerauLevenshtein(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_similarity"),
      info("jaro_similarity", "_FUNC_(a, b) - Jaro similarity in [0,1]"),
      (es: Seq[Expression]) => JaroSimilarity(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler_similarity"),
      info("jaro_winkler_similarity", "_FUNC_(a, b) - Jaro-Winkler similarity (0.7 boost threshold, prefix ≤ 4 at 0.1)"),
      (es: Seq[Expression]) => JaroWinklerSimilarity(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("pq_adc_dot"),
      info("pq_adc_dot",
        "_FUNC_(codes, qtab, ksub) - PQ asymmetric-distance dot: sum of qtab[s*ksub+codes[s]] (ksub a literal)"),
      (es: Seq[Expression]) =>
        org.apache.spark.sql.graftx.GraftFunctions.pqAdcDotBuilder(es)))
    ext.injectFunction((
      FunctionIdentifier("mg_heavy_hitters"),
      info("mg_heavy_hitters",
        "_FUNC_(col) - 16-counter Misra-Gries heavy-hitters summary as array<struct<item,min_count>>"),
      (es: Seq[Expression]) => MgHeavyHitters(es.head, 16).toAggregateExpression()))

    // conf-gated plan rewrite: COUNT(DISTINCT x) → HLL++ sketch
    // (see graft.plans.ApproxDistinctRewrite; off unless
    // spark.graft.approxDistinct=true)
    ext.injectOptimizerRule(graft.plans.ApproxDistinctRewrite.apply)

    // conf-gated plan rewrite: exact percentile(...) → t-digest
    // (graft.plans.ApproxPercentileRewrite; off unless
    // spark.graft.approxPercentile=true)
    ext.injectOptimizerRule(graft.plans.ApproxPercentileRewrite.apply)

    // whole-operator extension: TopKPerGroup logical node → two-stage
    // bounded-heap physical plan (graftx.TopKStrategy)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graftx.TopKStrategy)
  }
}

object GraftExtensions {
  /** Fail loudly if `spark` is NOT carrying these extensions.
    * `withExtensions(...)` on `getOrCreate()` is silently IGNORED when
    * a session already exists in the JVM (e.g. a reused sbt shell) —
    * the bench/verify mains would then measure a different engine than
    * the one the correctness gate checks. [[session]] calls this on
    * every session it returns.
    */
  def assertWired(spark: SparkSession): Unit =
    require(spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("float_vec_dot")),
      "GraftExtensions not active in this SparkSession — a pre-existing " +
        "session was reused and withExtensions() was ignored. Stop the " +
        "stale session or build via GraftExtensions.session().")

  /** The one place a graft session is built: extensions (asserted),
    * UTC session time zone, no UI, the no-fork local filesystem,
    * nanos-as-long parquet timestamps and WARN logging, plus the
    * caller's own `extraConf`.
    *
    * The local filesystem pair (graft.io.NioLocalFileSystem scaladoc):
    * Hadoop's shell-backed chmod/readlink forks a process per created
    * file and checkpoint rename when libhadoop is absent; java.nio does
    * the same without one.
    */
  def session(master: String, shufflePartitions: Int,
              extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.io.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.io.NioLocalFs")
      // `events.ts` has shipped as parquet TIMESTAMP(NANOS), which the
      // reader only accepts as a long (Tables.normalizeEventsTs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    assertWired(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The one way to scope confs to a piece of work: run `body` on a
    * clone of `s` (the caller's current confs, temp views and functions
    * — see [[org.apache.spark.sql.graftx.SessionClone]]) with `conf`
    * applied, the clone being the thread's active session meanwhile.
    * The caller's session is never changed, so queries running beside
    * this one on it (Verify runs four at once) never see these confs.
    * Active matters: some planning reads `SQLConf.get`, the thread's
    * active session's conf, rather than the Dataset's — plan statistics
    * under `spark.sql.cbo.enabled`, for one. A frame `body` returns
    * stays bound to the clone and plans under its confs wherever it
    * runs.
    */
  def isolated[T](s: SparkSession, conf: (String, String)*)(body: SparkSession => T): T = {
    val clone = org.apache.spark.sql.graftx.SessionClone(s)
    conf.foreach { case (k, v) => clone.conf.set(k, v) }
    val prior = SparkSession.getActiveSession
    SparkSession.setActiveSession(clone)
    try body(clone) finally prior match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }
}
