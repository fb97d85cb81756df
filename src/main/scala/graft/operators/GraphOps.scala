package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics as DataFrame dataflow (the family
  * [[RelationalOps.connectedComponents]] opened; no GraphX, no RDDs).
  *
  * Scale notes: ranks live partitioned by node id; one iteration is one
  * equi-join (ranks ⋈ edges on src) plus one hash aggregation (sum by
  * dst) — both shuffle on graph keys, both map-side combinable. The
  * dangling-mass term is a single-row aggregate broadcast back into the
  * update (no driver-side collect inside the loop), and lineage is
  * truncated every few iterations so deep runs don't re-analyze an
  * O(iterations) plan tree.
  */
object GraphOps {

  /** An edge with a null endpoint is no edge. The distributed loops
    * never join on a null id, and the driver paths would fail reading
    * it, so every graph operator with a driver path drops such edges
    * up front, on both sides of its gate.
    */
  private[operators] def bothEnds(a: String, b: String): Column =
    col(a).isNotNull && col(b).isNotNull

  /** The small-graph gate of the driver paths: does `edges` have at most
    * `bound` rows? The count is limit-bounded, so deciding never scans a
    * huge edge set; a bound past `Int.MaxValue` (no `limit` can hold it)
    * counts in full. A bound of 0 or less disables the driver path.
    */
  private[operators] def fitsOnDriver(edges: DataFrame, bound: Long): Boolean =
    bound > 0 && (if (bound < Int.MaxValue) edges.limit(bound.toInt + 1) else edges)
      .count() <= bound

  /** Weighted PageRank with uniform teleport and dangling-mass
    * redistribution.
    *
    * rank'(v) = (1-d)/N + d * (Σ_{(u,v)∈E} rank(u)·w(u,v)/outW(u)
    *                           + danglingMass/N)
    *
    * `nNodes` is passed in (one count() before the loop) so the loop
    * itself launches no actions.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
               nNodes: Long, damping: Double = 0.85, iters: Int = 5,
               smallGraphEdges: Long = 200000L): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("double").as("w")).filter(bothEnds("src", "dst")).cache()
    // Adaptive small-graph path (the connectedComponents union-find
    // convention, r14): once the EDGE LIST (never the corpus — for
    // aggregated entity graphs like the nation trade graph it is
    // O(entities²) regardless of corpus size) fits on the driver, the
    // whole iteration is driver arithmetic over a few-KB rank vector,
    // and the distributed loop's ~7 jobs/iteration of scheduling is
    // pure overhead (r14 JobProfile: gr_pagerank spent 39 jobs +
    // 2 s of driver gaps ranking 25 nodes). Same dataflow, fixed
    // deterministic summation order; rank values agree with the
    // distributed path to fp-reorder noise (~1e-15 relative), orders
    // of magnitude inside the r4 rounding every caller declares
    // (GraphOpsSpec pins both paths equal after r4). The distributed
    // loop remains the plan whenever the edge count clears the bound.
    val smallOut = smallPageRank(e, nNodes, damping, iters, smallGraphEdges)
    if (smallOut.isDefined) { e.unpersist(); return smallOut.get }
    val outW = e.groupBy("src").agg(sum("w").as("tot"))
    // static (node, out-weight) frame, built ONCE: rank rows carry
    // `tot` through the loop so no iteration re-joins the static side
    // (an iteration is then exactly one join + one aggregation on
    // graph keys, plus the 1-row dangling broadcast)
    val nodes = e.select(col("src").as("n"))
      .union(e.select(col("dst").as("n"))).distinct()
    val base = nodes.join(outW, nodes("n") === outW("src"), "left")
      .select(col("n"), col("tot")).cache()

    // One up-front check, not one per iteration: a graph with no
    // dangling nodes has an identically-zero redistribution term, so
    // the per-iteration 1-row aggregate + broadcast job (a fixed
    // ~100ms of scheduling each round, and a barrier) is provably
    // dead code for it. Most real link graphs DO have danglings —
    // the term stays for them.
    val hasDangling = !base.filter(col("tot").isNull).isEmpty

    var ranks = base.withColumn("rank", lit(1.0 / nNodes))
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to iters) {
      // rank mass sitting on nodes with no out-edges, as a 1-row DF
      val dangling = ranks.filter(col("tot").isNull)
        .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
      val contribs = ranks.filter(col("tot").isNotNull)
        .join(e, col("n") === e("src"))
        .select(col("dst"), (col("rank") * col("w") / col("tot")).as("c"))
        .groupBy("dst").agg(sum("c").as("inc"))
      val withDm =
        if (hasDangling) base.crossJoin(broadcast(dangling))
        else base.withColumn("dm", lit(0.0))
      val next = withDm
        .join(contribs, base("n") === contribs("dst"), "left")
        .select(base("n"), base("tot"),
          (lit((1 - damping) / nNodes) +
            lit(damping) * (coalesce(col("inc"), lit(0.0)) + col("dm") / nNodes))
            .as("rank"))
      // each iteration reads `ranks` twice (dangling mass and
      // contributions): without a cache per level the lineage
      // re-evaluates 2^iters times — cache makes it linear
      ranks = if (i % 4 == 0) next.localCheckpoint() else next.cache()
      cached += ranks
    }
    // materialize the final ranks (eager checkpoint cuts lineage to the
    // per-level caches), then RELEASE every per-iteration cache plus
    // the edge/base frames — without this, each pageRank call parks
    // iters+2 cached plans in the session for its whole lifetime
    val result = ranks.select(col("n"), col("rank")).localCheckpoint()
    cached.foreach(_.unpersist(blocking = false))
    base.unpersist(blocking = false)
    e.unpersist(blocking = false)
    result
  }

  /** Driver-side PageRank over a collected edge list — the small-graph
    * body of [[pageRank]]. `None` when ineligible (non-integral node
    * ids or edge count above the bound; the gate count is
    * limit-bounded so deciding never scans a huge edge set).
    */
  private def smallPageRank(e: DataFrame, nNodes: Long, damping: Double,
                            iters: Int, smallGraphEdges: Long)
      : Option[DataFrame] = {
    import org.apache.spark.sql.types._
    // the output node type must match the distributed path's: the type
    // of src UNION dst (Spark's common-type widening)
    val nType = e.select(col("src").as("n"))
      .union(e.select(col("dst").as("n"))).schema("n").dataType
    val integral = Seq(e.schema("src").dataType, e.schema("dst").dataType)
      .forall(t => Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(t))
    if (!integral || !fitsOnDriver(e, smallGraphEdges)) return None
    val rows = e.select(col("src").cast("long"), col("dst").cast("long"), col("w"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)) // fixed, deterministic summation order
    val nodes = (rows.map(_._1) ++ rows.map(_._2)).distinct.sorted
    val outW = scala.collection.mutable.HashMap.empty[Long, Double]
    rows.foreach { case (s, _, w) => outW(s) = outW.getOrElse(s, 0.0) + w }
    var rank = nodes.map(n => n -> 1.0 / nNodes).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.iterator.filter(n => !outW.contains(n)).map(rank).sum
      val inc = scala.collection.mutable.HashMap.empty[Long, Double]
      rows.foreach { case (s, d, w) =>
        inc(d) = inc.getOrElse(d, 0.0) + rank(s) * w / outW(s)
      }
      rank = nodes.map(n => n ->
        ((1 - damping) / nNodes +
          damping * (inc.getOrElse(n, 0.0) + dm / nNodes))).toMap
    }
    val spark = e.sparkSession
    import spark.implicits._
    Some(nodes.toSeq.map(n => (n, rank(n))).toDF("n", "rank")
      .select(col("n").cast(nType).as("n"), col("rank")))
  }

  /** Single-source shortest hop distances (BFS), `iters` rounds of
    * relax-and-min — the third member of the iterative-analytics
    * family (PageRank, connected components). One equi-join + one
    * min-aggregation per round, both shuffling on node ids; the
    * distance frame is lineage-truncated every round (it stays tiny:
    * one row per reached node).
    */
  def bfs(edges: DataFrame, srcCol: String, dstCol: String,
          source: Long, iters: Int,
          smallGraphEdges: Long = 200000L): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).filter(bothEnds("src", "dst"))
    // Adaptive small-graph path (see [[pageRank]]): hop distances are
    // INTEGER min-relaxations — the driver answer is bit-identical to
    // the distributed loop's (GraphOpsSpec pins equality), and each
    // skipped round saves a join+agg+localCheckpoint job cycle.
    if (fitsOnDriver(e, smallGraphEdges)) {
      val rows = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      var dist = Map(source -> 0L)
      for (_ <- 1 to iters) {
        val relaxed = rows.flatMap { case (s, d) =>
          dist.get(s).map(ds => d -> (ds + 1L)) }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1)
          .map { case (n, vs) => n -> vs.map(_._2).min }
      }
      val spark = e.sparkSession
      import spark.implicits._
      return dist.toSeq.sortBy(_._1).toDF("n", "dist")
    }
    var dist = e.sparkSession.range(1)
      .select(lit(source).as("n"), lit(0L).as("dist"))
    for (_ <- 1 to iters) {
      val relaxed = dist.join(e, dist("n") === e("src"))
        .select(col("dst").as("n"), (col("dist") + 1L).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("n").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** Per-node triangle participation counts, degree-ordered.
    *
    * The classic distributed formulation (Suri & Vassilvitskii, WWW'11
    * "Counting Triangles and the Curse of the Last Reducer"): orient
    * every undirected edge from its lower-(degree, id) endpoint to the
    * higher one, build wedges by joining oriented edges head-to-tail,
    * and close each wedge against the oriented edge set. Orientation
    * bounds each node's out-degree by O(√m) on any graph, so the wedge
    * join — the quadratic term — is O(m^1.5) total work instead of
    * Σ deg² (which a hub node makes quadratic), and every triangle is
    * produced exactly once (its three vertices are totally ordered).
    * All three steps are equi-joins/aggregations on node keys: no
    * cartesian, map-side combinable, AQE-splittable.
    *
    * Input may be directed/weighted/multi — it is canonicalized to
    * distinct undirected edges with self-loops dropped.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // orient by (degree, id): lo endpoint -> hi endpoint
    // oriented is referenced three times below; without materializing
    // it here each reference INLINES the whole edge build (the
    // analyzed plan grows combinatorially — 460 exchanges observed on
    // the trade graph). localCheckpoint truncates lineage so the
    // wedge join plans against a leaf.
    val oriented = und
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("hi"))
      .localCheckpoint()
    val o1 = oriented.select(col("lo").as("a"), col("hi").as("b"))
    val o2 = oriented.select(col("lo").as("b"), col("hi").as("c"))
    val o3 = oriented.select(col("lo").as("a2"), col("hi").as("c2"))
    val wedges = o1.join(o2, "b") // a->b, b->c
    val tris = wedges.join(o3,
      wedges("a") === o3("a2") && wedges("c") === o3("c2"))
      .select("a", "b", "c")
    tris.select(col("a").as("n"))
      .unionAll(tris.select(col("b").as("n")))
      .unionAll(tris.select(col("c").as("n")))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
  }
}
