package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Int, Int, Double)], iters: Int): Map[Int, Double] = {
    val df = edges.toDF("src", "dst", "w")
    val n = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    GraphOps.pageRank(df, "src", "dst", "w", n, damping = 0.85, iters = iters)
      .as[(Int, Double)].collect().toMap
  }

  /** Driver-side reference implementation (plain maps) for comparison. */
  private def refRanks(edges: Seq[(Int, Int, Double)], iters: Int): Map[Int, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(outW.contains).map(r).sum
      val inc = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => r(s) * w / outW(s) }.sum).toMap
      r = nodes.map(v =>
        v -> (0.15 / n + 0.85 * (inc.getOrElse(v, 0.0) + dm / n))).toMap
    }
    r
  }

  test("3-cycle is the uniform fixpoint") {
    val r = ranks(Seq((1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)), iters = 4)
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("dangling node mass is redistributed (matches reference impl)") {
    // 1→2, 3→2; node 2 has no out-edges
    val es = Seq((1, 2, 1.0), (3, 2, 2.0))
    val got = ranks(es, iters = 5)
    val want = refRanks(es, iters = 5)
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"node $k") }
  }

  test("weighted edges skew rank toward the heavy target; mass conserved") {
    // hub 1 links out 9:1 — node 2 must outrank node 3
    val es = Seq((1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0))
    val r = ranks(es, iters = 8)
    assert(r(2) > r(3))
    assert(math.abs(r.values.sum - 1.0) < 1e-9) // teleport + dangling conserve mass
    val want = refRanks(es, iters = 8)
    want.foreach { case (k, v) => assert(math.abs(r(k) - v) < 1e-12, s"node $k") }
  }

  test("bfs: path distances, shortcut wins, unreachable absent, hop budget respected") {
    def d(edges: Seq[(Int, Int)], iters: Int): Map[Long, Long] =
      GraphOps.bfs(edges.toDF("src", "dst"), "src", "dst", source = 0L, iters)
        .as[(Long, Long)].collect().toMap
    // path 0→1→2→3 plus shortcut 0→2: dist(2)=1 not 2; 9→0 can't
    // reach anything FROM 0, node 9 absent
    val es = Seq((0, 1), (1, 2), (2, 3), (0, 2), (9, 0))
    assert(d(es, 4) == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
    // hop budget: with 1 iteration node 3 (2 hops) is not yet reached
    assert(d(es, 1) == Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
  }

  test("small-graph driver paths match the distributed loops (r14)") {
    // pageRank: weighted graph with a dangling node and a detached
    // component — driver path equals the distributed loop to
    // fp-reorder noise, far inside the r4 rounding callers declare
    val es = Seq((1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0),
      (4, 5, 2.0), (6, 4, 1.0))
    val df = es.toDF("src", "dst", "w")
    val n = es.flatMap(e => Seq(e._1, e._2)).distinct.size
    val small = GraphOps.pageRank(df, "src", "dst", "w", n, 0.85, iters = 6)
      .as[(Int, Double)].collect().toMap
    val dist = GraphOps.pageRank(df, "src", "dst", "w", n, 0.85, iters = 6,
        smallGraphEdges = 0).as[(Int, Double)].collect().toMap
    assert(small.keySet == dist.keySet)
    small.foreach { case (k, v) =>
      assert(math.abs(v - dist(k)) < 1e-12, s"node $k: $v vs ${dist(k)}") }
    // bfs: integer relaxation — bit-identical
    val e2 = Seq((0, 1), (1, 2), (0, 2), (2, 3), (9, 0)).toDF("src", "dst")
    val b1 = GraphOps.bfs(e2, "src", "dst", 0L, 4)
      .as[(Long, Long)].collect().toMap
    val b2 = GraphOps.bfs(e2, "src", "dst", 0L, 4, smallGraphEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(b1 == b2)
  }

  /** Every graph operator with a driver path, on one edge list, with
    * the small-graph bound set to `bound`.
    */
  private def allPaths(edges: DataFrame, bound: Long): Seq[Set[(Any, Any)]] = {
    def pairs(df: DataFrame) = df.collect().map(r => (r.get(0), r.get(1))).toSet
    // the nodes of the edges that survive (an edge with a null end does not)
    val kept = edges.filter(col("src").isNotNull && col("dst").isNotNull)
    val nodes = kept.select(col("src").as("id")).union(kept.select(col("dst").as("id")))
      .distinct()
    val rounded = GraphOps.pageRank(edges, "src", "dst", "w", nodes.count(), iters = 4,
      smallGraphEdges = bound).select(col("n"), round(col("rank"), 10))
    Seq(pairs(rounded),
      pairs(GraphOps.bfs(edges, "src", "dst", 1L, 4, smallGraphEdges = bound)),
      pairs(RelationalOps.connectedComponents(nodes, "id", edges, "src", "dst",
        smallGraphEdges = bound)),
      pairs(RelationalOps.connectedComponentsStar(nodes, "id", edges, "src", "dst",
        smallGraphEdges = bound)))
  }

  private val someEdges = Seq((1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (4, 5, 1.0), (3, 6, 0.5))

  test("small-graph gate: a bound of 2^31 or more neither overflows nor changes the answer") {
    val df = someEdges.toDF("src", "dst", "w")
    val distributed = allPaths(df, bound = 0L)
    // Int.MaxValue + 1 used to wrap the gate's limit to a negative row count
    assert(allPaths(df, bound = Int.MaxValue.toLong + 1) == distributed)
    assert(allPaths(df, bound = Long.MaxValue) == distributed)
    assert(allPaths(df, bound = Int.MaxValue.toLong) == distributed)
  }

  /** The jobs `body` starts, counted by a listener. The listener bus is
    * asynchronous but ordered, so a marker job run after `body` proves
    * every earlier job start was delivered.
    */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val marker = "jobsOf marker"
    val jobs = new AtomicInteger
    val delivered = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          delivered.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(delivered.await(60, TimeUnit.SECONDS), "the marker job was never seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("small-graph gate: one pass decides and collects, in no more jobs than a probe and a collect") {
    // the gate against the limit-count probe and separate collect it
    // replaced, on one to many partitions, under and over the bound
    val bound = 10L
    for (parts <- Seq(1, 4, 16); n <- Seq(5L, 50L)) {
      val e = spark.range(0, n, 1, parts).select(col("id").as("src"), (col("id") + 1).as("dst"))
      val probeAndCollect = jobsOf { if (e.limit(bound.toInt + 1).count() <= bound) e.collect() }
      var got: Option[Array[org.apache.spark.sql.Row]] = None
      val gate = jobsOf { got = GraphOps.collectIfSmall(e, bound) }
      assert(gate <= probeAndCollect, s"$parts partitions, $n edges: $gate vs $probeAndCollect jobs")
      assert(got.map(_.length) == (if (n <= bound) Some(n.toInt) else None))
    }
    assert(jobsOf(GraphOps.collectIfSmall(spark.range(5).toDF(), 0L)) == 0)

    // every operator on both sides of its gate: the driver path runs
    // fewer jobs than the distributed loop, and no more than it ran with
    // the gate decided in one pass (with a probe and a separate collect
    // it ran 4, 2, 6 and 6)
    val df = someEdges.toDF("src", "dst", "w")
    val nodes = df.select(col("src").as("id")).union(df.select(col("dst").as("id"))).distinct()
    val ops = Seq[(String, Int, Long => DataFrame)](
      ("pageRank", 2, b => GraphOps.pageRank(df, "src", "dst", "w", 6, iters = 4,
        smallGraphEdges = b)),
      ("bfs", 1, b => GraphOps.bfs(df, "src", "dst", 1L, 4, smallGraphEdges = b)),
      ("connectedComponents", 4, b => RelationalOps.connectedComponents(nodes, "id", df,
        "src", "dst", smallGraphEdges = b)),
      ("connectedComponentsStar", 3, b => RelationalOps.connectedComponentsStar(nodes, "id", df,
        "src", "dst", smallGraphEdges = b)))
    ops.foreach { case (name, most, op) =>
      val driver = jobsOf(op(200000L).collect())
      val distributed = jobsOf(op(0L).collect())
      info(s"$name: $driver jobs on the driver path, $distributed distributed")
      assert(driver <= most && driver < distributed, s"$name: $driver, $distributed")
    }
  }

  test("null src/dst: both sides of the gate drop the edge instead of failing") {
    val es = someEdges.map { case (s, d, w) => (Option(s), Option(d), w) } ++
      Seq((None, Some(1), 1.0), (Some(2), None, 1.0), (None, None, 1.0), (Some(7), None, 1.0))
    val dirty = es.toDF("src", "dst", "w")
    val driver = allPaths(dirty, bound = 200000L) // used to throw a NullPointerException
    assert(driver == allPaths(dirty, bound = 0L))
    // and the answer is the clean graph's: a null-ended edge is no edge
    assert(driver == allPaths(someEdges.toDF("src", "dst", "w"), bound = 0L))
  }

  test("pageRank weights: zero out-weight, negative and null weights agree across the gate") {
    def both(df: DataFrame): Seq[Map[Long, Double]] = Seq(200000L, 0L).map { bound =>
      GraphOps.pageRank(df, "src", "dst", "w", 5, iters = 5, smallGraphEdges = bound)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    def agree(df: DataFrame): Map[Long, Double] = {
      val Seq(driver, distributed) = both(df)
      assert(driver.keySet == distributed.keySet)
      driver.foreach { case (k, v) =>
        assert(!v.isNaN && !v.isInfinite, s"node $k: $v")
        assert(math.abs(v - distributed(k)) < 1e-12, s"node $k: $v vs ${distributed(k)}")
      }
      driver
    }
    // 2 has a negative weight (out-weight 2); 4's only weight is null,
    // so 4 is dangling
    val signed = Seq[(Long, Long, Option[Double])]((1, 2, Some(1.0)), (2, 3, Some(3.0)),
      (2, 1, Some(-1.0)), (3, 1, Some(1.0)), (4, 5, None), (5, 1, Some(2.0)))
    agree(signed.toDF("src", "dst", "w"))
    // 1's out-weights sum to 0: w / 0 is Spark's to define on both sides
    val zero = signed ++ Seq[(Long, Long, Option[Double])]((1, 4, Some(-1.0)))
    val lenient = spark.newSession()
    lenient.conf.set("spark.sql.ansi.enabled", "false")
    val ranks = agree(lenient.createDataFrame(zero).toDF("src", "dst", "w"))
    assert(ranks.size == 5)
    val strict = spark.newSession()
    strict.conf.set("spark.sql.ansi.enabled", "true")
    Seq(200000L, 0L).foreach { bound =>
      val e = intercept[Exception] {
        GraphOps.pageRank(strict.createDataFrame(zero).toDF("src", "dst", "w"),
          "src", "dst", "w", 5, iters = 5, smallGraphEdges = bound).collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("DIVIDE_BY_ZERO")), s"bound $bound: $e")
    }
  }

  private def tris(edges: Seq[(Int, Int)]): Map[Int, Long] =
    GraphOps.triangleCount(edges.toDF("src", "dst"), "src", "dst")
      .as[(Int, Long)].collect().toMap

  test("triangleCount: K4 has 3 triangles per node; path has none") {
    // complete graph on 4 nodes: C(3,2)=3 triangles through each node
    val k4 = for (i <- 1 to 4; j <- 1 to 4 if i < j) yield (i, j)
    assert(tris(k4) == Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L))
    assert(tris(Seq((1, 2), (2, 3), (3, 4))).isEmpty) // path: no triangles
  }

  test("triangleCount: direction, duplicates, and self-loops are canonicalized") {
    // one triangle declared messily: reversed edges, dupes, a self-loop
    val es = Seq((1, 2), (2, 1), (3, 2), (1, 3), (1, 3), (2, 2))
    assert(tris(es) == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
  }

  test("triangleCount: hub wedge without closing edge counts nothing") {
    // star K1,3 has 3 wedges through the hub but zero triangles
    assert(tris(Seq((0, 1), (0, 2), (0, 3))).isEmpty)
    // closing one pair creates exactly one triangle, hub in it
    assert(tris(Seq((0, 1), (0, 2), (0, 3), (1, 2))) ==
      Map(0 -> 1L, 1 -> 1L, 2 -> 1L))
  }
}
