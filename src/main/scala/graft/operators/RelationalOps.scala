package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators re-expressing the reference's transform
  * surface (SURVEY §2) as composable `DataFrame => DataFrame` functions.
  *
  * Each operator is declarative (Catalyst-optimizable): no collect-loops,
  * no UDFs, codegen-friendly expressions only.
  */
object RelationalOps {

  /** Parallelism FLOOR for derivation-heavy scans (guide §2.5 "input
    * skew": one unsplittable/single-row-group file serializes the
    * stage). Operators whose per-row work blows the input up by
    * orders of magnitude — per-character window hashes, shingle
    * explodes, all-pairs scoring — must size parallelism to their
    * OUTPUT, not their input: r13 measured whole queries serializing
    * on 1-task scans of single-row-group parquet (the window-hash
    * explode of `dd_repeated_spans`, the O(n²) pair scan of
    * `dd_embedding_cosine`), where `maxPartitionBytes` cannot help
    * because parquet only splits at row-group boundaries.
    *
    * If the plan's scan parallelism already meets the session default
    * (the 100 TB case — thousands of splits), this is the IDENTITY:
    * no exchange is added, so production plans are untouched. Below
    * it, one hash repartition of the RAW input (pre-blow-up bytes —
    * the cheap side of the explosion) spreads the derivation across
    * the cluster. Keys make the placement deterministic under retries
    * (guide §2.5: never round-robin rows into a derivation whose
    * output is hashed).
    */
  def parallelismFloor(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }

  /** W1 — window-function dedup, "keep first occurrence per key".
    *
    * Reference: `glue_jobs/process_openaq_raw.py:129-135` — its window
    * orders by the partition key itself, making the kept row arbitrary.
    * We require an explicit deterministic tie-break ordering instead
    * (SURVEY §7.4-2), so results are oracle-checkable.
    *
    * One shuffle on `keys`. At 100 TB: the shuffle is unavoidable for a
    * global dedup, but if the input is already bucketed/partitioned by
    * the key, Catalyst elides the exchange.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** P7 — cheaper dedup when ANY row per key is acceptable: hash-based
    * partial aggregation (map-side combine) instead of a full sort
    * window. Preferred at scale when tie-breaking is not required.
    */
  def dedupAny(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** A1 — long→wide pivot with a PINNED value list
    * (`process_openaq_raw.py:151-159`; pinning per SURVEY §7.4-1: avoids
    * the extra distinct-scan job and keeps the output schema stable).
    * `avg` absorbs residual duplicates exactly like the reference's
    * `mean`.
    *
    * NOT `Dataset.pivot`: Spark plans pivot as TWO aggregates (pre-agg
    * per (group, pivotVal) then pivot-agg per group) — two shuffles.
    * With a pinned domain the same result is ONE conditional
    * aggregation (`avg(when(pivotCol = v, value))` per v): one
    * map-side-combined shuffle, half the exchange volume at scale.
    */
  def pivotAvg(df: DataFrame, groupCols: Seq[String], pivotCol: String,
               pivotValues: Seq[String], valueCol: String): DataFrame = {
    val aggs = pivotValues.map(v =>
      avg(when(col(pivotCol) === v, col(valueCol))).as(v))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Broadcast `df` only when 4× its plan-stats estimate fits
    * `spark.graft.broadcastDimBound` (default 256 MiB) — else return
    * it unhinted and let Catalyst/AQE plan the join. The UNCONDITIONAL
    * hint was the repo's one measured 1000×-tier kill (r12: pipe_mart
    * at 100M events died broadcasting its 15M-row user dim): a hint
    * bypasses autoBroadcastJoinThreshold entirely, so a dim that
    * grows with the corpus eventually OOMs the build side. The 4×
    * factor covers on-disk-columnar → in-memory-hash-relation
    * expansion (same reasoning as the LSH broadcast-verify bound);
    * the bound deliberately sits far above the 10 MB auto threshold —
    * a 100 MB dim is still worth forcing against a 100 TB fact scan.
    */
  def broadcastIfFits(df: DataFrame): DataFrame = {
    val bound = broadcastBound(df)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est * 4 <= bound) broadcast(df) else df
  }

  private def broadcastBound(df: DataFrame): Long =
    graft.GraftConf.sizeConf(df.sparkSession,
      "spark.graft.broadcastDimBound", 256L * 1024 * 1024)

  /** [[broadcastIfFits]] for sides that have NO non-broadcast plan —
    * e.g. an inherently all-pairs window join where the unhinted
    * fallback would be a cartesian. Broadcasts when it fits; above
    * the bound it fails FAST with the caller-supplied remedy instead
    * of OOMing the build side mid-job.
    */
  def requireBroadcastable(df: DataFrame, what: String, remedy: String): DataFrame = {
    val bound = broadcastBound(df)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    require(est * 4 <= bound,
      s"$what (~$est bytes plan-stats, x4 in-memory) exceeds the broadcast " +
        s"bound $bound (spark.graft.broadcastDimBound): $remedy")
    broadcast(df)
  }

  /** [[requireBroadcastable]] for sides whose PLAN STATS are opaque —
    * a filtered slice of a big scan: Catalyst's size-only visitor
    * gives a `Filter` its CHILD's `sizeInBytes` (selectivity needs
    * CBO + column stats), so the stats gate would reject by CORPUS
    * size however tiny the slice actually is, and the caller's remedy
    * (tighten the filter) could never satisfy it. This variant
    * MEASURES the side instead: one pruned aggregate job — exact row
    * count plus the caller's per-row variable-width byte expression —
    * so the gate is honest by construction. `perRowFixed` covers the
    * UnsafeRow header, fixed-width fields, and the hashed-relation
    * entry; the ×2 keeps margin for UTF-8→UnsafeRow padding without
    * the ×4 columnar-expansion factor (nothing columnar is being
    * estimated here — the bytes are measured).
    */
  def requireBroadcastableMeasured(df: DataFrame, payloadBytes: Column,
                                   what: String, remedy: String,
                                   perRowFixed: Long = 64L): DataFrame = {
    val bound = broadcastBound(df)
    // No stats fast-accept, deliberately: plan stats measure on-disk
    // COLUMNAR bytes and are blind to the per-ROW hash-relation
    // overhead this gate charges — a corpus of millions of narrow,
    // dictionary-compressed rows can estimate at a tenth of its
    // in-memory relation, so "stats fit ⇒ side fits a fortiori" holds
    // for row counts only, not bytes, and a fast-accept would silently
    // broadcast exactly the side the measured gate exists to reject.
    // The one aggregate job is the price of the contract.
    val m = df.agg(count(lit(1)).as("n"),
      coalesce(sum(payloadBytes.cast("long")), lit(0L)).as("b")).collect()(0)
    val est = m.getLong(0) * perRowFixed + m.getLong(1)
    require(est * 2 <= bound,
      s"$what (measured ~$est bytes in-memory: ${m.getLong(0)} rows, " +
        s"${m.getLong(1)} payload bytes, x2 margin) exceeds the broadcast " +
        s"bound $bound (spark.graft.broadcastDimBound): $remedy")
    broadcast(df)
  }

  /** J1/J2 — enrich facts with a small dimension via broadcast hash join
    * (`process_openaq_raw.py:188-192`). The dim is deduplicated first so
    * the join can never fan out (`:185`). Broadcast ⇒ no shuffle of the
    * (huge) fact side — the 100 TB-safe join shape for dims that FIT;
    * the [[broadcastIfFits]] stats gate falls back to a shuffle join
    * when the dim outgrows the bound (the 1000×-measured failure mode).
    */
  def enrich(facts: DataFrame, dim: DataFrame, key: String,
             joinType: String = "left"): DataFrame =
    facts.join(broadcastIfFits(dim.dropDuplicates(key)), Seq(key), joinType)

  /** P8 — null defaulting (`process_openaq_raw.py:195-198`). */
  def fillDefaults(df: DataFrame, stringDefaults: Map[String, String],
                   numericDefaults: Map[String, Double]): DataFrame =
    df.na.fill(stringDefaults).na.fill(numericDefaults)

  /** A3 — single-pass null audit: one row, one column per audited input
    * column holding its null count (`process_openaq_raw.py:228-231`).
    */
  def nullAudit(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c => count(when(col(c).isNull, 1)).as(c)): _*)

  /** O1/O2 — top-k by a metric: Catalyst plans this as
    * TakeOrderedAndProject (no global sort materialization).
    */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** As-of join: for each left row, the latest right row with
    * `rightTime <= leftTime` on the same key (nulls when none).
    *
    * Spark has no native as-of join; rather than a custom SparkPlan,
    * this composes as the union-and-carry-forward trick: tag both
    * sides, sort within key by (time, tag, seq) and carry the right
    * payload forward with `last(_, ignoreNulls)` over an unbounded
    * preceding frame — ONE shuffle on the key, no range-join
    * explosion. Ties at equal time: right rows sort before left
    * ("at or before"), multiple right rows at one time resolve to the
    * highest `rightSeq` (deterministic).
    *
    * At scale this is the canonical shape: a sort within key
    * partitions, linear scan, no per-row probing.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               rightSeq: String, payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val leftCols = left.columns.toSeq
    // ALL payload fields travel in ONE struct: `last(_, ignoreNulls)`
    // then picks the whole latest right row atomically — a genuine
    // null INSIDE that row's payload stays null instead of being
    // backfilled from an older row (and no two payload columns can
    // ever come from different right rows).
    val payloadType = StructType(payload.map(p => StructField(p, right.schema(p).dataType)))
    val l = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTime).cast("timestamp"))
      .withColumn("__tag", lit(1)).withColumn("__seq", lit(Long.MaxValue))
      .withColumn("__p", lit(null).cast(payloadType))
    // a right row with a null (or unparseable→null) timestamp would
    // sort NULLS FIRST to the head of every key partition and become a
    // spurious "earliest" match — it can never legitimately match, drop it
    val r = right
      .filter(col(rightTime).cast("timestamp").isNotNull)
      .withColumn("__k", col(rightKey)).withColumn("__t", col(rightTime).cast("timestamp"))
      .withColumn("__tag", lit(0)).withColumn("__seq", col(rightSeq).cast("long"))
      .withColumn("__p", struct(payload.map(col): _*))
    val cols = Seq("__k", "__t", "__tag", "__seq", "__p")
    val lSel = l.select((cols ++ leftCols).map(col): _*)
    val rSel = r.select(cols.map(col) ++ leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val unioned = lSel.union(rSel)
    val w = Window.partitionBy("__k")
      .orderBy(col("__t").asc, col("__tag").asc, col("__seq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned.withColumn("__c", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ payload.map(p => col("__c").getField(p).as(p)): _*)
  }

  /** NEAREST-asof join — [[asofJoin]]'s bidirectional sibling: each
    * left row takes the right row whose time is CLOSEST in either
    * direction (backward = latest `rightTime ≤ leftTime`, forward =
    * earliest `rightTime > leftTime`; the nearer wins, exact tie →
    * backward). Same union-window mechanics: one shuffle on the key,
    * two frames over one sort, payloads travel atomically in structs
    * with the right timestamp riding along for the distance compare.
    * No self-join, no range explosion — the sensor-alignment join
    * ("match each reading to the closest calibration") at
    * O(n log n / partition).
    */
  def nearestAsofJoin(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftTime: String, rightTime: String,
                      rightSeq: String, payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
    val leftCols = left.columns.toSeq
    val payloadType = StructType(
      StructField("__rt", TimestampType) +:
        payload.map(p => StructField(p, right.schema(p).dataType)))
    val l = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTime).cast("timestamp"))
      .withColumn("__tag", lit(1)).withColumn("__seq", lit(Long.MaxValue))
      .withColumn("__p", lit(null).cast(payloadType))
    val r = right
      .withColumn("__k", col(rightKey)).withColumn("__t", col(rightTime).cast("timestamp"))
      .withColumn("__tag", lit(0)).withColumn("__seq", col(rightSeq).cast("long"))
      .withColumn("__p", struct(
        col(rightTime).cast("timestamp").as("__rt") +: payload.map(col): _*))
    val cols = Seq("__k", "__t", "__tag", "__seq", "__p")
    val lSel = l.select((cols ++ leftCols).map(col): _*)
    val rSel = r.select(cols.map(col) ++ leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val unioned = lSel.union(rSel)
    // right rows at the same instant sort BEFORE left (__tag 0 < 1):
    // the backward frame (incl. current) sees rightTime ≤ leftTime,
    // the forward frame (after current) sees strictly later rows only
    val ord = Window.partitionBy("__k")
      .orderBy(col("__t").asc, col("__tag").asc, col("__seq").asc)
    val back = last(col("__p"), ignoreNulls = true)
      .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val fwd = first(col("__p"), ignoreNulls = true)
      .over(ord.rowsBetween(1, Window.unboundedFollowing))
    val withBoth = unioned
      .withColumn("__b", back).withColumn("__f", fwd)
      .filter(col("__tag") === 1)
    val dB = unix_micros(col("__t")) - unix_micros(col("__b.__rt"))
    val dF = unix_micros(col("__f.__rt")) - unix_micros(col("__t"))
    val chosen = when(col("__b").isNull, col("__f"))
      .when(col("__f").isNull, col("__b"))
      .when(dF < dB, col("__f"))
      .otherwise(col("__b")) // tie → backward
    withBoth.withColumn("__c", chosen)
      .select(leftCols.map(col) ++ payload.map(p => col("__c").getField(p).as(p)): _*)
  }

  /** Skew-safe two-phase aggregation: spread each hot key over
    * `salts` partial groups (map-side combine already bounds this,
    * but for HIGH-cardinality aggregation states — collect_set,
    * percentile sketches — the salted partial keeps any single
    * reducer's state bounded), then merge. Caller supplies both the
    * partial and merge aggregates.
    */
  def saltedAgg(df: DataFrame, key: String, salts: Int)(
      partial: Seq[Column], merge: Seq[Column]): DataFrame =
    df.withColumn("__salt", saltCol(df, salts))
      .groupBy(col(key), col("__salt")).agg(partial.head, partial.tail: _*)
      .groupBy(col(key)).agg(merge.head, merge.tail: _*)

  /** Deterministic salt: a content hash of the full row, NOT
    * spark_partition_id/monotonically_increasing_id — those differ
    * across task retries and replays, so a speculative re-execution
    * could place the same row in a different partial group (benign for
    * salt-invariant results, but it defeats replay-identical plans and
    * trips the nondeterminism sweep). Identical duplicate rows share a
    * salt; hot KEYS still spread because their rows differ elsewhere.
    */
  private def saltCol(df: DataFrame, salts: Int): Column =
    pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(salts.toLong))

  /** Skew-resistant equi-join: fan each left row into one of `salts`
    * sub-keys and replicate every right row across ALL of them, so a
    * hot join key's rows spread over `salts` reducers instead of one.
    * Same rows as `left.join(right, key)` (inner), with the right side
    * paying a `salts`× replication — use when the right side is too
    * big to broadcast but far smaller than the skewed left (the
    * classic fact⋈mid-size-dim skew case). AQE's skew-split covers
    * sort-merge plans adaptively; explicit salting stays for forced
    * layouts, hash joins, and deterministic pre-AQE materializations.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt", saltCol(left, salts))
    val repRight = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    saltedLeft.join(repRight, Seq(key, "__salt")).drop("__salt")
  }

  /** Driver union-find over a small (a, b) pair frame — the shared
    * small-graph body of [[connectedComponents]] and
    * [[connectedComponentsStar]]: every node labeled with the SMALLEST
    * reachable id (union by min root), singletons labeled with their
    * own id via a broadcast anti-join over `nodes` (the corpus never
    * shuffles), labels cast back to `idType` so both paths return the
    * identical schema. Callers gate eligibility (integral ids,
    * limit-bounded edge count) before calling.
    */
  private def driverUnionFindLabels(nodes: DataFrame, idCol: String,
                                    p: DataFrame,
                                    idType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    p.select(col("a").cast("long"), col("b").cast("long")).collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by MIN root so every component's root is its min id
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val labelRows = parent.keys.toSeq.map(id => (id, find(id)))
    val spark = nodes.sparkSession
    import spark.implicits._
    val labels = labelRows.toDF("id", "label")
    val singletons = nodes.select(col(idCol).cast("long").as("id"))
      .join(broadcast(labels.select("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.unionByName(singletons)
      .select(col("id").cast(idType).as(idCol),
        col("label").cast(idType).as("cluster_id"))
  }

  /** Connected components by iterative min-label propagation — the
    * transitive-closure step a dedup pipeline runs on its near-dup
    * pair graph to form duplicate CLUSTERS (keep one doc per
    * component). Deterministic: every node ends up labeled with the
    * smallest id reachable from it.
    *
    * Each iteration is one join+groupBy (distributed); the driver only
    * checks convergence counts. Iterations ≤ graph diameter — near-dup
    * graphs are shallow; `maxIter` bounds pathological chains.
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          smallGraphEdges: Long = 200000L): DataFrame = {
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(GraphOps.bothEnds("a", "b")).cache()
    // Adaptive small-graph path — the same decision AQE makes when it
    // swaps a shuffle join for a broadcast: once the near-dup PAIR
    // GRAPH (not the corpus!) fits comfortably on the driver
    // (200k edges ≈ 3 MB), a local union-find beats paying per-round
    // Spark job overhead × diameter. Near-dup graphs are almost
    // always this small relative to their corpus — the corpus itself
    // never leaves the executors (singleton labeling below is still a
    // broadcast anti-join). Labels are identical by construction
    // (smallest reachable id; spec-asserted against the distributed
    // path), and the distributed loop remains the plan whenever the
    // edge count clears the threshold.
    //
    // Eligibility is type-gated: the union-find keys ids as Long, so
    // only integral id columns take it (a non-castable id would decay
    // to null here while the distributed path handles it fine), and
    // the label frame is cast BACK to the input id type so both paths
    // return the identical schema regardless of edge count.
    val idType = nodes.schema(idCol).dataType
    val integralId = GraphOps.integralIds(idType)
    if (integralId && GraphOps.fitsOnDriver(p, smallGraphEdges)) {
      val out = driverUnionFindLabels(nodes, idCol, p, idType)
      p.unpersist()
      return out
    }
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
      .cache()
    // iterate ONLY over nodes that touch an edge: a singleton's label
    // is its own id and never changes, so it has no business in the
    // loop. Near-dup graphs are sparse (most of a deduped corpus is
    // unique), so this cuts the per-iteration working set from
    // |corpus| to |paired nodes| — the difference between iterating
    // 100 TB and iterating the duplicate fraction.
    // localCheckpoint (eager), NOT cache: the singleton anti-join below
    // runs after the loop drops the edge caches, and a mere cache would
    // let it re-derive this set through the full (expensive) pair
    // computation on eviction — the checkpoint cuts that lineage
    val pairedNodes = edges.select(col("src").as("id")).distinct().localCheckpoint()
    var labels = pairedNodes.select(col("id"), col("id").as("label"))
    // Convergence potential, ONE scalar aggregate per iteration (not a
    // self-join diff). Integral ids: labels only ever decrease, so
    // their overflow-safe sum strictly decreases while anything
    // changes. Non-integral ids (string/UUID labels) can't be summed —
    // under ANSI the decimal cast THROWS mid-job, and with ANSI off it
    // nulls out to a constant ZERO that declares convergence after one
    // round, silently splitting clusters — so their potential is the
    // sum of 64-bit label hashes: not monotone, but any label-vector
    // change moves it except under a 2⁻⁶⁴-scale hash-sum collision.
    val labelPotential: Column =
      if (integralId) sum(col("label").cast("decimal(38,0)"))
      else sum(xxhash64(col("label").cast("string")).cast("decimal(38,0)"))
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(labelPotential).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // no paired nodes at all
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("label").as("nbr_label"))
      val next0 = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // periodic lineage truncation — and the cadence matters more than
      // it looks: `labels` appears TWICE per iteration (nbrMin and the
      // left join), so the LOGICAL plan Catalyst re-analyzes per round
      // doubles each iteration even though execution hits the caches.
      // Measured on a 17-round graph: per-round driver time 0.8 s →
      // 4.7 s → 15 s between every-8 checkpoints; every-4 keeps the
      // tree small enough that analysis stays ~constant.
      val next = (if (iter % 4 == 3) next0.localCheckpoint() else next0).cache()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist()
      labels = next
      iter += 1
    }
    if (!converged)
      // label propagation moves one hop per round: a component whose
      // diameter exceeds maxIter comes back UNCONVERGED — mid-chain
      // nodes keep intermediate labels and clusters split incorrectly.
      // Surfaced loudly rather than silently mislabeled (found by the
      // star-CC equivalence spec on a 60-hop chain vs the default 20).
      System.err.println(
        s"[graft] connectedComponents hit maxIter=$maxIter before convergence — " +
          "labels are NOT a fixed point; raise maxIter or use connectedComponentsStar " +
          "(O(log n) rounds, diameter-independent)")
    // singletons rejoin with their own id as the cluster label; the
    // paired-node set (the duplicate fraction) broadcasts WHEN IT FITS
    // — so the full corpus never shuffles just to learn which rows
    // were untouched — and falls back to a shuffled anti-join when the
    // dup set outgrows the bound (stats-gated like every other
    // corpus-growing broadcast after the r12 1000×-tier OOM)
    val singletons = nodes.select(col(idCol).as("id"))
      .join(broadcastIfFits(pairedNodes), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    val out = labels.unionByName(singletons)
      .select(col("id").as(idCol), col("label").as("cluster_id"))
    edges.unpersist()
    p.unpersist()
    out
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — same labels as [[connectedComponents]]
    * (every node → smallest reachable id) but convergence in
    * O(log n) rounds instead of O(graph diameter): min-label
    * propagation moves labels ONE HOP per shuffle round, so a
    * 10,000-hop chain — which near-dup graphs over continuous
    * similarity thresholds do produce — costs 10,000 rounds; star
    * contraction halves component heights every round. This is the
    * CC to reach for when the component shape is unknown at 100 TB;
    * min-label stays preferable for known-shallow graphs (fewer
    * shuffles per round).
    *
    * Each round: large-star (every node's strictly-larger neighbors
    * link to its minimum) then small-star (the ≤-neighbors do) — both
    * one groupBy(min) + one equi-join + distinct over the edge set,
    * all partitioned by node id. Convergence is the same scalar trick
    * as min-label CC: the sum of edge endpoints strictly decreases
    * while anything moves (links only ever point to smaller ids).
    */
  def connectedComponentsStar(nodes: DataFrame, idCol: String,
                              pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 50,
                              smallGraphEdges: Long = 200000L): DataFrame = {
    // The convergence potential sums endpoints cast to decimal(38,0);
    // a non-numeric id would cast to null, making the potential a
    // constant ZERO — convergence could then be declared while edges
    // still change, silently mislabeling. Fail loudly instead:
    // callers with string ids should hash to long (xxhash64) first.
    Seq(idCol -> nodes.schema(idCol).dataType,
        aCol -> pairs.schema(aCol).dataType,
        bCol -> pairs.schema(bCol).dataType).foreach { case (c, t) =>
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"connectedComponentsStar needs numeric ids; column '$c' is $t — " +
          "hash ids to long (xxhash64) before calling")
    }
    // the SAME adaptive small-graph path as [[connectedComponents]]
    // (see the comment there): labels are smallest-reachable-id under
    // BOTH algorithms (StarCcSpec pins star ≡ min-label), so once the
    // pair graph fits on the driver the union-find answer is identical
    // and skips log(n) contraction rounds of per-round job overhead —
    // r14 measured gr_components_star spending ~2.5 s contracting an
    // 18-edge nation graph. Distributed contraction remains the plan
    // whenever the edge count clears the threshold.
    locally {
      val p0 = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .filter(GraphOps.bothEnds("a", "b")).cache()
      val idType = nodes.schema(idCol).dataType
      if (GraphOps.integralIds(idType) && GraphOps.fitsOnDriver(p0, smallGraphEdges)) {
        val out = driverUnionFindLabels(nodes, idCol, p0, idType)
        p0.unpersist()
        return out
      }
      p0.unpersist()
    }
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    // m(u) = min(N(u) ∪ {u}) over the symmetrized edge set
    def withMin(eSym: DataFrame): DataFrame =
      eSym.join(
        eSym.groupBy("u").agg(min("v").as("nbr_min"))
          .select(col("u"), least(col("u"), col("nbr_min")).as("m")),
        "u")
    def largeStar(e: DataFrame): DataFrame = {
      val j = withMin(sym(e))
      j.filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(j.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge large→small first (small-star operates on
      // the parent forest where v ≤ u)
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val j = withMin(oriented)
      j.select(col("v"), col("m")).toDF("u", "v")
        .union(j.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    // endpoints only ever move to smaller ids, so (sum, count) is a
    // strictly-decreasing potential while anything changes — one
    // scalar-pair aggregate per round, no self-join diff
    def edgeStat(e: DataFrame): (java.math.BigDecimal, Long) = {
      val row = e.agg(
        sum(col("u").cast("decimal(38,0)") + col("v").cast("decimal(38,0)")),
        count(lit(1))).head()
      (Option(row.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO), row.getLong(1))
    }

    var edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v")).distinct().cache()
    val pairedNodes = sym(edges).select(col("u").as("id")).distinct().localCheckpoint()
    var prev = edgeStat(edges)
    var iter = 0
    var converged = prev._2 == 0L
    while (!converged && iter < maxIter) {
      // checkpoint EVERY phase: a star phase references its input ~4×
      // (sym doubles it, the min-map join doubles again), so an
      // untruncated round multiplies the logical tree ~32× — two
      // uncheckpointed rounds already cost seconds of re-analysis AND
      // redundant re-execution per round (measured 21 s for a
      // 7-edge graph with every-2-rounds truncation; ~1 s with this)
      val ls = largeStar(edges).localCheckpoint()
      val next = smallStar(ls).localCheckpoint()
      ls.unpersist(blocking = false)
      val s = edgeStat(next)
      converged = s._1.compareTo(prev._1) == 0 && s._2 == prev._2
      prev = s
      edges.unpersist(blocking = false)
      edges = next
      iter += 1
    }
    // after convergence every edge is (node, component-min); nodes that
    // ARE their component's min have no outgoing edge — label themselves
    val labels = edges.select(col("u").as("id"), col("v").as("label"))
      .groupBy("id").agg(min("label").as("label"))
    val mins = pairedNodes.join(labels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    val singletons = nodes.select(col(idCol).as("id"))
      .join(broadcastIfFits(pairedNodes), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    // the final `edges` cache stays live — the returned plan reads the
    // converged edge set THROUGH it, and unpersisting here would force
    // the caller's first action to replay the whole contraction loop
    // (and the upstream edge build) from scratch
    labels.unionByName(mins).unionByName(singletons)
      .select(col("id").as(idCol), col("label").as("cluster_id"))
  }

  /** MERGE-style upsert resolved relationally (the batch equivalent of
    * `MERGE INTO`): one full-outer join on the key —
    *  - matched → source values win column-wise (null source values
    *    fall back to target's: null-safe update),
    *  - target-only → kept as-is,
    *  - source-only → inserted;
    * tagged with an `action` column so the write side can audit. At
    * scale this is one key exchange of each side; with both tables
    * bucketed on the key ([[graft.io.CatalogOps.saveAsBucketedTable]])
    * it plans zero exchanges.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, keyCol: String,
                  valueCols: Seq[String]): DataFrame = {
    val t = target.select((keyCol +: valueCols).map(col): _*)
    val s = source.select((keyCol +: valueCols).map(col): _*)
    t.as("t").join(s.as("s"), col(s"t.$keyCol") === col(s"s.$keyCol"), "full_outer")
      .select(
        coalesce(col(s"s.$keyCol"), col(s"t.$keyCol")).as(keyCol) +:
          valueCols.map(c => coalesce(col(s"s.$c"), col(s"t.$c")).as(c)) :+
          when(col(s"t.$keyCol").isNull, "inserted")
            .when(col(s"s.$keyCol").isNull, "kept")
            .otherwise("updated").as("action"): _*)
  }

  /** CDC apply — [[mergeUpsert]] extended with DELETE semantics: the
    * source carries an op column ('D' deletes the key, anything else
    * upserts). One full-outer key join; a matched delete drops the
    * joined row (removing the target row), an unmatched delete is a
    * no-op. Same bucketed-zero-exchange property as mergeUpsert.
    */
  def mergeApplyCdc(target: DataFrame, source: DataFrame, keyCol: String,
                    valueCols: Seq[String], opCol: String): DataFrame = {
    val t = target.select((keyCol +: valueCols).map(col): _*)
    val s = source.select((keyCol +: opCol +: valueCols).map(col): _*)
    t.as("t").join(s.as("s"), col(s"t.$keyCol") === col(s"s.$keyCol"), "full_outer")
      .filter(col(s"s.$opCol").isNull || col(s"s.$opCol") =!= "D")
      .select(
        coalesce(col(s"s.$keyCol"), col(s"t.$keyCol")).as(keyCol) +:
          valueCols.map(c => coalesce(col(s"s.$c"), col(s"t.$c")).as(c)) :+
          when(col(s"t.$keyCol").isNull, "inserted")
            .when(col(s"s.$keyCol").isNull, "kept")
            .otherwise("updated").as("action"): _*)
  }

  /** Range (interval) join: left rows whose `tsCol` falls inside a
    * right-side `[loCol, hiCol]` interval (inclusive). A naive
    * non-equi join plans BroadcastNestedLoopJoin — O(|L|·|R|) with no
    * shuffle key. This decomposes the range predicate into an
    * EQUI-join on coarse time buckets: each interval explodes to the
    * buckets it covers (⌈span/bucket⌉ rows), each left row maps to
    * its single bucket, the bucket equi-join shuffles both sides by
    * bucket, and the exact BETWEEN filter runs on co-located
    * candidates only. Each (row, interval) pair meets in exactly one
    * bucket — the left row's — so no dedup pass is needed.
    *
    * Pick `bucketSeconds` ≈ the typical interval span: candidates per
    * row ≈ intervals overlapping its bucket, and the explode factor
    * stays ~2-3×. Both sides stream through one hash exchange — the
    * shape that survives two large inputs, where broadcast can't.
    */
  def rangeJoinBucketed(left: DataFrame, tsCol: String,
                        right: DataFrame, loCol: String, hiCol: String,
                        bucketSeconds: Long): DataFrame = {
    val lb = left.withColumn("__bucket",
      floor(unix_timestamp(col(tsCol)) / bucketSeconds).cast("long"))
    // inverted intervals match nothing under BETWEEN; drop them BEFORE
    // sequence(), which would silently generate a DESCENDING range
    val rb = right.filter(col(loCol) <= col(hiCol)).withColumn("__bucket",
      explode(sequence(
        floor(unix_timestamp(col(loCol)) / bucketSeconds).cast("long"),
        floor(unix_timestamp(col(hiCol)) / bucketSeconds).cast("long"))))
    lb.join(rb, Seq("__bucket"))
      .filter(col(tsCol) >= col(loCol) && col(tsCol) <= col(hiCol))
      .drop("__bucket")
  }

  /** Interval × interval overlap join, decomposed into a bucket
    * equi-join (the interval sibling of [[rangeJoinBucketed]]; no
    * BroadcastNestedLoopJoin at any size).
    *
    * Unlike the point-in-interval case, an overlapping pair can share
    * MANY buckets; instead of a dedup pass, each pair is kept only in
    * the FIRST bucket both intervals cover —
    * `max(floor(aLo/bs), floor(bLo/bs))` — which any overlapping pair
    * shares exactly once (the later-starting interval's first bucket:
    * its start is ≤ the other's end, so the other interval covers that
    * bucket too). Column names must be disjoint across the two inputs.
    *
    * Scale: the shuffle key is the bucket id; per-row fan-out is
    * interval-length/bucketSeconds (bounded by construction for
    * sessions/incident windows); the overlap predicate and the
    * first-bucket filter run post-join as codegen'd comparisons.
    */
  def intervalOverlapJoinBucketed(a: DataFrame, aLo: String, aHi: String,
                                  b: DataFrame, bLo: String, bHi: String,
                                  bucketSeconds: Long): DataFrame = {
    def buckets(lo: String, hi: String) = sequence(
      floor(unix_timestamp(col(lo)) / bucketSeconds).cast("long"),
      floor(unix_timestamp(col(hi)) / bucketSeconds).cast("long"))
    val ab = a.filter(col(aLo) <= col(aHi))
      .withColumn("__bucket", explode(buckets(aLo, aHi)))
    val bb = b.filter(col(bLo) <= col(bHi))
      .withColumn("__bucket", explode(buckets(bLo, bHi)))
    ab.join(bb, Seq("__bucket"))
      .filter(col(aLo) <= col(bHi) && col(bLo) <= col(aHi))
      .filter(col("__bucket") === greatest(
        floor(unix_timestamp(col(aLo)) / bucketSeconds).cast("long"),
        floor(unix_timestamp(col(bLo)) / bucketSeconds).cast("long")))
      .drop("__bucket")
  }

  /** 2-D Pareto front (skyline): rows NOT dominated under (minimize
    * `minCol`, maximize `maxCol`). `a` dominates `b` iff
    * `a.min ≤ b.min ∧ a.max ≥ b.max` with at least one strict — the
    * naive form is an O(n²) NOT EXISTS anti-join; this computes the
    * identical set with one small aggregate + two ordered passes:
    * per `minCol` LEVEL keep the best `maxCol` (`__ms`), take the
    * running max of `__ms` over STRICTLY lower levels (`__m1` —
    * rows-frame over the level table, so ties in `minCol` stay out of
    * their own frame), then a row survives iff no lower level reaches
    * its `maxCol` (`__m1 < max`) and its own level doesn't strictly
    * beat it (`__ms ≤ max`). All comparisons, no floating arithmetic.
    *
    * The ordered window runs over the LEVEL table (distinct objective
    * values), not the data — bucket/round the objectives first if
    * they're near-unique at scale.
    */
  def paretoFront2D(df: DataFrame, minCol: String, maxCol: String): DataFrame = {
    val lvl = df.groupBy(minCol).agg(max(col(maxCol)).as("__ms"))
      .withColumn("__m1", max(col("__ms")).over(
        Window.orderBy(col(minCol))
          .rowsBetween(Window.unboundedPreceding, -1)))
    df.join(lvl, Seq(minCol))
      .filter((col("__m1").isNull || col("__m1") < col(maxCol)) &&
        col("__ms") <= col(maxCol))
      .drop("__ms", "__m1")
  }
}
