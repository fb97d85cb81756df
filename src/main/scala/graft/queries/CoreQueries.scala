package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.RelationalOps
import graft.functions.DetRound.{r2, r4, sqlR2, sqlR4}

/** The reference's relational query surface (SURVEY §2.2–§2.8) mapped to
  * the driver's synthetic star schema. Query names carry the §2 op ids
  * they exercise, so coverage is auditable line-by-line.
  *
  * All double outputs go through [[graft.functions.DetRound]] on both
  * engines (see its scaladoc for why `round()` is not portable).
  */
object CoreQueries extends QueryPack {

  // A7/A9 aggregate + group-by (SURVEY §2.4; reference Athena queries
  // doc/architecture.md:374-385). TPC-H-Q1-shaped scan-heavy aggregate.
  q("a1_groupby_agg",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlR2("sum(l_quantity)")} AS sum_qty,
       |  ${sqlR2("sum(l_extendedprice)")} AS sum_base_price,
       |  ${sqlR4("sum(l_extendedprice * (1 - l_discount))")} AS sum_disc_price,
       |  ${sqlR4("avg(l_quantity)")} AS avg_qty,
       |  ${sqlR4("avg(l_extendedprice)")} AS avg_price,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r2(sum("l_quantity")).as("sum_qty"),
        r2(sum("l_extendedprice")).as("sum_base_price"),
        r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        r4(avg("l_quantity")).as("avg_qty"),
        r4(avg("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // P1/P6/P11 projection + cast + alias + range predicate (SURVEY §2.2;
  // reference process_openaq_raw.py:179-185). Filter + projection both
  // push to the parquet scan.
  q("p1_select_cast_filter",
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(l_partkey AS VARCHAR) AS part_id,
       |  ${sqlR4("l_extendedprice * (1 - l_discount)")} AS net_price
       |FROM lineitem
       |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
       |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey").cast("string").as("part_id"),
        r4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // J1 broadcast dim join + A9 multi-key group-by + O1 order (SURVEY
  // §2.3/§2.4; reference process_openaq_raw.py:188-192). nation/region
  // are tiny dims → explicit broadcast; orders↔customer left to AQE.
  q("j1_join_groupby",
    s"""SELECT n_name, r_name,
       |  count(*) AS n_orders,
       |  ${sqlR2("sum(o_totalprice)")} AS revenue
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY n_name, r_name
       |ORDER BY n_name, r_name""".stripMargin) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    val customer = Tables.load(s, dir, "customer")
    val nation = broadcast(Tables.load(s, dir, "nation"))
    val region = broadcast(Tables.load(s, dir, "region"))
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name", "r_name")
      .agg(count(lit(1)).as("n_orders"), r2(sum("o_totalprice")).as("revenue"))
      .orderBy("n_name", "r_name")
  }

  // W1 window row_number dedup with deterministic tie-break (SURVEY
  // §2.5; reference process_openaq_raw.py:129-135, fixed per §7.4-2).
  q("w1_window_dedup",
    """SELECT event_id, ts, user_id, event_type, value
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |               event_type, value FROM events)
      |) WHERE rn = 1
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    RelationalOps.dedupKeepFirst(ev, Seq("user_id", "event_type"),
        Seq(col("ts"), col("event_id")))
      .orderBy("event_id")
  }

  // A1 pivot long→wide with pinned values + mean (SURVEY §2.4; reference
  // process_openaq_raw.py:151-159). Pinned list ⇒ one pass, stable schema.
  q("a1_pivot",
    s"""SELECT user_id,
       |  ${sqlR4("avg(CASE WHEN event_type = 'click' THEN value END)")} AS click,
       |  ${sqlR4("avg(CASE WHEN event_type = 'error' THEN value END)")} AS error,
       |  ${sqlR4("avg(CASE WHEN event_type = 'purchase' THEN value END)")} AS purchase,
       |  ${sqlR4("avg(CASE WHEN event_type = 'signup' THEN value END)")} AS signup,
       |  ${sqlR4("avg(CASE WHEN event_type = 'view' THEN value END)")} AS "view"
       |FROM events
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val wide = RelationalOps.pivotAvg(ev, Seq("user_id"), "event_type",
      PipelineQueries.eventTypes, "value")
    wide.select(col("user_id") +: PipelineQueries.eventTypes.map(c =>
      r4(col(c)).as(c)): _*)
      .orderBy("user_id")
  }

  // A3 single-pass null audit (SURVEY §2.4; process_openaq_raw.py:228-231).
  q("a3_null_audit",
    """SELECT count(CASE WHEN event_id IS NULL THEN 1 END) AS event_id,
      |  count(CASE WHEN ts IS NULL THEN 1 END) AS ts,
      |  count(CASE WHEN user_id IS NULL THEN 1 END) AS user_id,
      |  count(CASE WHEN event_type IS NULL THEN 1 END) AS event_type,
      |  count(CASE WHEN value IS NULL THEN 1 END) AS value
      |FROM events""".stripMargin) { (s, dir) =>
    RelationalOps.nullAudit(Tables.load(s, dir, "events"),
      Seq("event_id", "ts", "user_id", "event_type", "value"))
  }

  // A4/A6 distinct counting (SURVEY §2.4; backfill plan :543). The exact
  // COUNT(DISTINCT) is oracle-checked; approx_count_distinct is the
  // 100TB-scale variant, covered by a spec (not hash-comparable).
  q("a6_count_distinct",
    """SELECT o_orderpriority,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  // A8 SUM(CASE WHEN) coverage counts (SURVEY §2.4; backfill plan
  // :373-381) + F2 date part extraction.
  q("a8_case_when_coverage",
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
      |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
      |  count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_large,
      |  count(*) AS n_total
      |FROM orders
      |GROUP BY 1
      |ORDER BY o_year""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_open"),
        count(when(col("o_totalprice") > 200000, 1)).as("n_large"),
        count(lit(1)).as("n_total"))
      .orderBy("o_year")
  }

  // O1/O2 top-k (SURVEY §2.6; doc/architecture.md:374-385). Ranked on
  // the cent-rounded metric so ordering is FP-stable; Catalyst plans
  // TakeOrderedAndProject (no global sort).
  q("o2_topk",
    s"""SELECT c_custkey, c_name, revenue, n_orders FROM (
       |  SELECT c_custkey, c_name,
       |    ${sqlR2("sum(o_totalprice)")} AS revenue,
       |    count(*) AS n_orders
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY c_custkey, c_name
       |) ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin) { (s, dir) =>
    val agg = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(r2(sum("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
    RelationalOps.topK(agg, 10, col("revenue").desc, col("c_custkey").asc)
  }

  // Semi/anti joins (SURVEY §2.3 "available when needed"): customers
  // without orders (anti) — EXISTS/NOT EXISTS surface.
  q("j3_anti_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "customer")
      .join(Tables.load(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  q("j4_semi_join",
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "customer")
      .join(Tables.load(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  // Set ops (SURVEY §2.7): nations with customers but no suppliers.
  q("set_except",
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      .except(Tables.load(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct())
      .orderBy("nationkey")
  }

  // P8/F8 coalesce-defaulting after an outer join (SURVEY §2.2/§2.8;
  // process_openaq_raw.py:195-198, extract_api.py:416-418).
  q("p8_outer_join_fill",
    s"""SELECT c_custkey, c_name,
       |  CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
       |  ${sqlR2("coalesce(revenue, 0.0)")} AS revenue
       |FROM customer LEFT JOIN (
       |  SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS revenue
       |  FROM orders GROUP BY o_custkey
       |) ON c_custkey = o_custkey
       |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val perCust = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("revenue"))
    Tables.load(s, dir, "customer")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        r2(coalesce(col("revenue"), lit(0.0))).as("revenue"))
      .orderBy("c_custkey")
  }

  // F2/F3/F12 date-part extraction + zero-padding (SURVEY §2.8;
  // process_openaq_raw.py:124-127): the partition-column derivation.
  q("f2_date_parts",
    """SELECT strftime(o_orderdate, '%Y') AS year,
      |  lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') AS month,
      |  lpad(CAST(day(o_orderdate) AS VARCHAR), 2, '0') AS day,
      |  count(*) AS n
      |FROM orders
      |GROUP BY 1, 2, 3
      |ORDER BY year, month, day""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy(
        date_format(col("o_orderdate"), "yyyy").as("year"),
        lpad(month(col("o_orderdate")).cast("string"), 2, "0").as("month"),
        lpad(dayofmonth(col("o_orderdate")).cast("string"), 2, "0").as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("year", "month", "day")
  }

  // F7 lower + strip-punctuation normalization (SURVEY §2.8;
  // extract_api.py:168-179 'PM2.5'→'pm25') + membership filter.
  q("f7_normalize",
    """SELECT lower(regexp_replace(p_type, '\.', '', 'g')) AS norm_type,
      |  p_brand, count(*) AS n
      |FROM part
      |WHERE lower(regexp_replace(p_type, '\.', '', 'g'))
      |      IN ('economy', 'promo', 'standard')
      |GROUP BY 1, 2
      |ORDER BY norm_type, p_brand""".stripMargin) { (s, dir) =>
    val norm = lower(regexp_replace(col("p_type"), "\\.", ""))
    Tables.load(s, dir, "part")
      .filter(norm.isin("economy", "promo", "standard"))
      .groupBy(norm.as("norm_type"), col("p_brand"))
      .agg(count(lit(1)).as("n"))
      .orderBy("norm_type", "p_brand")
  }

  // F10/F11 date arithmetic + BETWEEN window (SURVEY §2.8; activity
  // cutoff etls/openaq_etl.py:137): orders in the 90 days before the
  // last observed order date (relative cutoff computed relationally
  // via a scalar subquery — no driver-side collect).
  q("f10_date_arith",
    s"""SELECT o_orderstatus, count(*) AS n,
       |  ${sqlR4("avg(o_totalprice)")} AS avg_price
       |FROM orders
       |WHERE o_orderdate >= (SELECT max(o_orderdate) - INTERVAL 90 DAY FROM orders)
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    val cutoff = orders.select((max(col("o_orderdate")) - expr("INTERVAL 90 DAYS")).as("cut"))
    orders.join(broadcast(cutoff))
      .filter(col("o_orderdate") >= col("cut"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), r4(avg("o_totalprice")).as("avg_price"))
      .orderBy("o_orderstatus")
  }

  // Streaming-semantics-in-batch: tumbling hourly window aggregation
  // (SURVEY §2.9). date_trunc is the batch twin of window(ts, '1 hour').
  q("t1_tumbling_hourly",
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |  event_type, count(*) AS n, ${sqlR4("avg(value)")} AS avg_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), r4(avg("value")).as("avg_value"))
      .orderBy("hour", "event_type")
  }

  // T2 — HOPPING (sliding) windows, batch twin of
  // window(ts, '1 hour', '30 minutes'): each event lands in exactly
  // two overlapping hour windows on the 30-min grid. The oracle
  // expands the two memberships explicitly (UNION ALL of the two
  // slide offsets) — same multiset, no window() builtin needed.
  q("t2_hopping",
    s"""WITH g AS (
       |  SELECT event_type,
       |    to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800 AS BIGINT)) AS slot,
       |    value
       |  FROM events),
       |w AS (
       |  SELECT event_type, slot AS wstart, value FROM g
       |  UNION ALL
       |  SELECT event_type, slot - INTERVAL 30 MINUTE, value FROM g)
       |SELECT event_type, CAST(wstart AS TIMESTAMP) AS window_start,
       |  count(*) AS n, ${sqlR4("avg(value)")} AS avg_value
       |FROM w GROUP BY 1, 2
       |ORDER BY event_type, window_start""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(col("event_type"),
        window(col("ts"), "1 hour", "30 minutes")
          .getField("start").as("window_start"))
      .agg(count(lit(1)).as("n"), r4(avg("value")).as("avg_value"))
      .orderBy("event_type", "window_start")
  }

  // W2 — analytic windows beyond the reference's row_number (SURVEY
  // §2.5 "available in Spark when needed"): lag/lead + running frame.
  q("w2_lag_lead_frame",
    s"""SELECT event_id, user_id,
       |  lag(value) OVER w AS prev_value,
       |  lead(value) OVER w AS next_value,
       |  ${sqlR4("sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS running_sum
       |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .select(col("event_id"), col("user_id"),
        lag("value", 1).over(w).as("prev_value"),
        lead("value", 1).over(w).as("next_value"),
        r4(sum("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .as("running_sum"))
      .orderBy("event_id")
  }

  // W3 — ranking family: rank/dense_rank over a metric per group.
  q("w3_rank",
    """SELECT event_id, event_type,
      |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        // long, matching DuckDB's BIGINT rank outputs
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
      .orderBy("event_id")
  }

  // F16 — string-function family: split_part / upper / reverse /
  // replace / strpos, one codegen'd projection.
  q("f16_string_funcs",
    """SELECT p_partkey,
      |  split_part(p_name, ' ', 1) AS first_word,
      |  upper(p_brand) AS brand_uc,
      |  reverse(p_type) AS type_rev,
      |  replace(p_name, ' ', '_') AS name_snake,
      |  CAST(strpos(p_name, 'o') AS INTEGER) AS first_o
      |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "part")
      .select(col("p_partkey"),
        split_part(col("p_name"), lit(" "), lit(1)).as("first_word"),
        upper(col("p_brand")).as("brand_uc"),
        reverse(col("p_type")).as("type_rev"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        instr(col("p_name"), "o").cast("int").as("first_o"))
      .orderBy("p_partkey")
  }

  // F17 — regex family: extract / count / match as one codegen'd
  // projection. Patterns stay in the class-and-anchor subset that
  // Java regex (Spark) and RE2-style engines (DuckDB) interpret
  // identically — the portability rule for cross-engine regex.
  q("f17_regex_extract",
    """SELECT p_partkey,
      |  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels,
      |  CASE WHEN regexp_matches(p_name, '^a') THEN 1 ELSE 0 END AS starts_a
      |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "part")
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_count(col("p_name"), lit("[aeiou]")).cast("int").as("n_vowels"),
        when(col("p_name").rlike("^a"), 1).otherwise(0).as("starts_a"))
      .orderBy("p_partkey")
  }

  // GEO — haversine distance (the reference's station-coordinate
  // domain; synthetic tables carry no coords, so deterministic
  // pseudo-coordinates derive from the key — identical integer
  // arithmetic on both engines). 4dp rounding absorbs libm-vs-JVM
  // trig ulp differences.
  q("geo_distance",
    s"""WITH pts AS (
      |  SELECT c_custkey,
      |    (c_custkey % 18000) / 100.0 - 90.0 AS lat,
      |    ((c_custkey * 7) % 36000) / 100.0 - 180.0 AS lon
      |  FROM customer)
      |SELECT c_custkey,
      |  ${sqlR4("""2 * 6371.0088 * asin(sqrt(
      |    pow(sin(radians(21.03 - lat) / 2), 2) +
      |    cos(radians(lat)) * cos(radians(21.03)) *
      |    pow(sin(radians(105.85 - lon) / 2), 2)))""")} AS dist_km
      |FROM pts ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    import graft.functions.GeoFunctions
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"),
        ((col("c_custkey") % 18000) / 100.0 - 90.0).as("lat"),
        ((col("c_custkey") * 7 % 36000) / 100.0 - 180.0).as("lon"))
      .select(col("c_custkey"),
        r4(GeoFunctions.haversineKm(col("lat"), col("lon"),
          lit(21.03), lit(105.85))).as("dist_km"))
      .orderBy("c_custkey")
  }

  // J11 — spatial radius join via grid bucketing: customers ⋈
  // suppliers within 200 km, found through an equi-join on 4° grid
  // cells (3×3 neighbor probe; |lat| ≤ 60 keeps a lon degree ≥ 55 km
  // so the cells cover the radius). The oracle is the brute-force
  // cross join with the same haversine — identical trig on both
  // engines, raw-threshold compare (ulp drift at exactly 200 km is
  // ~1e-13 relative; far safer than a rounded-boundary compare).
  q("j11_spatial_join",
    s"""WITH c AS (
      |  SELECT c_custkey,
      |    (c_custkey * 37 % 12000) / 100.0 - 60.0 AS clat,
      |    (c_custkey * 101 % 36000) / 100.0 - 180.0 AS clon
      |  FROM customer WHERE c_custkey < 500),
      |sup AS (
      |  SELECT s_suppkey,
      |    (s_suppkey * 37 % 12000) / 100.0 - 60.0 AS slat,
      |    (s_suppkey * 101 % 36000) / 100.0 - 180.0 AS slon
      |  FROM supplier),
      |j AS (
      |  SELECT c_custkey, s_suppkey,
      |    2 * 6371.0088 * asin(sqrt(
      |      pow(sin(radians(slat - clat) / 2), 2) +
      |      cos(radians(clat)) * cos(radians(slat)) *
      |      pow(sin(radians(slon - clon) / 2), 2))) AS d
      |  FROM c JOIN sup ON true)
      |SELECT c_custkey, s_suppkey, ${sqlR4("d")} AS dist_km
      |FROM j WHERE d <= 2000.0
      |ORDER BY c_custkey, s_suppkey""".stripMargin) { (s, dir) =>
    import graft.functions.GeoFunctions
    val cust = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") < 500)
      .select(col("c_custkey"),
        ((col("c_custkey") * 37 % 12000) / 100.0 - 60.0).as("clat"),
        ((col("c_custkey") * 101 % 36000) / 100.0 - 180.0).as("clon"))
    val supp = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey"),
        ((col("s_suppkey") * 37 % 12000) / 100.0 - 60.0).as("slat"),
        ((col("s_suppkey") * 101 % 36000) / 100.0 - 180.0).as("slon"))
    // derivation bounds |lat| < 60 ⇒ a lon degree is ≥ 55.66 km, so
    // 2000 km spans ≤ 35.9° — cellDeg 40 with the 3×3 probe covers it
    GeoFunctions.withinRadiusGridJoin(cust, "clat", "clon",
        supp, "slat", "slon", radiusKm = 2000.0, cellDeg = 40.0)
      .select(col("c_custkey"), col("s_suppkey"),
        r4(GeoFunctions.haversineKm(col("clat"), col("clon"),
          col("slat"), col("slon"))).as("dist_km"))
      .orderBy("c_custkey", "s_suppkey")
  }

  // J12 — point-in-polygon join (geofencing): customers' derived
  // points matched to 6 hexagonal fences. Candidates come from a grid
  // equi-join on the polygons' bounding-box CELLS (driver-side
  // constant list — polygons are a broadcast dim, cells are integers);
  // the verify is the convex cross-product test: a point is inside a
  // CCW polygon iff every edge's cross product is ≥ 0. Multiply-and-
  // subtract only — no division, no trig at query time — so both
  // engines compute bit-identical signs. The vertex constants are
  // generated ONCE in Scala and printed into BOTH the Column chain and
  // the oracle SQL (the AQI-oracle technique); the oracle itself runs
  // the naive polygons × points cross join.
  private val GeoFencePolys: Seq[(Int, IndexedSeq[(Double, Double)])] =
    (0 until 6).map { k =>
      val cx = 30.0 + (k * 35 % 140)
      val cy = 25.0 + (k * 53 % 140)
      (k, (0 until 6).map { i =>
        val a = math.Pi / 3 * i + 0.3
        (cx + 18 * math.cos(a), cy + 18 * math.sin(a))
      })
    }
  private val GeoFenceEdges: Seq[(Int, Double, Double, Double, Double)] =
    GeoFencePolys.flatMap { case (id, vs) =>
      vs.indices.map { i =>
        val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.size)
        (id, x1, y1, x2, y2)
      }
    }
  private val GeoFenceCells: Seq[(Int, Long, Long)] =
    GeoFencePolys.flatMap { case (id, vs) =>
      val cs = for {
        cx <- math.floor(vs.map(_._1).min / 20).toLong to
              math.floor(vs.map(_._1).max / 20).toLong
        cy <- math.floor(vs.map(_._2).min / 20).toLong to
              math.floor(vs.map(_._2).max / 20).toLong
      } yield (id, cx, cy)
      cs
    }

  q("j12_point_in_polygon", {
    val edgeValues = GeoFenceEdges.map { case (id, x1, y1, x2, y2) =>
      f"($id, $x1%.17g, $y1%.17g, $x2%.17g, $y2%.17g)"
    }.mkString(",\n      |    ")
    s"""WITH pts AS (
      |  SELECT c_custkey,
      |    (c_custkey * 37 % 2000) / 10.0 AS px,
      |    (c_custkey * 101 % 2000) / 10.0 AS py
      |  FROM customer),
      |edges(poly_id, x1, y1, x2, y2) AS (VALUES
      |    $edgeValues),
      |cr AS (
      |  SELECT p.c_custkey, e.poly_id,
      |    (e.x2 - e.x1) * (p.py - e.y1) - (e.y2 - e.y1) * (p.px - e.x1) AS c
      |  FROM pts p CROSS JOIN edges e)
      |SELECT c_custkey, poly_id
      |FROM cr GROUP BY c_custkey, poly_id
      |HAVING min(sign(c)) >= 0
      |ORDER BY c_custkey, poly_id""".stripMargin
  }) { (s, dir) =>
    import s.implicits._
    val pts = Tables.load(s, dir, "customer")
      .select(col("c_custkey"),
        ((col("c_custkey") * 37 % 2000) / 10.0).as("px"),
        ((col("c_custkey") * 101 % 2000) / 10.0).as("py"))
      .withColumn("cx_cell", floor(col("px") / 20).cast("long"))
      .withColumn("cy_cell", floor(col("py") / 20).cast("long"))
    val cells = GeoFenceCells.toDF("poly_id", "cx_cell", "cy_cell")
    val edges = GeoFenceEdges.toDF("poly_id", "x1", "y1", "x2", "y2")
    pts.join(broadcast(cells), Seq("cx_cell", "cy_cell"))
      .join(broadcast(edges), "poly_id")
      .withColumn("c",
        (col("x2") - col("x1")) * (col("py") - col("y1")) -
        (col("y2") - col("y1")) * (col("px") - col("x1")))
      .groupBy("c_custkey", "poly_id")
      .agg(min(signum(col("c"))).as("mn"))
      .filter(col("mn") >= 0)
      .select("c_custkey", "poly_id")
      .orderBy("c_custkey", "poly_id")
  }

  // J13 — point-in-CONCAVE-polygon (even-odd ray cast): star-shaped
  // fences (alternating radii — genuinely concave, the convex
  // cross-sign test of j12 is wrong for these). The horizontal-ray
  // crossing test is restructured to CROSS-MULTIPLICATION so no
  // division reaches the data path: edge straddles the ray iff
  // (y1 > py) ≠ (y2 > py), and the intersection lies right of the
  // point iff cross = (x2−x1)(py−y1) − (px−x1)(y2−y1) has the sign of
  // (y2−y1). Crossings counted per (point, polygon); odd parity =
  // inside. Bit-exact cross-engine (multiply/subtract only); same
  // Scala-generated vertex constants on both sides; naive oracle.
  private val StarFencePolys: Seq[(Int, IndexedSeq[(Double, Double)])] =
    (0 until 4).map { k =>
      val cx = 40.0 + (k * 45 % 120)
      val cy = 35.0 + (k * 71 % 120)
      (k, (0 until 10).map { i =>
        val a = math.Pi / 5 * i + 0.2
        val r = if (i % 2 == 0) 24.0 else 9.0 // star: concave notches
        (cx + r * math.cos(a), cy + r * math.sin(a))
      })
    }
  private val StarFenceEdges: Seq[(Int, Double, Double, Double, Double)] =
    StarFencePolys.flatMap { case (id, vs) =>
      vs.indices.map { i =>
        val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.size)
        (id, x1, y1, x2, y2)
      }
    }
  private val StarFenceCells: Seq[(Int, Long, Long)] =
    StarFencePolys.flatMap { case (id, vs) =>
      val cs = for {
        cx <- math.floor(vs.map(_._1).min / 20).toLong to
              math.floor(vs.map(_._1).max / 20).toLong
        cy <- math.floor(vs.map(_._2).min / 20).toLong to
              math.floor(vs.map(_._2).max / 20).toLong
      } yield (id, cx, cy)
      cs
    }

  q("j13_point_in_concave", {
    val edgeValues = StarFenceEdges.map { case (id, x1, y1, x2, y2) =>
      f"($id, $x1%.17g, $y1%.17g, $x2%.17g, $y2%.17g)"
    }.mkString(",\n      |    ")
    s"""WITH pts AS (
      |  SELECT c_custkey,
      |    (c_custkey * 37 % 2000) / 10.0 AS px,
      |    (c_custkey * 101 % 2000) / 10.0 AS py
      |  FROM customer),
      |edges(poly_id, x1, y1, x2, y2) AS (VALUES
      |    $edgeValues),
      |hits AS (
      |  SELECT p.c_custkey, e.poly_id,
      |    CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
      |      AND (CASE WHEN e.y2 > e.y1
      |        THEN (e.x2 - e.x1) * (p.py - e.y1) - (p.px - e.x1) * (e.y2 - e.y1) > 0
      |        ELSE (e.x2 - e.x1) * (p.py - e.y1) - (p.px - e.x1) * (e.y2 - e.y1) < 0
      |      END)
      |    THEN 1 ELSE 0 END AS crossed
      |  FROM pts p CROSS JOIN edges e)
      |SELECT c_custkey, poly_id
      |FROM hits GROUP BY c_custkey, poly_id
      |HAVING sum(crossed) % 2 = 1
      |ORDER BY c_custkey, poly_id""".stripMargin
  }) { (s, dir) =>
    import s.implicits._
    val pts = Tables.load(s, dir, "customer")
      .select(col("c_custkey"),
        ((col("c_custkey") * 37 % 2000) / 10.0).as("px"),
        ((col("c_custkey") * 101 % 2000) / 10.0).as("py"))
      .withColumn("cx_cell", floor(col("px") / 20).cast("long"))
      .withColumn("cy_cell", floor(col("py") / 20).cast("long"))
    val cells = StarFenceCells.toDF("poly_id", "cx_cell", "cy_cell")
    val edges = StarFenceEdges.toDF("poly_id", "x1", "y1", "x2", "y2")
    val cross = (col("x2") - col("x1")) * (col("py") - col("y1")) -
      (col("px") - col("x1")) * (col("y2") - col("y1"))
    pts.join(broadcast(cells), Seq("cx_cell", "cy_cell"))
      .join(broadcast(edges), "poly_id")
      .withColumn("crossed",
        when((col("y1") > col("py")) =!= (col("y2") > col("py")) &&
          when(col("y2") > col("y1"), cross > 0).otherwise(cross < 0),
          lit(1)).otherwise(lit(0)))
      .groupBy("c_custkey", "poly_id")
      .agg(sum("crossed").as("n_crossed"))
      .filter(col("n_crossed") % 2 === 1)
      .select("c_custkey", "poly_id")
      .orderBy("c_custkey", "poly_id")
  }

  // P13 — correlated EXISTS / NOT EXISTS subqueries (Catalyst
  // rewrites to left-semi + left-anti joins; see the plan).
  q("p13_exists_subquery",
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM events e
      |              WHERE e.user_id = c.c_custkey AND e.event_type = 'purchase')
      |  AND NOT EXISTS (SELECT 1 FROM events e2
      |                  WHERE e2.user_id = c.c_custkey
      |                    AND e2.event_type = 'error' AND e2.value > 90)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql("""SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM events e
      |              WHERE e.user_id = c.c_custkey AND e.event_type = 'purchase')
      |  AND NOT EXISTS (SELECT 1 FROM events e2
      |                  WHERE e2.user_id = c.c_custkey
      |                    AND e2.event_type = 'error' AND e2.value > 90)
      |ORDER BY c_custkey""".stripMargin)
  }

  // P14 — correlated SCALAR subquery in SELECT (Catalyst rewrites to
  // a left-outer aggregate join; the third subquery-planning family
  // after IN (p12) and EXISTS (p13)).
  q("p14_scalar_subquery",
    s"""SELECT c_custkey, c_mktsegment,
      |  (SELECT ${sqlR2("max(o_totalprice)")} FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS max_order
      |FROM customer c
      |WHERE c_custkey <= 200
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql(s"""SELECT c_custkey, c_mktsegment,
      |  (SELECT ${sqlR2("max(o_totalprice)")} FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS max_order
      |FROM customer c
      |WHERE c_custkey <= 200
      |ORDER BY c_custkey""".stripMargin)
  }

  // O3b — top-n per group: rank ≤ 3 by value inside each event_type
  // (the window top-k; global top-k is o2's TakeOrderedAndProject).
  q("o3_topn_per_group",
    """SELECT event_id, event_type, value, rnk FROM (
      |  SELECT event_id, event_type, value,
      |    rank() OVER (PARTITION BY event_type
      |                 ORDER BY value DESC, event_id) AS rnk
      |  FROM events)
      |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        rank().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy("event_type", "rnk")
  }

  // O3b — the same top-n-per-group answer through the CUSTOM PHYSICAL
  // OPERATOR (graftx.TopKPerGroup → TopKPerGroupExec): bounded
  // k-element heaps instead of the window formulation's full
  // per-group sort; partial stage caps shuffle volume at k rows per
  // (group, partition). Strict row_number semantics (total order via
  // the event_id tie-break). Plan shape asserted in TopKPerGroupSpec.
  q("o3b_topn_heap",
    """SELECT event_id, event_type, value FROM (
      |  SELECT event_id, event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id) AS rn
      |  FROM events)
      |WHERE rn <= 3 ORDER BY event_type, value DESC, event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.graftx.GraftPlans
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "event_type", "value")
    GraftPlans.topKPerGroup(ev,
      groupCols = Seq("event_type"),
      order = Seq("value" -> false, "event_id" -> true), k = 3)
      .orderBy(col("event_type"), col("value").desc, col("event_id"))
  }

  // J7 — range (interval) join: per-user 2h windows anchored at the
  // first purchase, counting ALL events (any user) inside each window.
  // Spark side decomposes the non-equi predicate into a bucket
  // equi-join (RelationalOps.rangeJoinBucketed — no BNLJ); the oracle
  // states the plain BETWEEN join.
  q("j7_range_join",
    """WITH iv AS (
      |  SELECT user_id AS iv_user, min(CAST(ts AS TIMESTAMP)) AS lo,
      |    min(CAST(ts AS TIMESTAMP)) + INTERVAL 2 HOUR AS hi
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |j AS (
      |  SELECT iv.iv_user, iv.lo, e.event_id
      |  FROM iv JOIN events e
      |    ON CAST(e.ts AS TIMESTAMP) >= iv.lo
      |   AND CAST(e.ts AS TIMESTAMP) <= iv.hi)
      |SELECT iv_user, strftime(date_trunc('second', lo), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM j GROUP BY 1, 2 ORDER BY iv_user""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    val iv = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("iv_user"))
      .agg(min(col("ts")).as("lo"))
      .withColumn("hi", col("lo") + expr("INTERVAL 2 HOUR"))
    RelationalOps.rangeJoinBucketed(
        events.select("event_id", "ts"), "ts", iv, "lo", "hi",
        bucketSeconds = 3600L)
      .groupBy(col("iv_user"), date_format(col("lo"), "yyyy-MM-dd HH:mm:ss").as("window_start"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("iv_user")
  }

  // J10 — interval × interval overlap join: user sessions (30-min gap,
  // the w4 derivation) against error-incident windows [ts, ts+30min].
  // Spark runs the bucketed decomposition (equi-join on hour buckets,
  // pair kept only in the first shared bucket — no BNLJ, no dedup
  // pass); the oracle is the plain non-equi overlap join. Overlap
  // durations summed in integer µs — no float drift.
  q("j10_interval_overlap",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
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
      |  SELECT user_id, session_seq, min(ts) AS lo_a, max(ts) AS hi_a
      |  FROM s GROUP BY 1, 2),
      |inc AS (
      |  SELECT event_id AS inc_id, CAST(ts AS TIMESTAMP) AS lo_b,
      |    CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS hi_b
      |  FROM events WHERE event_type = 'error'),
      |p AS (
      |  SELECT sess.user_id,
      |    epoch_us(least(hi_a, hi_b)) - epoch_us(greatest(lo_a, lo_b)) AS ov_us
      |  FROM sess JOIN inc ON lo_a <= hi_b AND lo_b <= hi_a)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_overlaps,
      |  CAST(sum(ov_us) AS BIGINT) AS overlap_us
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.load(s, dir, "events")
    val sess = ev.select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("new_s",
        when(lag("ts", 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_seq", sum("new_s").over(wRun))
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("lo_a"), max("ts").as("hi_a"))
    val inc = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("inc_id"), col("ts").as("lo_b"),
        (col("ts") + expr("INTERVAL 30 MINUTE")).as("hi_b"))
    RelationalOps.intervalOverlapJoinBucketed(
        sess, "lo_a", "hi_a", inc, "lo_b", "hi_b", bucketSeconds = 3600L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(unix_micros(least(col("hi_a"), col("hi_b"))) -
          unix_micros(greatest(col("lo_a"), col("lo_b")))).as("overlap_us"))
      .orderBy("user_id")
  }

  // ML feature discretization — quantile binning: per-group exact
  // quartile thresholds (one aggregate, broadcast back) bucket every
  // row 1..4. Integer-valued quantities keep the interpolated
  // thresholds bit-identical across engines (f ∈ {0,.25,.5,.75} and
  // integer endpoints are all exact in binary), so threshold
  // comparisons can't flip.
  q("ml_quantile_bucket",
    """WITH q AS (
      |  SELECT l_returnflag,
      |    quantile_cont(l_quantity, 0.25) AS q1,
      |    quantile_cont(l_quantity, 0.50) AS q2,
      |    quantile_cont(l_quantity, 0.75) AS q3
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag,
      |  CAST(1 + CAST(l.l_quantity > q.q1 AS INT)
      |         + CAST(l.l_quantity > q.q2 AS INT)
      |         + CAST(l.l_quantity > q.q3 AS INT) AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    val qs = li.groupBy("l_returnflag").agg(
      expr("percentile(l_quantity, 0.25)").as("q1"),
      expr("percentile(l_quantity, 0.50)").as("q2"),
      expr("percentile(l_quantity, 0.75)").as("q3"))
    li.join(broadcast(qs), "l_returnflag")
      .withColumn("bucket",
        (lit(1) + (col("l_quantity") > col("q1")).cast("int")
          + (col("l_quantity") > col("q2")).cast("int")
          + (col("l_quantity") > col("q3")).cast("int")).cast("long"))
      .groupBy("l_returnflag", "bucket")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "bucket")
  }

  // ML outlier clamping — winsorized mean at discrete p05/p95. The
  // thresholds are RANK-based (smallest value whose rank clears
  // n/20 resp. 19n/20, integer arithmetic only) rather than
  // interpolated quantiles: arbitrary fractions interpolate in
  // floating point where engines can differ by an ulp, while discrete
  // ranks give the same integer threshold everywhere. Clamping and
  // the mean then run on integers (exact in double), one window pass
  // + broadcast thresholds.
  q("ml_winsorize",
    s"""WITH r AS (
      |  SELECT source, n_chars, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents),
      |b AS (
      |  SELECT source,
      |    min(CASE WHEN rn * 20 >= n THEN n_chars END) AS lo,
      |    min(CASE WHEN rn * 20 >= n * 19 THEN n_chars END) AS hi
      |  FROM r GROUP BY source)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n,
      |  ${sqlR4("avg(least(greatest(d.n_chars, b.lo), b.hi))")} AS wins_mean,
      |  CAST(sum(CASE WHEN d.n_chars < b.lo OR d.n_chars > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      |FROM documents d JOIN b ON d.source = b.source
      |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, dir, "documents")
    val r = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("n_chars", "doc_id")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    val b = r.groupBy("source").agg(
      min(when(col("rn") * 20 >= col("n"), col("n_chars"))).as("lo"),
      min(when(col("rn") * 20 >= col("n") * 19, col("n_chars"))).as("hi"))
    docs.join(broadcast(b), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        r4(avg(least(greatest(col("n_chars"), col("lo")), col("hi")))).as("wins_mean"),
        sum(when(col("n_chars") < col("lo") || col("n_chars") > col("hi"), 1L)
          .otherwise(0L)).as("n_clipped"))
      .orderBy("source")
  }

  // RFM customer segmentation — recency/frequency/monetary quintiles
  // (ntile over total orders per metric) composed into the classic
  // 555-style segment code: the marketing-analytics workhorse. Every
  // ntile ordering ends in the customer key, so quintile boundaries
  // are deterministic; recency ranks by the LATEST order date.
  // Monetary ranks on exact-summable cents (2-decimal prices scaled
  // by 100 into BIGINT) so the rank order itself can't wobble.
  q("cx_rfm",
    """WITH c AS (
      |  SELECT o_custkey,
      |    max(o_orderdate) AS last_order,
      |    count(*) AS freq,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_c
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT o_custkey, last_order, freq, monetary_c,
      |    ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_q,
      |    ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
      |    ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS m_q
      |  FROM c)
      |SELECT CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS segment,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(min(o_custkey) AS BIGINT) AS sample_custkey
      |FROM r GROUP BY 1 ORDER BY segment""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val c = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_order"),
        count(lit(1)).as("freq"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("monetary_c"))
    val r = c
      .withColumn("r_q", ntile(5).over(
        Window.orderBy(col("last_order").desc, col("o_custkey"))))
      .withColumn("f_q", ntile(5).over(
        Window.orderBy(col("freq").desc, col("o_custkey"))))
      .withColumn("m_q", ntile(5).over(
        Window.orderBy(col("monetary_c").desc, col("o_custkey"))))
    r.select((col("r_q") * 100 + col("f_q") * 10 + col("m_q")).cast("long").as("segment"),
        col("o_custkey"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"), min("o_custkey").as("sample_custkey"))
      .orderBy("segment")
  }

  // Weighted median — the 50%-of-total-weight point (discrete form:
  // first value whose running weight clears half the total), e.g.
  // "the price at which half the shipped QUANTITY sits below".
  // Integer weights keep the running and total sums exact, so the
  // crossing row is engine-independent; one window pass + a min per
  // group, no sort beyond the window's.
  q("a20_weighted_median",
    """WITH r AS (
      |  SELECT l_returnflag, l_extendedprice, l_quantity,
      |    sum(CAST(l_quantity AS BIGINT)) OVER (
      |      PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(CAST(l_quantity AS BIGINT)) OVER (
      |      PARTITION BY l_returnflag) AS tw
      |  FROM lineitem)
      |SELECT l_returnflag, min(l_extendedprice) AS w_median_price
      |FROM r WHERE cw * 2 >= tw
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy("l_returnflag")
    val w = part.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        sum(col("l_quantity").cast("long")).over(w).as("cw"),
        sum(col("l_quantity").cast("long")).over(part).as("tw"))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag")
      .agg(min("l_extendedprice").as("w_median_price"))
      .orderBy("l_returnflag")
  }

  // Calendar date spine — generate the gap-free reporting axis
  // (sequence + explode; no table drives it) and left-join the fact
  // side so zero-activity days exist as real rows: the dashboard
  // anti-gap pattern. ISO day-of-week from weekday arithmetic
  // (Spark's dayofweek is Sunday-based — weekday()+1 matches
  // DuckDB's isodow).
  q("f22_date_spine",
    """WITH spine AS (
      |  SELECT CAST(unnest(generate_series(DATE '1996-01-01',
      |    DATE '1996-03-31', INTERVAL 1 DAY)) AS DATE) AS d),
      |o AS (
      |  SELECT o_orderdate AS d, count(*) AS n
      |  FROM orders
      |  WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
      |  GROUP BY 1)
      |SELECT s.d, CAST(EXTRACT(isodow FROM s.d) AS BIGINT) AS dow,
      |  CAST(CASE WHEN EXTRACT(isodow FROM s.d) >= 6 THEN 1 ELSE 0 END AS BIGINT) AS is_weekend,
      |  CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders
      |FROM spine s LEFT JOIN o ON s.d = o.d
      |ORDER BY s.d""".stripMargin) { (s, dir) =>
    val spine = s.range(1)
      .select(explode(expr(
        "sequence(DATE '1996-01-01', DATE '1996-03-31', interval 1 day)")).as("d"))
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate").between("1996-01-01", "1996-03-31"))
      .groupBy(col("o_orderdate").as("d")).agg(count(lit(1)).as("n"))
    spine.join(o, Seq("d"), "left")
      .select(col("d"), (weekday(col("d")) + 1).cast("long").as("dow"),
        when(weekday(col("d")) + 1 >= 6, 1L).otherwise(0L).as("is_weekend"),
        coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy("d")
  }

  // Pareto front (skyline) — non-dominated parts under (cheapest,
  // largest): the multi-objective shortlist query. The oracle states
  // the O(n²) NOT EXISTS definition; the engine computes the same set
  // via level-aggregate + running max (RelationalOps.paretoFront2D) —
  // one shuffle + a window over DISTINCT objective values only.
  q("sk_pareto_front",
    """SELECT b.p_partkey, b.p_retailprice, b.p_size
      |FROM part b
      |WHERE b.p_partkey < 5000 AND NOT EXISTS (
      |  SELECT 1 FROM part a WHERE a.p_partkey < 5000
      |    AND a.p_retailprice <= b.p_retailprice AND a.p_size >= b.p_size
      |    AND (a.p_retailprice < b.p_retailprice OR a.p_size > b.p_size))
      |ORDER BY b.p_partkey""".stripMargin) { (s, dir) =>
    import graft.operators.RelationalOps
    RelationalOps.paretoFront2D(
        Tables.load(s, dir, "part").filter(col("p_partkey") < 5000)
          .select("p_partkey", "p_retailprice", "p_size"),
        "p_retailprice", "p_size")
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy("p_partkey")
  }

  // W3b — distribution family: percent_rank/cume_dist/ntile. The
  // fractions are rank ratios (exact integer divisions), rounded 4dp
  // on both sides anyway per the cross-engine float rule.
  q("w3b_distribution",
    s"""SELECT event_id, event_type,
      |  ${sqlR4("percent_rank() OVER w")} AS pct_rnk,
      |  ${sqlR4("cume_dist() OVER w")} AS cume,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        r4(percent_rank().over(w)).as("pct_rnk"),
        r4(cume_dist().over(w)).as("cume"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("event_id")
  }

  // A12 — dispersion/association aggregates per group: sample stddev,
  // Pearson correlation, sample covariance (co-moment partial aggs on
  // both engines; 4dp absorbs merge-order noise).
  q("a12_dispersion",
    s"""SELECT l_returnflag,
      |  ${sqlR4("stddev_samp(l_quantity)")} AS sd_qty,
      |  ${sqlR4("stddev_samp(l_extendedprice)")} AS sd_price,
      |  ${sqlR4("corr(l_quantity, l_extendedprice)")} AS corr_qty_price,
      |  ${sqlR4("covar_samp(l_quantity, l_discount)")} AS covar_qty_disc
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
        r4(stddev_samp(col("l_extendedprice"))).as("sd_price"),
        r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        r4(covar_samp(col("l_quantity"), col("l_discount"))).as("covar_qty_disc"))
      .orderBy("l_returnflag")
  }

  // W8 — time-based RANGE frame: per user, how many events (and how
  // much value) landed in the TRAILING HOUR before each event — a
  // range over event time, not a row count (w2/w5 cover ROWS frames).
  // Both engines range over epoch seconds, so frame bounds agree
  // exactly.
  q("w8_range_frame",
    s"""SELECT event_id, user_id,
      |  CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
      |  ${sqlR4("sum(value) OVER w")} AS v_trailing_1h
      |FROM (SELECT event_id, user_id, value,
      |        epoch(date_trunc('second', CAST(ts AS TIMESTAMP))) AS es
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY es
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("es")
      .rangeBetween(-3600L, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        unix_timestamp(col("ts")).as("es"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        r4(sum(col("value")).over(w)).as("v_trailing_1h"))
      .orderBy("event_id")
  }

  // A13 — distribution-shape aggregates. Spark reports POPULATION
  // skewness/kurtosis (g1, excess g2); DuckDB reports the SAMPLE
  // versions (G1, G2) — the oracle inverts the bias corrections:
  //   g1 = G1 · (n−2)/√(n(n−1))
  //   g2 = (G2 · (n−2)(n−3)/(n−1) − 6)/(n+1)
  // so both engines describe the same moments before rounding.
  q("a13_shape",
    s"""WITH g AS (
      |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
      |    skewness(l_quantity) AS sk, kurtosis(l_quantity) AS ku
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  ${sqlR4("sk * (n - 2) / sqrt(n * (n - 1))")} AS skew_qty,
      |  ${sqlR4("(ku * (n - 2) * (n - 3) / (n - 1) - 6) / (n + 1)")} AS kurt_qty
      |FROM g ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        r4(skewness(col("l_quantity"))).as("skew_qty"),
        r4(kurtosis(col("l_quantity"))).as("kurt_qty"))
      .orderBy("l_returnflag")
  }

  // A9b — ROLLUP subtotals (beyond the reference surface; Catalyst
  // expands to grouping sets in one pass).
  q("a9_rollup",
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderpriority,
      |  count(*) AS n
      |FROM orders
      |GROUP BY ROLLUP(1, 2)
      |ORDER BY o_year NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .rollup(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_year").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  // A9c — CUBE (engine extra): all 2^k grouping sets in ONE pass.
  // At 100 TB this replaces 4 separate scans+aggregations (by year, by
  // status, by both, grand total) with a single Expand+partial-agg —
  // the scan is the dominant cost and it happens once.
  q("a9_cube",
    s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderstatus,
      |  count(*) AS n, ${sqlR2("sum(o_totalprice)")} AS sum_price
      |FROM orders
      |GROUP BY CUBE(1, 2)
      |ORDER BY o_year NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .cube(year(col("o_orderdate")).as("o_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), r2(sum("o_totalprice")).as("sum_price"))
      .orderBy(col("o_year").asc_nulls_first, col("o_orderstatus").asc_nulls_first)
  }

  // Set ops (SURVEY §2.7): INTERSECT twin of set_except.
  q("set_intersect",
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      .intersect(Tables.load(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct())
      .orderBy("nationkey")
  }

  // A6b — the 100TB-scale distinct-count variant: HLL++ sketch
  // (approx_count_distinct). Sketch internals differ per engine, so
  // the driver-hashed row carries the EXACT count plus a boolean
  // pinning the estimate inside its error bound (rsd 0.05 default;
  // the pin is 3×rsd — HLL on a fixed dataset is deterministic, so a
  // locally-verified margin holds on the driver). The oracle computes
  // the exact count and a literal true.
  q("a6_approx_distinct",
    """SELECT o_orderpriority,
      |  count(DISTINCT o_custkey) AS exact_customers,
      |  true AS within_bound
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("exact_customers"),
        approx_count_distinct("o_custkey").as("__est"))
      .select(col("o_orderpriority"), col("exact_customers"),
        (abs(col("__est") - col("exact_customers")) <=
          col("exact_customers") * lit(0.15)).as("within_bound"))
      .orderBy("o_orderpriority")
  }

  // A6c — our own mergeable sketch aggregate (TypedImperativeAggregate
  // with serialized partial buffers): KMV distinct estimate, k=256 →
  // rsd ≈ 1/√(k−2) ≈ 6.3%; the hashed row pins |est−exact| ≤ 20%
  // (deterministic + partitioning-insensitive per KmvSketchSpec, so
  // the locally-measured margin transfers). Exact column + literal
  // true on the oracle side.
  q("a6_kmv_distinct",
    """SELECT o_orderpriority,
      |  count(DISTINCT o_custkey) AS exact_customers,
      |  true AS within_bound
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("exact_customers"),
        org.apache.spark.sql.graftx.KmvDistinctSketch
          .kmvDistinct(col("o_custkey"), k = 256).as("__est"))
      .select(col("o_orderpriority"), col("exact_customers"),
        (abs(col("__est") - col("exact_customers")) <=
          col("exact_customers") * lit(0.20)).as("within_bound"))
      .orderBy("o_orderpriority")
  }

  // A6d — audience-overlap estimate from MATERIALIZED KMV sketches:
  // per-segment sketches built in one pass, then inclusion–exclusion
  // (|A|+|B|−|A∪B|) over the unioned sketches — the cross-segment
  // overlap question answered from per-segment summaries without ever
  // re-scanning or joining the raw membership sets. Hash-specific
  // estimates → the hashed row carries the EXACT audience sizes plus
  // booleans pinning each estimate in its KMV error envelope
  // (per-segment/union 20% relative; the overlap difference 15% of
  // the union, since it compounds three estimates). Deterministic and
  // partitioning-insensitive (KmvOverlapSpec), so locally-verified
  // margins transfer to the driver.
  q("a6_kmv_overlap",
    """SELECT
      |  count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS exact_click,
      |  count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS exact_purchase,
      |  count(DISTINCT user_id) AS exact_union,
      |  count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
      |    + count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
      |    - count(DISTINCT user_id) AS exact_overlap,
      |  true AS click_ok, true AS purchase_ok, true AS union_ok, true AS overlap_ok
      |FROM events WHERE event_type IN ('click', 'purchase')""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.graftx.KmvDistinctSketch.{kmvDistinct, kmvSketch, kmvUnionEstimate}
    val seg = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
    // k=1024 (rsd ≈ 3.1%): the overlap difference compounds three
    // estimates, so the sketch gets 4× the budget of the single-set
    // query — still 8 KB per segment, nothing at 100 TB
    val est = seg
      .groupBy("event_type")
      .agg(kmvSketch(col("user_id"), k = 1024).as("sk"),
        kmvDistinct(col("user_id"), k = 1024).as("est"))
      .agg(
        max(when(col("event_type") === "click", col("est"))).as("est_click"),
        max(when(col("event_type") === "purchase", col("est"))).as("est_purchase"),
        kmvUnionEstimate(col("sk"), k = 1024).as("est_union"))
      .select(col("est_click"), col("est_purchase"), col("est_union"),
        (col("est_click") + col("est_purchase") - col("est_union")).as("est_overlap"))
    val exact = seg.agg(
      countDistinct(when(col("event_type") === "click", col("user_id"))).as("exact_click"),
      countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("exact_purchase"),
      countDistinct(col("user_id")).as("exact_union"))
      .withColumn("exact_overlap",
        col("exact_click") + col("exact_purchase") - col("exact_union"))
    exact.crossJoin(est).select(
      col("exact_click"), col("exact_purchase"), col("exact_union"), col("exact_overlap"),
      (abs(col("est_click") - col("exact_click")) <= col("exact_click") * lit(0.20)).as("click_ok"),
      (abs(col("est_purchase") - col("exact_purchase")) <= col("exact_purchase") * lit(0.20)).as("purchase_ok"),
      (abs(col("est_union") - col("exact_union")) <= col("exact_union") * lit(0.20)).as("union_ok"),
      (abs(col("est_overlap") - col("exact_overlap")) <= col("exact_union") * lit(0.15)).as("overlap_ok"))
  }

  // A16 — Count-Min-Sketch frequency estimates (completing the sketch
  // family: HLL/KMV distinct, MG heavy hitters, GK quantiles, CMS
  // frequencies). The few-KB mergeable sketch is the only thing that
  // leaves the executors; probe items are estimated against it on the
  // driver — the serve-frequencies-without-a-groupBy pattern.
  // Hash-layout-specific bytes → the hashed row carries the EXACT
  // per-type count plus a boolean pinning the CMS guarantee:
  // exact ≤ est ≤ exact + eps·N (one-sided overcount, eps = 0.001,
  // fixed seed → deterministic on fixed data; CmsFreqSpec proves the
  // envelope under merges). Oracle: exact counts + literal true.
  q("a16_cms_freq",
    """SELECT event_type, count(*) AS exact_count, true AS within_bound
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val bytes = ev
      .select(count_min_sketch(col("event_type"), lit(0.001), lit(0.99), lit(42)).as("sk"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val est = PipelineQueries.eventTypes.map(t => (t, cms.estimateCount(t)))
      .toDF("event_type", "est_count")
    val exact = ev.groupBy("event_type").agg(count(lit(1)).as("exact_count"))
    val total = exact.agg(sum("exact_count").as("__n"))
    exact.join(est, Seq("event_type"))
      .crossJoin(total)
      .select(col("event_type"), col("exact_count"),
        (col("est_count") >= col("exact_count") &&
          col("est_count") <= col("exact_count") + ceil(col("__n") * lit(0.001)))
          .as("within_bound"))
      .orderBy("event_type")
  }

  // J5 — as-of join (engine extra; the classic event-to-dimension-
  // history op): each event picks the customer's latest order at or
  // before the event time. One shuffle (union + carry-forward), no
  // range explosion; oracle = correlated latest-row subquery.
  q("j5_asof_join",
    """SELECT e.event_id, e.user_id,
      |  (SELECT o_orderkey FROM orders
      |   WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
      |   ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) AS last_orderkey,
      |  (SELECT o_orderdate FROM orders
      |   WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
      |   ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) AS last_orderdate
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").select("event_id", "user_id", "ts")
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("last_orderkey", col("o_orderkey"))
      .withColumn("last_orderdate", col("o_orderdate"))
    RelationalOps.asofJoin(ev, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate", rightSeq = "o_orderkey",
        payload = Seq("last_orderkey", "last_orderdate"))
      .select("event_id", "user_id", "last_orderkey", "last_orderdate")
      .orderBy("event_id")
  }

  // J14 — NEAREST-asof join (closest in EITHER direction, tie →
  // backward): j5's bidirectional sibling, the sensor-alignment shape.
  // Same union+window mechanics (one shuffle, two frames over one
  // sort); the oracle states the semantics as four correlated scalar
  // subqueries + a distance CASE, all integer epoch arithmetic.
  q("j14_nearest_asof",
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |c AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    (SELECT o_orderkey FROM orders
      |     WHERE o_custkey = e.user_id AND CAST(o_orderdate AS TIMESTAMP) <= e.ts
      |     ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) AS bk,
      |    (SELECT CAST(o_orderdate AS TIMESTAMP) FROM orders
      |     WHERE o_custkey = e.user_id AND CAST(o_orderdate AS TIMESTAMP) <= e.ts
      |     ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) AS bt,
      |    (SELECT o_orderkey FROM orders
      |     WHERE o_custkey = e.user_id AND CAST(o_orderdate AS TIMESTAMP) > e.ts
      |     ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 1) AS fk,
      |    (SELECT CAST(o_orderdate AS TIMESTAMP) FROM orders
      |     WHERE o_custkey = e.user_id AND CAST(o_orderdate AS TIMESTAMP) > e.ts
      |     ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 1) AS ft
      |  FROM e)
      |SELECT event_id, user_id,
      |  CASE WHEN bk IS NULL THEN fk WHEN fk IS NULL THEN bk
      |       WHEN (epoch_us(ft) - epoch_us(ts)) < (epoch_us(ts) - epoch_us(bt))
      |       THEN fk ELSE bk END AS nearest_orderkey,
      |  CASE WHEN bk IS NULL THEN ft WHEN fk IS NULL THEN bt
      |       WHEN (epoch_us(ft) - epoch_us(ts)) < (epoch_us(ts) - epoch_us(bt))
      |       THEN ft ELSE bt END AS nearest_orderdate
      |FROM c ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").select("event_id", "user_id", "ts")
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("nearest_orderkey", col("o_orderkey"))
      .withColumn("nearest_orderdate", col("o_orderdate").cast("timestamp"))
    RelationalOps.nearestAsofJoin(ev, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate", rightSeq = "o_orderkey",
        payload = Seq("nearest_orderkey", "nearest_orderdate"))
      .select("event_id", "user_id", "nearest_orderkey", "nearest_orderdate")
      .orderBy("event_id")
  }

  // J6 — six-table star join (the TPC-H Q5 shape): lineitem→orders→
  // customer shuffle-join on keys, supplier/nation/region BROADCAST
  // (dims stay small at any fact scale), date filter pushed into the
  // orders scan. Revenue is money-safe: the per-row double product is
  // deterministically rounded to 4 decimals, summed EXACTLY as
  // decimal (order-independent — partial/final aggregation order
  // can't flip a cent), then presented as a rounded double.
  q("j6_star_join",
    s"""SELECT n_name,
      |  ${sqlR2("CAST(sum(CAST(" + sqlR4("l_extendedprice * (1 - l_discount)") + " AS DECIMAL(18,4))) AS DOUBLE)")} AS revenue,
      |  count(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name IN ('ASIA', 'EUROPE')
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
    val region = Tables.load(s, dir, "region")
      .filter(col("r_name").isin("ASIA", "EUROPE"))
    val orders = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
    val rev = r4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,4)")
    Tables.load(s, dir, "lineitem")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      // supplier grows with the corpus → stats-gated; nation/region
      // are constant-size (25/5 rows) and stay hard-broadcast
      .join(graft.operators.RelationalOps.broadcastIfFits(
          Tables.load(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey") &&
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(r2(sum(rev).cast("double")).as("revenue"),
        countDistinct("o_orderkey").as("n_orders"))
      .orderBy("n_name")
  }

  // J8 — runtime BLOOM-FILTER join pruning (engine extra): for a
  // shuffle join whose build side is selectively filtered, Catalyst
  // injects a bloom filter built from the filtered orders keys into
  // the lineitem scan side, discarding non-joining fact rows BEFORE
  // the shuffle — at 100 TB that's the difference between shuffling
  // the whole fact table and shuffling the ~20% that can match.
  // Thresholds are lowered here so the rewrite fires at test scale
  // (defaults gate on 10 GB application-side scans); BloomJoinSpec
  // asserts the might_contain expression lands in the plan.
  q("j8_bloom_join",
    s"""SELECT o_orderpriority, count(*) AS n_items,
      |  ${sqlR2("sum(l_extendedprice)")} AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    // the confs go on an isolated clone: the returned frame plans and
    // runs under them, and the caller's shared session never sees them
    graft.GraftExtensions.isolated(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // the injector only fires for joins that cannot broadcast by size
      // (a broadcast join needs no runtime filter) — disabling auto-
      // broadcast reproduces the 100 TB build-side shape at test scale
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { bloom =>
      val urgent = Tables.load(bloom, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      Tables.load(bloom, dir, "lineitem")
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          r2(sum("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }
  }

  // J9 — salted skew join (engine extra): the forced-layout answer to
  // a hot join key (AQE's skew split covers sort-merge plans; salting
  // covers hash joins and pre-AQE materializations). Left rows fan
  // into `salts` sub-keys, the right side replicates across all of
  // them, so one hot key's rows land on `salts` reducers instead of
  // one. Same multiset as the plain inner join — which is exactly
  // what the oracle checks.
  q("j9_salted_join",
    s"""SELECT o_orderpriority, count(*) AS n_items,
      |  ${sqlR2("sum(l_quantity)")} AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val facts = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val dim = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")))
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    RelationalOps.saltedJoin(facts, dim, "k", salts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), r2(sum("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  // W6 — ordered funnel (view → click → purchase): each step's entry
  // time is the user's first qualifying event STRICTLY AFTER the
  // previous step (the behavioral-analytics staple). Three partial-
  // aggregated passes keyed on user_id — no window over the full event
  // stream, no driver loops; per-step user counts as one summary row.
  q("w6_funnel",
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |t1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (
      |  SELECT e.user_id, min(ts) AS t2 FROM e JOIN t1 USING (user_id)
      |  WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
      |t3 AS (
      |  SELECT e.user_id, min(ts) AS t3 FROM e JOIN t2 USING (user_id)
      |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
      |SELECT CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_view,
      |       CAST((SELECT count(*) FROM t2) AS BIGINT) AS n_click,
      |       CAST((SELECT count(*) FROM t3) AS BIGINT) AS n_purchase""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "events").select("user_id", "event_type", "ts")
    def step(evType: String, prev: DataFrame, prevT: String, outT: String) =
      e.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevT))
        .groupBy("user_id").agg(min("ts").as(outT))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = step("click", t1, "t1", "t2")
    val t3 = step("purchase", t2, "t2", "t3")
    t1.agg(count(lit(1)).as("n_view"))
      .crossJoin(t2.agg(count(lit(1)).as("n_click")))
      .crossJoin(t3.agg(count(lit(1)).as("n_purchase")))
  }

  // T3 — the BUILT-IN session_window operator (the one the streaming
  // engine shares), batch-twinned: sessions merge while consecutive
  // gaps are STRICTLY under 30 min (a gap of exactly 30:00 starts a
  // new session — note the >= in the oracle, vs w4's > semantics),
  // and window end = last event + gap.
  q("t3_session_window",
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |g AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT *, CAST(sum(new_s) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
      |  FROM g)
      |SELECT user_id, min(ts) AS w_start,
      |  max(ts) + INTERVAL 30 MINUTE AS w_end, count(*) AS n
      |FROM s GROUP BY user_id, seq
      |ORDER BY user_id, w_start""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").as("w_start"),
        col("sw.end").as("w_end"), col("n"))
      .orderBy("user_id", "w_start")
  }

  // W4 — sessionization (gap > 30 min starts a new session): the
  // canonical event-stream composite of lag + conditional + running
  // sum + re-aggregation.
  q("w4_sessionize",
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |g AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, CAST(sum(new_s) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM g)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end
      |FROM s GROUP BY 1, 2
      |ORDER BY user_id, session_seq""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("new_s",
        when(lag("ts", 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_seq", sum("new_s").over(wRun).cast("long"))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"), max("ts").as("session_end"))
      .orderBy("user_id", "session_seq")
  }

  // W12 — ordered sequence-pattern match (MATCH_RECOGNIZE-lite):
  // view → click → purchase per user, each step within 24h of the
  // next, attributed to the LATEST qualifying predecessor. Nested
  // last-non-null carries make this ONE shuffle + two window passes:
  // the view timestamp rides inside the struct carried by the click
  // LOCF, so the purchase row sees (click ts, view-as-of-that-click)
  // without any self-join — the funnel-attribution shape that
  // otherwise costs two range joins.
  q("w12_seq_pattern",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |a AS (
      |  SELECT *, last_value(CASE WHEN event_type = 'view' THEN ts END
      |      IGNORE NULLS) OVER w AS lv
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |b AS (
      |  SELECT *, last_value(CASE WHEN event_type = 'click'
      |      THEN struct_pack(cts := ts, vts := lv) END IGNORE NULLS)
      |    OVER w AS lc
      |  FROM a WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id AS purchase_id, user_id,
      |  epoch_us(lc.cts) AS click_us, epoch_us(lc.vts) AS view_us
      |FROM b
      |WHERE event_type = 'purchase' AND lc IS NOT NULL AND lc.vts IS NOT NULL
      |  AND epoch_us(ts) - epoch_us(lc.cts) <= 86400000000
      |  AND epoch_us(lc.cts) - epoch_us(lc.vts) <= 86400000000
      |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dayUs = 86400000000L
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("lv",
        last(when(col("event_type") === "view", col("ts")), ignoreNulls = true)
          .over(w))
      .withColumn("lc",
        last(when(col("event_type") === "click",
          struct(col("ts").as("cts"), col("lv").as("vts"))), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase" &&
        col("lc").isNotNull && col("lc.vts").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("lc.cts")) <= dayUs &&
        unix_micros(col("lc.cts")) - unix_micros(col("lc.vts")) <= dayUs)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("lc.cts")).as("click_us"),
        unix_micros(col("lc.vts")).as("view_us"))
      .orderBy("purchase_id")
  }

  // A11 — exact percentiles (engine extra): both engines sort the
  // group and linearly interpolate; integer-valued quantities keep the
  // arithmetic exact.
  q("a11_percentiles",
    s"""SELECT l_returnflag,
       |  ${sqlR4("quantile_cont(l_quantity, 0.5)")} AS p50_qty,
       |  ${sqlR4("quantile_cont(l_quantity, 0.9)")} AS p90_qty,
       |  ${sqlR4("quantile_cont(l_extendedprice, 0.5)")} AS p50_price
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    // l_quantity (50 distinct values) keeps `percentile`'s value→count
    // map tiny and map-side-mergeable; the CONTINUOUS l_extendedprice
    // goes through the distributed histogram-guided selection instead —
    // Spark's exact percentile on an all-distinct column ships one
    // group-sized hashmap to a single reducer per group (measured 14×
    // at the 10× stress set, OOM-shaped at 100 TB)
    val li = Tables.load(s, dir, "lineitem")
    val exPrice = graft.operators.QuantileOps.exactQuantilesDF(
      li, "l_returnflag", "l_extendedprice", Seq(0.5))
    li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, array(0.5, 0.9))").as("__q"))
      .join(broadcast(exPrice), "l_returnflag")
      .select(col("l_returnflag"),
        r4(element_at(col("__q"), 1)).as("p50_qty"),
        r4(element_at(col("__q"), 2)).as("p90_qty"),
        r4(element_at(col("quantiles"), 1)).as("p50_price"))
      .orderBy("l_returnflag")
  }

  // A11b — the sketch variant for 100TB: approx_percentile (Spark's
  // Greenwald-Khanna quantile summary, bounded memory, mergeable).
  // Sketch internals differ per engine, so the hashed row carries the
  // EXACT percentiles plus booleans pinning each estimate inside the
  // rank window [q−0.01, q+0.01] computed over the exact data —
  // 10× the summary's 1/accuracy=0.001 rank-error guarantee, and
  // rank windows are partitioning-insensitive where raw estimates are
  // not. Oracle: exact quantiles + literal trues.
  q("a11_approx_percentiles",
    s"""SELECT l_returnflag,
       |  ${sqlR4("quantile_cont(l_quantity, 0.5)")} AS p50_qty,
       |  ${sqlR4("quantile_cont(l_quantity, 0.9)")} AS p90_qty,
       |  true AS p50_ok, true AS p90_ok
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    // one array-percentile buffer per group, not six (see a11_tdigest)
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_quantity, array(0.5, 0.9), 1000)").as("__est"),
        expr("percentile(l_quantity, array(0.5, 0.9, 0.49, 0.51, 0.89, 0.91))").as("__ex"))
      .select(col("l_returnflag"),
        r4(element_at(col("__ex"), 1)).as("p50_qty"),
        r4(element_at(col("__ex"), 2)).as("p90_qty"),
        element_at(col("__est"), 1)
          .between(element_at(col("__ex"), 3), element_at(col("__ex"), 4)).as("p50_ok"),
        element_at(col("__est"), 2)
          .between(element_at(col("__ex"), 5), element_at(col("__ex"), 6)).as("p90_ok"))
      .orderBy("l_returnflag")
  }

  // A11c — t-digest quantiles (own mergeable TypedImperativeAggregate,
  // graftx.TDigestQuantiles): rank error proportional to q(1-q), so
  // tails (p99) beat a uniform-error summary of the same size.
  // Merge-order dependent values → the hashed row carries the EXACT
  // quantiles plus booleans pinning each digest estimate inside a
  // rank window over the exact data (±0.02 at the median, [0.975, 1]
  // at p99 — both ≥2× the TDigestSpec error envelope, and rank
  // windows survive any partitioning). Oracle: exact + literal trues.
  q("a11_tdigest",
    s"""SELECT l_returnflag,
       |  ${sqlR4("quantile_cont(l_extendedprice, 0.5)")} AS p50_price,
       |  ${sqlR4("quantile_cont(l_extendedprice, 0.99)")} AS p99_price,
       |  true AS p50_ok, true AS p99_ok
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.graftx.TDigest.tdigestQuantiles
    // the exact twin comes from the distributed histogram-guided
    // selection (QuantileOps), NOT `percentile`: on the continuous
    // l_extendedprice the exact aggregate's per-group value map is the
    // whole group, shipped to one reducer per group and sorted there —
    // the scale-killer the digest exists to avoid (measured 14× at the
    // 10× stress set before this swap)
    val li = Tables.load(s, dir, "lineitem")
    val ex = graft.operators.QuantileOps.exactQuantilesDF(
      li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.99, 0.48, 0.52, 0.975))
    li.groupBy("l_returnflag")
      .agg(tdigestQuantiles(col("l_extendedprice"), Seq(0.5, 0.99), 100).as("__qq"),
        max(col("l_extendedprice")).as("__hi99"))
      .join(broadcast(ex), "l_returnflag")
      .select(col("l_returnflag"),
        r4(element_at(col("quantiles"), 1)).as("p50_price"),
        r4(element_at(col("quantiles"), 2)).as("p99_price"),
        element_at(col("__qq"), 1)
          .between(element_at(col("quantiles"), 3), element_at(col("quantiles"), 4)).as("p50_ok"),
        element_at(col("__qq"), 2)
          .between(element_at(col("quantiles"), 5), col("__hi99")).as("p99_ok"))
      .orderBy("l_returnflag")
  }

  // A11e — WEIGHTED quantiles (importance-weighted corpora): each
  // price contributes its quantity as sample weight. Plain SQL has no
  // weighted percentile short of row explosion; the digest takes the
  // weight directly. The hashed row pins each digest estimate inside
  // a weighted-RANK window computed exactly Spark-side (cumulative
  // weight over the per-group price sort: value at rank (q±δ)·W),
  // alongside the total weight the oracle can state in plain SQL.
  q("a11_tdigest_weighted",
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_w,
      |  true AS p50_ok, true AS p99_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.graftx.TDigest.tdigestWeightedQuantiles
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").as("price"),
        col("l_quantity").cast("long").as("w"))
    // exact weighted rank WITHOUT the per-group cumulative window: the
    // pre-r14 shape sorted the whole table into |l_returnflag| = 3
    // window partitions — 3 tasks each holding a third of the corpus,
    // the one-reducer-per-group scale-killer the a11 family already
    // evicted from its unweighted twins (guide §2.5). The weighted
    // histogram-guided selection computes the identical
    // min(price | cumW ≥ r·W) values with map-side-combinable hash
    // aggregates only (QuantileOpsSpec pins parity, ties included).
    // maxGroups = -1: l_returnflag is a 3-value enum — caller-asserts-
    // bounded skips the HLL cardinality pre-scan (one full corpus pass
    // of pure overhead here; the guard exists for miscalled
    // fact-table-key group columns)
    val bounds = graft.operators.QuantileOps.exactWeightedThresholdsDF(
      li, "l_returnflag", "price", "w", Seq(0.48, 0.52, 0.975),
      maxGroups = -1)
    val est = li.groupBy("l_returnflag")
      .agg(tdigestWeightedQuantiles(col("price"), col("w"),
        Seq(0.5, 0.99), 100).as("__qq"),
        max(col("price")).as("__hi99"))
    est.join(broadcast(bounds), "l_returnflag")
      .select(col("l_returnflag"), col("total_w"),
        element_at(col("__qq"), 1).between(
          element_at(col("thresholds"), 1),
          element_at(col("thresholds"), 2)).as("p50_ok"),
        element_at(col("__qq"), 2).between(
          element_at(col("thresholds"), 3), col("__hi99")).as("p99_ok"))
      .orderBy("l_returnflag")
  }

  // A11d — the t-digest ROLLUP pattern at 100 TB: one digest per
  // (returnflag, shard) materialized in a single pass, then
  // per-returnflag quantiles recovered by unioning shard digests —
  // no raw re-scan. The hashed row pins the union-digest estimates
  // inside rank windows over the exact data (±0.03 at the median —
  // wider than the direct digest, since TDigestAlgebraSpec bounds the
  // extra union-vs-direct drift; [0.97, 1] at p99).
  q("a11_tdigest_rollup",
    s"""SELECT l_returnflag,
       |  ${sqlR4("quantile_cont(l_extendedprice, 0.5)")} AS p50_price,
       |  ${sqlR4("quantile_cont(l_extendedprice, 0.99)")} AS p99_price,
       |  true AS p50_ok, true AS p99_ok
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.graftx.TDigest.{tdigestSketch, tdigestUnionQuantiles}
    val li = Tables.load(s, dir, "lineitem")
    val perShard = li
      .groupBy(col("l_returnflag"), pmod(col("l_suppkey"), lit(16)).as("shard"))
      .agg(tdigestSketch(col("l_extendedprice"), 100).as("dig"))
    val est = perShard
      .groupBy("l_returnflag")
      .agg(tdigestUnionQuantiles(col("dig"), Seq(0.5, 0.99), 100).as("__qq"))
    // exact twin via distributed histogram-guided selection (see
    // a11_tdigest — `percentile` on a continuous column is the
    // one-reducer-per-group scale-killer, measured 14× at 10×)
    val ex = graft.operators.QuantileOps.exactQuantilesDF(
      li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.99, 0.47, 0.53, 0.97))
    val hi = li.groupBy("l_returnflag").agg(max(col("l_extendedprice")).as("__hi99"))
    hi.join(broadcast(ex), "l_returnflag").join(est, "l_returnflag")
      .select(col("l_returnflag"),
        r4(element_at(col("quantiles"), 1)).as("p50_price"),
        r4(element_at(col("quantiles"), 2)).as("p99_price"),
        element_at(col("__qq"), 1)
          .between(element_at(col("quantiles"), 3), element_at(col("quantiles"), 4)).as("p50_ok"),
        element_at(col("__qq"), 2)
          .between(element_at(col("quantiles"), 5), col("__hi99")).as("p99_ok"))
      .orderBy("l_returnflag")
  }

  // P12 — IN-subquery membership (planned as a semi join).
  q("p12_in_subquery",
    """SELECT o_orderstatus, count(*) AS n
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'FURNITURE')
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'FURNITURE')
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
  }

  // F14 — schema-full JSON parsing (from_json into a struct, not
  // per-path string extraction).
  q("f14_from_json_struct",
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
      |  count(*) AS n
      |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .withColumn("p", from_json(col("props"), lit("k LONG")))
      .groupBy((col("p.k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"))
      .orderBy("k_mod")
  }

  // A1⁻¹ — unpivot (wide→long, the pivot inverse): melting the pinned
  // pivot back out must equal the direct long-form aggregation.
  q("a1_unpivot",
    s"""SELECT user_id, event_type AS param,
       |  ${sqlR4("avg(value)")} AS value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY user_id, param""".stripMargin) { (s, dir) =>
    val wide = RelationalOps.pivotAvg(Tables.load(s, dir, "events"),
      Seq("user_id"), "event_type", PipelineQueries.eventTypes, "value")
    val rounded = wide.select(col("user_id") +:
      PipelineQueries.eventTypes.map(c => r4(col(c)).as(c)): _*)
    rounded.unpivot(Array(col("user_id")),
        PipelineQueries.eventTypes.map(col).toArray, "param", "value")
      .filter(col("value").isNotNull)
      .orderBy("user_id", "param")
  }

  // Anomaly detection: per-group z-score outliers (|z| > 2.5). Group
  // stats once, broadcast back — no per-row window needed.
  q("ad_zscore_outliers",
    s"""WITH stats AS (
       |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
       |  FROM events GROUP BY 1)
       |SELECT event_id, e.event_type,
       |  ${sqlR4("(value - mu) / sigma")} AS z
       |FROM events e JOIN stats USING (event_type)
       |WHERE abs((value - mu) / sigma) > 2.5
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp(col("value")).as("sigma"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"), r4(col("z")).as("z"))
      .orderBy("event_id")
  }

  // W5 — sliding-frame moving average (time-series smoothing).
  q("w5_moving_avg",
    s"""SELECT event_id, user_id,
       |  ${sqlR4("avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)")} AS mavg
       |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .select(col("event_id"), col("user_id"), r4(avg("value").over(w)).as("mavg"))
      .orderBy("event_id")
  }

  // F15 — timezone conversion (the reference's +07:00 normalization
  // concern, SURVEY §7.4-4): UTC events viewed in Asia/Bangkok local
  // time (fixed +07:00, no DST — cross-engine safe). The oracle
  // expresses the same instant-shift with interval arithmetic.
  q("f15_tz_convert",
    """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP) + INTERVAL 7 HOUR) AS TIMESTAMP) AS local_day,
      |  count(*) AS n
      |FROM events
      |GROUP BY 1
      |ORDER BY local_day""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(date_trunc("day",
        from_utc_timestamp(col("ts"), "Asia/Bangkok")).as("local_day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("local_day")
  }

  // Set ops (SURVEY §2.7): distinct UNION completes the family
  // (except/intersect already checked). Catalyst plans union+distinct
  // as one hash-aggregate over the concatenated children — a single
  // shuffle on the key, no join.
  q("set_union",
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(Tables.load(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")
  }

  // A9d — explicit GROUPING SETS (engine extra): arbitrary subtotal
  // combinations in ONE Expand+aggregate pass over a single scan —
  // the generalization of ROLLUP/CUBE. At 100 TB the scan dominates;
  // three separate GROUP BY jobs would read the fact table three times.
  // SET4 — union BY NAME across drifted schemas (the batch-over-
  // history reality: extracts gain/lose columns over time). Spark's
  // unionByName(allowMissingColumns) aligns on names and serves NULL
  // for absences — positional UNION would silently mis-assign columns.
  q("set_union_by_name",
    """SELECT * FROM (
      |  SELECT event_id, user_id, value FROM events WHERE event_type = 'click'
      |  UNION ALL BY NAME
      |  SELECT event_id, event_type, user_id FROM events WHERE event_type = 'error')
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val a = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "value")
    val b = ev.filter(col("event_type") === "error")
      .select("event_id", "event_type", "user_id")
    a.unionByName(b, allowMissingColumns = true).orderBy("event_id")
  }

  q("a9_grouping_sets",
    s"""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
       |  ${sqlR2("sum(o_totalprice)")} AS sum_price
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
       |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), r2(sum("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }

  // A14 — deterministic per-group mode (most frequent value; ties →
  // smallest value). Built-in mode() leaves ties engine-defined, so the
  // checked form is the explicit count + row_number argmax — two
  // partial-agg passes, both map-side combinable.
  q("a14_mode",
    """WITH c AS (
      |  SELECT l_returnflag, l_quantity, count(*) AS n
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, l_quantity AS mode_qty, n
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY l_returnflag ORDER BY n DESC, l_quantity) AS rn
      |      FROM c)
      |WHERE rn = 1
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("n").desc, col("l_quantity"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n"))
      .orderBy("l_returnflag")
  }

  // F17 — higher-order array functions over the embedding column
  // (SURVEY scale mandate: vectors are first-class): transform /
  // filter / aggregate (sequential left fold — same addition order as
  // DuckDB's list_sum) / array_max, all codegen'd, no UDF. This is the
  // building block the ANN stack's dot products are made of.
  q("f17_array_hof",
    s"""SELECT vec_id,
       |  len(embedding) AS dim,
       |  ${sqlR4("list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")} AS norm2,
       |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
       |  ${sqlR4("CAST(list_max(embedding) AS DOUBLE)")} AS max_elem
       |FROM embeddings
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      r4(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))).as("norm2"),
      size(filter(col("embedding"), _ > 0f)).as("n_pos"),
      r4(array_max(col("embedding")).cast("double")).as("max_elem"))
      .orderBy("vec_id")
  }

  // F20 — map higher-order functions (engine extra): per-user
  // event_type→count and event_type→sum(value) MAPS built with
  // map_from_entries, combined with map_zip_with (per-key average),
  // pruned with map_filter, then exploded back to rows. All map ops
  // are codegen'd expressions over already-aggregated per-user rows —
  // the map is a row-local data shape, not a shuffle shape, so the
  // plan is the same two-level agg it would be without maps. The
  // oracle computes the surviving (user, type) cells directly.
  q("f20_map_funcs",
    s"""SELECT user_id, event_type,
       |  CAST(count(*) AS BIGINT) AS n,
       |  ${sqlR4("sum(value) / count(*)")} AS avg_value
       |FROM events
       |GROUP BY user_id, event_type
       |HAVING count(*) >= 3
       |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    val cells = Tables.load(s, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    val maps = cells.groupBy("user_id").agg(
      map_from_entries(collect_list(struct(col("event_type"), col("n")))).as("m_cnt"),
      map_from_entries(collect_list(struct(col("event_type"), col("sv")))).as("m_sum"))
    maps
      .withColumn("m_stats", map_filter(
        map_zip_with(col("m_cnt"), col("m_sum"),
          (_, c, sv) => struct(c.as("n"), (sv / c).as("avg"))),
        (_, v) => v.getField("n") >= 3))
      .select(col("user_id"), explode(col("m_stats")).as(Seq("event_type", "v")))
      .select(col("user_id"), col("event_type"),
        col("v.n").as("n"), r4(col("v.avg")).as("avg_value"))
      .orderBy("user_id", "event_type")
  }

  // F18 — calendar bucketing family (engine extra): ISO-week and month
  // date_trunc + quarter, the partitions a time-partitioned 100 TB
  // table is laid out on. Both engines truncate weeks to Monday.
  q("f18_date_trunc",
    """SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS month_start,
      |  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week_start,
      |  CAST(quarter(CAST(ts AS TIMESTAMP)) AS INTEGER) AS qtr,
      |  count(*) AS n
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY month_start, week_start""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(
        date_trunc("month", col("ts")).as("month_start"),
        date_trunc("week", col("ts")).as("week_start"),
        quarter(col("ts")).as("qtr"))
      .agg(count(lit(1)).as("n"))
      .orderBy("month_start", "week_start")
  }

  // A15 — equi-width histogram (engine extra): fixed-width price bins
  // in ONE scan — integer bin arithmetic (identical IEEE ops on both
  // engines), count + bounds per bin. The profile-a-column primitive
  // behind dq_drift's buckets, exposed standalone.
  q("a15_histogram",
    s"""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
       |  count(*) AS n,
       |  ${sqlR2("min(l_extendedprice)")} AS lo,
       |  ${sqlR2("max(l_extendedprice)")} AS hi
       |FROM lineitem
       |GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        r2(min("l_extendedprice")).as("lo"),
        r2(max("l_extendedprice")).as("hi"))
      .orderBy("bin")
  }

  // GR1 — weighted PageRank over the customer-nation → supplier-nation
  // trade graph (engine extra; the iterative-analytics family member
  // next to connected components). Edge weights = lineitem counts
  // through the star schema; 5 fixed iterations with uniform teleport
  // and dangling-mass redistribution. The oracle UNROLLS the loop into
  // pr0..pr5 CTEs — same dataflow, no recursion needed — so every
  // iteration's arithmetic is checked, not just the fixpoint shape.
  private val prIters = 5
  private def prOracle: String = {
    val base = """WITH e AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |    CAST(count(*) AS DOUBLE) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |ow AS (SELECT src, sum(w) AS tot FROM e GROUP BY src),
      |nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM nodes),
      |pr0 AS (SELECT n, 1.0 / n_nodes AS rank FROM nodes CROSS JOIN nn)""".stripMargin
    val iters = (1 to prIters).map { k =>
      s""",
         |pr$k AS (
         |  SELECT nodes.n,
         |    0.15 / nn.n_nodes + 0.85 * (COALESCE(inc.c, 0) + dm.d / nn.n_nodes) AS rank
         |  FROM nodes CROSS JOIN nn CROSS JOIN (
         |    SELECT COALESCE(sum(p.rank), 0) AS d
         |    FROM pr${k - 1} p LEFT JOIN ow ON p.n = ow.src
         |    WHERE ow.src IS NULL) dm
         |  LEFT JOIN (
         |    SELECT e.dst AS n2, sum(p.rank * e.w / ow.tot) AS c
         |    FROM pr${k - 1} p JOIN ow ON p.n = ow.src JOIN e ON p.n = e.src
         |    GROUP BY e.dst) inc ON nodes.n = inc.n2)""".stripMargin
    }.mkString
    base + iters +
      s"\nSELECT n AS nationkey, ${sqlR4("rank")} AS pagerank FROM pr$prIters ORDER BY nationkey"
  }

  q("gr_pagerank", prOracle) { (s, dir) =>
    import graft.operators.GraphOps
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val su = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
      .cache()
    val nNodes = edges.select(col("src").as("n"))
      .union(edges.select(col("dst").as("n"))).distinct().count()
    GraphOps.pageRank(edges, "src", "dst", "w", nNodes, damping = 0.85, iters = prIters)
      .select(col("n").as("nationkey"), r4(col("rank")).as("pagerank"))
      .orderBy("nationkey")
  }

  // GR5 — connected components by alternating large-star/small-star
  // contraction (Kiveris et al., SoCC'14): O(log n) shuffle rounds
  // regardless of component diameter — the CC to reach for when
  // component shape is unknown at scale (min-label propagation pays
  // one round PER HOP and, past maxIter, silently returned
  // intermediate labels — it now warns; found by StarCcSpec's 60-hop
  // chain). Edges: the top-18 nation pairs by total trade volume —
  // deterministic cutoff (rank-18/19 volume gap is 0.2-0.9%, far
  // above float-sum noise), yielding one multi-nation component plus
  // singletons at both sfs. Oracle: recursive-CTE closure over the
  // same top-K edge set; star≡min-label on adversarial shapes is
  // spec-asserted in StarCcSpec.
  q("gr_components_star",
    """WITH RECURSIVE vol AS (
      |  SELECT least(c.c_nationkey, s.s_nationkey) AS u,
      |         greatest(c.c_nationkey, s.s_nationkey) AS v,
      |         sum(l.l_extendedprice) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |  GROUP BY 1, 2),
      |top AS (SELECT u, v FROM vol ORDER BY w DESC, u, v LIMIT 18),
      |edges AS (SELECT u AS a, v AS b FROM top
      |          UNION ALL SELECT v, u FROM top),
      |reach(id, r) AS (
      |  SELECT n_nationkey, n_nationkey FROM nation
      |  UNION SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.id)
      |SELECT CAST(id AS BIGINT) AS nationkey, CAST(min(r) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY id ORDER BY nationkey""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice")
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val su = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    // customer/supplier GROW with the corpus — stats-gated broadcast
    // (fits → BHJ; at the 1000× tier the 15M-row customer build side
    // killed a 4 g heap, so above the bound the join shuffles)
    val vol = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(graft.operators.RelationalOps.broadcastIfFits(c),
        col("o_custkey") === col("c_custkey"))
      .join(graft.operators.RelationalOps.broadcastIfFits(su),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(least(col("c_nationkey"), col("s_nationkey")).as("u"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("v"))
      .agg(sum("l_extendedprice").as("w"))
    val top = vol.orderBy(col("w").desc, col("u"), col("v")).limit(18).select("u", "v")
    graft.operators.RelationalOps.connectedComponentsStar(
        Tables.load(s, dir, "nation").select("n_nationkey"), "n_nationkey",
        top, "u", "v")
      .select(col("n_nationkey").cast("long").as("nationkey"),
        col("cluster_id").cast("long").as("cluster_id"))
      .orderBy("nationkey")
  }

  // GR3 — single-source BFS hop distances over the trade graph, 4
  // relax-and-min rounds. Like gr_pagerank, the oracle UNROLLS the
  // loop into b0..b4 CTEs so every round's relaxation arithmetic is
  // checked, not just the fixpoint.
  q("gr_bfs", {
    val base = """WITH e AS (
      |  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |b0 AS (SELECT CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS dist)""".stripMargin
    val rounds = (1 to 4).map { k =>
      s""",
         |b$k AS (
         |  SELECT n, min(dist) AS dist FROM (
         |    SELECT n, dist FROM b${k - 1}
         |    UNION ALL
         |    SELECT CAST(e.dst AS BIGINT), b.dist + 1
         |    FROM b${k - 1} b JOIN e ON b.n = e.src)
         |  GROUP BY n)""".stripMargin
    }.mkString
    base + rounds + "\nSELECT n AS nationkey, dist FROM b4 ORDER BY nationkey"
  }) { (s, dir) =>
    import graft.operators.GraphOps
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val su = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .distinct()
    GraphOps.bfs(edges, "src", "dst", source = 0L, iters = 4)
      .select(col("n").as("nationkey"), col("dist"))
      .orderBy("nationkey")
  }

  // P15 — correlated LATERAL subquery with per-row ORDER BY + LIMIT
  // (top-n per key written the SQL-standard way). Catalyst
  // DECORRELATES it — the executed plan is a window/equi-join shape
  // with no nested loop (the engine-wide sweep test enforces that),
  // so the lateral form costs the same as the w3/o3 formulations.
  q("p15_lateral_topn",
    """SELECT n.n_nationkey, t.c_custkey, t.c_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n_nationkey, c_custkey""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "nation").createOrReplaceTempView("nation")
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
    s.sql("""
      SELECT n.n_nationkey, t.c_custkey, t.c_acctbal
      FROM nation n, LATERAL (
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      ORDER BY n_nationkey, c_custkey""")
  }

  // W13 — exact percentile as a WINDOW aggregate: trailing-10-row
  // median per supplier in ship order (the rolling robust-center
  // signal; pairs with w5's rolling mean). Integer quantities keep
  // the interpolation exact on ≤10-row frames (f ∈ {0, .5}), so the
  // medians hash-match bit-for-bit. Supplier subset bounds the output.
  q("w13_median_window",
    """SELECT l_orderkey, l_linenumber,
      |  quantile_cont(l_quantity, 0.5) OVER (
      |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS med10
      |FROM lineitem WHERE l_suppkey < 50
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(-9, Window.currentRow)
    Tables.load(s, dir, "lineitem")
      .filter(col("l_suppkey") < 50)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("percentile(l_quantity, 0.5)")
          .over(w).as("med10"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // AD2 — robust outlier detection via MAD (median absolute
  // deviation): median and MAD both come from exact percentiles over
  // INTEGER quantities, so every intermediate (x.0/.5/.25-step values,
  // f ∈ {0,.5}) is exactly representable and the |x-med| > 3·MAD
  // comparison cannot flip between engines. The z-score variant
  // (ad_zscore_outliers) breaks on one wild value; MAD does not —
  // that robustness is why curation gates prefer it.
  q("ad_mad_outliers",
    """WITH med AS (
      |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
      |  FROM lineitem GROUP BY 1),
      |mad AS (
      |  SELECT l.l_returnflag,
      |    quantile_cont(abs(l.l_quantity - m.med), 0.5) AS mad
      |  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
      |  GROUP BY 1)
      |SELECT l.l_returnflag, m.med, d.mad,
      |  CAST(sum(CASE WHEN abs(l.l_quantity - m.med) > 3 * d.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM lineitem l
      |JOIN med m ON l.l_returnflag = m.l_returnflag
      |JOIN mad d ON l.l_returnflag = d.l_returnflag
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem").select("l_returnflag", "l_quantity")
    val med = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("med"))
    val withMed = li.join(broadcast(med), "l_returnflag")
    val mad = withMed.groupBy("l_returnflag")
      .agg(expr("percentile(abs(l_quantity - med), 0.5)").as("mad"))
    withMed.join(broadcast(mad), "l_returnflag")
      .groupBy("l_returnflag", "med", "mad")
      .agg(sum(when(abs(col("l_quantity") - col("med")) > lit(3) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .orderBy("l_returnflag")
  }

  // GR2 — triangle counting over the same trade graph (the clustering/
  // community primitive next to PageRank). Spark side runs the
  // degree-ordered orientation (Suri-Vassilvitskii: wedge join bounded
  // by O(m^1.5) total work, every triangle emitted once); the oracle
  // counts canonical u<v<w triangles directly — identical triangle
  // sets, so the per-node participation counts must hash-match.
  q("gr_triangles",
    """WITH e0 AS (
      |  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |        FROM e0 WHERE src <> dst),
      |tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
      |        FROM und a
      |        JOIN und b ON b.u = a.v
      |        JOIN und c ON c.u = a.u AND c.v = b.v)
      |SELECT n AS nationkey, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM (SELECT x AS n FROM tri
      |      UNION ALL SELECT y FROM tri
      |      UNION ALL SELECT z FROM tri)
      |GROUP BY n ORDER BY nationkey""".stripMargin) { (s, dir) =>
    import graft.operators.GraphOps
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val su = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
    GraphOps.triangleCount(edges, "src", "dst")
      .select(col("n").cast("long").as("nationkey"), col("n_triangles"))
      .orderBy("nationkey")
  }

  // JSON extraction in-query (SURVEY §2.8 boundary note → kept as a
  // first-class op: events.props carries a JSON payload).
  q("f13_json_extract",
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |  count(*) AS n
      |FROM events
      |GROUP BY 1
      |ORDER BY k""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .agg(count(lit(1)).as("n"))
      .orderBy("k")
  }

  // W10 — running COUNT(DISTINCT) over a window. Spark has no native
  // distinct window aggregate; the engine expresses it as
  // size(collect_set() OVER w) — same semantics, and the set is bounded
  // by the attribute's CARDINALITY (5 event types), not the frame
  // length, so state stays O(distinct) per partition at any scale.
  // BOUND: this shape is only safe when the counted column's domain is
  // small — collect_set holds every distinct value seen so far PER ROW,
  // so a high-cardinality column (user_id, url, …) grows the per-row
  // state linearly with the prefix. For those, use the
  // w10_distinct_window_hicard shape below: an exact running distinct
  // via first-occurrence indicator + running sum (O(1) window state),
  // or the HLL estimate it also carries.
  q("w10_count_distinct_window",
    """SELECT event_id, user_id,
      |  count(DISTINCT event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS types_so_far
      |FROM (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        size(collect_set(col("event_type")).over(w)).cast("long").as("types_so_far"))
      .orderBy("event_id")
  }

  // W10b — running COUNT(DISTINCT) for a HIGH-cardinality column
  // (user_id), the shape collect_set can't carry at scale: a first
  // occurrence of (event_type, user_id) gets indicator 1 (row_number
  // window), and the running SUM of indicators over the event_type
  // timeline IS the exact running distinct count — two window passes,
  // O(1) state per row, no growing sets anywhere. The same row also
  // carries a running approx_count_distinct (HLL++, rsd 5%) pinned
  // within ±15% of the exact count per row (HLL estimates are
  // set-deterministic, so the boolean is partitioning-insensitive);
  // that's the one-pass variant for when the indicator's extra
  // (event_type, user_id) shuffle is not worth it.
  q("w10_distinct_window_hicard",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |f AS (
      |  SELECT *, CASE WHEN row_number() OVER (
      |      PARTITION BY event_type, user_id ORDER BY ts, event_id) = 1
      |    THEN 1 ELSE 0 END AS fst
      |  FROM e)
      |SELECT event_id, event_type,
      |  CAST(sum(fst) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS users_so_far,
      |  true AS est_ok
      |FROM f ORDER BY event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wFirst = Window.partitionBy("event_type", "user_id")
      .orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("fst",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("users_so_far", sum("fst").over(wRun))
      .withColumn("__est", approx_count_distinct(col("user_id")).over(wRun))
      .select(col("event_id"), col("event_type"), col("users_so_far"),
        (abs(col("__est") - col("users_so_far")) <=
          greatest(col("users_so_far") * lit(0.15), lit(2.0))).as("est_ok"))
      .orderBy("event_id")
  }

  // A18 — linear-regression aggregates (regr_slope/intercept/r2), the
  // closed-form least-squares fit as a single distributed aggregation
  // pass: no iteration, no driver math, partial-aggregable moments.
  // x = day-of-month keeps slope magnitudes away from float-format
  // hazards (epoch-seconds x gives 1e-6 slopes).
  q("a18_regression",
    s"""SELECT event_type,
       |  CAST(regr_count(value, x) AS BIGINT) AS n,
       |  ${sqlR4("regr_slope(value, x)")} AS slope,
       |  ${sqlR4("regr_intercept(value, x)")} AS intercept,
       |  ${sqlR4("regr_r2(value, x)")} AS r2
       |FROM (SELECT event_type, value,
       |        CAST(EXTRACT(day FROM CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x
       |      FROM events)
       |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .select(col("event_type"), col("value"),
        dayofmonth(col("ts")).cast("double").as("x"))
      .groupBy("event_type")
      .agg(
        regr_count(col("value"), col("x")).as("n"),
        r4(regr_slope(col("value"), col("x"))).as("slope"),
        r4(regr_intercept(col("value"), col("x"))).as("intercept"),
        r4(regr_r2(col("value"), col("x"))).as("r2"))
      .orderBy("event_type")
  }

  // A17 — ordered string aggregation (listagg). Built-in collect_set
  // is unordered; deterministic output = array_sort before the join,
  // which also makes the result partitioning-independent (the 100 TB
  // requirement: any agg whose value depends on row arrival order is
  // broken under shuffle).
  q("a17_string_agg",
    """SELECT user_id,
      |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types_csv"))
      .orderBy("user_id")
  }

  // W11 — gaps-and-islands: maximal runs of equal event_type per user
  // in time order. The classic two-window formulation (change flag →
  // running sum = island id) — one shuffle on user_id shared by both
  // windows and the final aggregate, no self-join.
  q("w11_islands",
    """WITH s AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events),
      |c AS (SELECT *, CASE WHEN lag(event_type) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id) = event_type
      |      THEN 0 ELSE 1 END AS chg FROM s),
      |i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM c)
      |SELECT user_id, CAST(island AS BIGINT) AS island,
      |  min(event_type) AS event_type,
      |  CAST(count(*) AS BIGINT) AS island_len,
      |  min(ts) AS first_ts, max(ts) AS last_ts
      |FROM i GROUP BY user_id, island
      |ORDER BY user_id, island""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w) === col("event_type"), lit(0))
          .otherwise(lit(1)))
      .withColumn("island", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min(col("event_type")).as("event_type"),
        count(lit(1)).as("island_len"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .orderBy("user_id", "island")
  }

  // W15 — pattern ALTERNATION with capture counts:
  // `view (click|signup)+ purchase`. Events are first CLASSIFIED
  // (click/signup collapse into one 'mid' class), islands run over the
  // CLASS — so a mixed click/signup stretch is ONE quantified run —
  // and the island aggregation captures per-alternative counts
  // (n_clicks vs n_signups inside the run), the MEASURES clause of a
  // MATCH_RECOGNIZE. Same single-partitioning shape as w14.
  q("w15_pattern_alternation",
    """WITH s AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN event_type IN ('click', 'signup') THEN 'mid'
      |         ELSE event_type END AS cls
      |  FROM events),
      |c AS (SELECT *,
      |        row_number() OVER w AS rn,
      |        CASE WHEN lag(cls) OVER w = cls THEN 0 ELSE 1 END AS chg
      |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM c),
      |isl AS (SELECT user_id, island, min(cls) AS cls,
      |          CAST(count(*) AS BIGINT) AS run_len,
      |          CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
      |          CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signups,
      |          min(rn) AS srn, min_by(event_id, rn) AS first_eid
      |        FROM i GROUP BY user_id, island),
      |adj AS (SELECT *,
      |          lag(cls)  OVER w2 AS prev_cls,
      |          lead(cls) OVER w2 AS next_cls,
      |          lead(first_eid) OVER w2 AS next_eid
      |        FROM isl WINDOW w2 AS (PARTITION BY user_id ORDER BY srn))
      |SELECT user_id, run_len, n_clicks, n_signups, next_eid AS purchase_id
      |FROM adj
      |WHERE cls = 'mid' AND prev_cls = 'view' AND next_cls = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isl = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        when(col("event_type").isin("click", "signup"), lit("mid"))
          .otherwise(col("event_type")).as("cls"))
      .withColumn("rn", row_number().over(w))
      .withColumn("chg",
        when(lag(col("cls"), 1).over(w) === col("cls"), lit(0)).otherwise(lit(1)))
      .withColumn("island", sum(col("chg")).over(wRun))
      .groupBy("user_id", "island")
      .agg(min(col("cls")).as("cls"),
        count(lit(1)).as("run_len"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_clicks"),
        sum(when(col("event_type") === "signup", 1).otherwise(0)).as("n_signups"),
        min(col("rn")).as("srn"),
        min_by(col("event_id"), col("rn")).as("first_eid"))
    val w2 = Window.partitionBy("user_id").orderBy("srn")
    isl
      .withColumn("prev_cls", lag(col("cls"), 1).over(w2))
      .withColumn("next_cls", lead(col("cls"), 1).over(w2))
      .withColumn("next_eid", lead(col("first_eid"), 1).over(w2))
      .filter(col("cls") === "mid" &&
        col("prev_cls") === "view" && col("next_cls") === "purchase")
      .select(col("user_id"), col("run_len"), col("n_clicks"),
        col("n_signups"), col("next_eid").as("purchase_id"))
      .orderBy("user_id", "purchase_id")
  }

  // W14 — sequence pattern with a + QUANTIFIER (MATCH_RECOGNIZE
  // `view click+ purchase` per user): maximal runs of consecutive
  // clicks immediately preceded by a view and immediately followed by
  // a purchase, reporting the run length. Rewrite: islands of equal
  // event_type (one change-flag running sum), then island ADJACENCY by
  // lag/lead over island start — every window and the island groupBy
  // hash on user_id, so the whole match is one partitioning, no
  // self-join, no per-row pattern automaton. The quantifier is free:
  // the island's count IS the +-repetition count.
  q("w14_pattern_quantifier",
    """WITH s AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events),
      |c AS (SELECT *,
      |        row_number() OVER w AS rn,
      |        CASE WHEN lag(event_type) OVER w = event_type THEN 0 ELSE 1 END AS chg
      |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM c),
      |isl AS (SELECT user_id, island, min(event_type) AS event_type,
      |          CAST(count(*) AS BIGINT) AS run_len,
      |          min(rn) AS srn, min_by(event_id, rn) AS first_eid
      |        FROM i GROUP BY user_id, island),
      |adj AS (SELECT *,
      |          lag(event_type)  OVER w2 AS prev_type,
      |          lead(event_type) OVER w2 AS next_type,
      |          lead(first_eid)  OVER w2 AS next_eid
      |        FROM isl WINDOW w2 AS (PARTITION BY user_id ORDER BY srn))
      |SELECT user_id, run_len AS n_clicks, next_eid AS purchase_id
      |FROM adj
      |WHERE event_type = 'click' AND prev_type = 'view' AND next_type = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isl = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("rn", row_number().over(w))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w) === col("event_type"), lit(0))
          .otherwise(lit(1)))
      .withColumn("island", sum(col("chg")).over(wRun))
      .groupBy("user_id", "island")
      .agg(min(col("event_type")).as("event_type"),
        count(lit(1)).as("run_len"),
        min(col("rn")).as("srn"),
        min_by(col("event_id"), col("rn")).as("first_eid"))
    val w2 = Window.partitionBy("user_id").orderBy("srn")
    isl
      .withColumn("prev_type", lag(col("event_type"), 1).over(w2))
      .withColumn("next_type", lead(col("event_type"), 1).over(w2))
      .withColumn("next_eid", lead(col("first_eid"), 1).over(w2))
      .filter(col("event_type") === "click" &&
        col("prev_type") === "view" && col("next_type") === "purchase")
      .select(col("user_id"), col("run_len").as("n_clicks"),
        col("next_eid").as("purchase_id"))
      .orderBy("user_id", "purchase_id")
  }
}
