package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Joins (SURVEY §2.3): dimension, semi/anti, outer, as-of, range
  * and spatial joins. */
private[graft] object JoinGates {
  val gates: Seq[Gate] = Seq(
    // J1: fact ⋈ broadcast dim + aggregate (dataset_utils.py:47-50)
    Gate("q_j1_dim_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },
      Sql(() => """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // J1 at fact-fact scale: lineitem ⋈ orders (shuffle join path; at 100 TB
    // this is the bucketed/sort-merge join, not a broadcast)
    Gate("q_j1_fact_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
      Sql(() => """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // J2: anti-join — keys on the left with no match on the right
    // (rewrite of the reference's collect+isin, dataset_utils.py:12-17).
    // Every fixture custkey has an order, so 25 MISSING keys are planted
    // (negative, derived from nation — deterministic, order-free) to make
    // the gate non-vacuous: a broken anti-join can no longer hash-match
    // on an empty output.
    Gate("q_j2_anti", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val planted = t(s, dir, "nation")
        .select((-col("n_nationkey").cast("bigint") - lit(1L)).as("c_custkey"))
      val o = t(s, dir, "orders")
      c.union(planted)
        .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    },
      Sql(() => """WITH cust AS (
        |  SELECT c_custkey FROM customer
        |  UNION ALL
        |  SELECT CAST(-n_nationkey - 1 AS BIGINT) FROM nation)
        |SELECT c_custkey FROM cust c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    // J2 dual: semi-join (EXISTS)
    Gate("q_j_semi", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    },
      Sql(() => """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    // J1 chained: star-schema dim chain, both dims broadcast
    Gate("q_j_multi_dim", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("r_name"))
    },
      Sql(() => """SELECT r_name, COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // J-outer: full-outer join — both unmatched sides surface with nulls
    // (the only outer shape not already gated); per-side null census
    // proves the preserved rows
    Gate("q_j_outer", (s, dir) => {
      val odd = t(s, dir, "nation").filter(col("n_nationkey") % 2 === 1)
        .select(col("n_nationkey").as("k"), col("n_name"))
      val low = t(s, dir, "nation").filter(col("n_nationkey") < 13)
        .select(col("n_nationkey").as("k"), col("n_regionkey"))
      odd.join(low, Seq("k"), "full_outer")
        .select(col("k"), col("n_name"), col("n_regionkey"))
        .orderBy(col("k"))
    },
      // full outer join: identical preserved-row semantics
      Sql(() => """SELECT COALESCE(o.k, l.k) AS k, o.n_name, l.n_regionkey
        |FROM (SELECT n_nationkey AS k, n_name FROM nation
        |      WHERE n_nationkey % 2 = 1) o
        |FULL OUTER JOIN (SELECT n_nationkey AS k, n_regionkey FROM nation
        |      WHERE n_nationkey < 13) l ON o.k = l.k
        |ORDER BY k""".stripMargin)),

    // J-asof: point-in-time lookup — every event joined to the latest
    // 'purchase' event of the same user at or before it (AsOfJoin: tagged
    // union + running last() — ONE shuffle on the key; DuckDB's native
    // ASOF JOIN is the oracle)
    Gate("q_j_asof", (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("rt"), col("value").as("rv"))
      graft.operators.AsOfJoin.backward(
        e.select(col("event_id"), col("user_id"), col("ts")),
        purchases, Seq("user_id"), "ts", "rt", Seq("rv"))
        .select(col("event_id"),
          coalesce(col("asof_rv"), lit(-1.0)).as("prev_purchase_value"))
        .orderBy(col("event_id"))
    },
      Sql(() => """SELECT e.event_id,
        |       COALESCE(p.value, -1.0) AS prev_purchase_value
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin)),

    // J-asof-fwd: the forward dual — every event joined to the EARLIEST
    // 'purchase' of the same user at or after it (DuckDB ASOF with <=)
    Gate("q_j_asof_fwd", (s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("rt"), col("value").as("rv"))
      graft.operators.AsOfJoin.forward(
        e.select(col("event_id"), col("user_id"), col("ts")),
        purchases, Seq("user_id"), "ts", "rt", Seq("rv"))
        .select(col("event_id"),
          coalesce(col("asof_rv"), lit(-1.0)).as("next_purchase_value"))
        .orderBy(col("event_id"))
    },
      Sql(() => """SELECT e.event_id,
        |       COALESCE(p.value, -1.0) AS next_purchase_value
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts <= p.ts
        |ORDER BY e.event_id""".stripMargin)),

    // J-nullsafe: null-safe equi-join (<=>) — null bucket keys MATCH the
    // dim's null row instead of dropping, the semantics a dimension join
    // over nullable foreign keys needs
    Gate("q_j_nullsafe", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          when(col("value").isNull, lit(null).cast("bigint"))
            .otherwise(floor(col("value") / 50).cast("bigint")).as("vb"))
      val dim = ev.select(col("vb")).distinct()
        .select(col("vb").as("vb2"),
          coalesce(col("vb").cast("string"), lit("null-bucket")).as("label"))
      ev.join(dim, col("vb") <=> col("vb2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"))
    },
      // null-safe join: IS NOT DISTINCT FROM == Spark's <=>
      Sql(() => """WITH ev AS (
        |  SELECT event_id,
        |    CASE WHEN value IS NULL THEN NULL
        |         ELSE CAST(FLOOR(value / 50) AS BIGINT) END AS vb
        |  FROM events),
        |dim AS (
        |  SELECT vb AS vb2,
        |    COALESCE(CAST(vb AS VARCHAR), 'null-bucket') AS label
        |  FROM (SELECT DISTINCT vb FROM ev))
        |SELECT label, CAST(count(*) AS BIGINT) AS n
        |FROM ev JOIN dim ON ev.vb IS NOT DISTINCT FROM dim.vb2
        |GROUP BY label ORDER BY label""".stripMargin)),

    // J-spatial: grid-bucketed radius join — cell-quantized equi-join +
    // exact refine (the 2-D bandJoin): right side keys by its cell, left
    // explodes to the 3×3 neighborhood map-side, candidates bounded by
    // cell occupancy, never n²; no BroadcastNestedLoopJoin (locked in
    // PlanShapeSpec). Coordinates synthesized deterministically from the
    // events slices.
    Gate("q_j_spatial", (s, dir) => {
      def pts(m: Long) = t(s, dir, "events")
        .where(col("event_id") % 29 === m)
        .select(col("event_id"),
          col("value").as("x"),
          (col("event_id") % 331).cast("double").as("y"))
      graft.operators.Spatial.radiusJoin(
          pts(0).withColumnRenamed("event_id", "lid"),
          pts(1).withColumnRenamed("event_id", "rid"),
          "lid", "rid", "x", "y", radius = 25.0)
        .orderBy(col("lid"), col("rid"))
    },
      // spatial radius join: naive cross-join filter — the IEEE squared
      // distance and radius² compare identically in both engines
      Sql(() => """WITH l AS (
        |  SELECT event_id AS lid, value AS xl,
        |    CAST(event_id % 331 AS DOUBLE) AS yl
        |  FROM events WHERE event_id % 29 = 0 AND value IS NOT NULL),
        |r AS (
        |  SELECT event_id AS rid, value AS xr,
        |    CAST(event_id % 331 AS DOUBLE) AS yr
        |  FROM events WHERE event_id % 29 = 1 AND value IS NOT NULL)
        |SELECT lid, rid,
        |  ROUND(SQRT((xl-xr)*(xl-xr) + (yl-yr)*(yl-yr)), 6) AS dist
        |FROM l, r
        |WHERE (xl-xr)*(xl-xr) + (yl-yr)*(yl-yr) <= 625.0
        |ORDER BY lid, rid""".stripMargin)),

    // J-range: band (range) join — points equi-joined to quantized range
    // buckets then refined, instead of the BroadcastNestedLoopJoin a raw
    // BETWEEN join plans (quadratic at scale; no-BNLJ asserted in
    // PlanShapeSpec). Overlapping price bands over orders.
    Gate("q_j_range", (s, dir) => {
      val bands = t(s, dir, "nation")
        .select(col("n_nationkey").as("band_id"),
          (col("n_nationkey").cast("double") * 8000.0).as("lo"),
          (col("n_nationkey").cast("double") * 8000.0 + 19999.0).as("hi"))
      graft.operators.RangeJoin.bandJoin(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          "o_totalprice", bands, "lo", "hi", bucketWidth = 8000L)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(38,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("band_id"))
    },
      // range join: the oracle uses the raw BETWEEN join — a hash match
      // proves the bucket-explode + refine rewrite is exactly equivalent
      Sql(() => """WITH bands AS (
        |  SELECT n_nationkey AS band_id,
        |         CAST(n_nationkey AS DOUBLE) * 8000.0 AS lo,
        |         CAST(n_nationkey AS DOUBLE) * 8000.0 + 19999.0 AS hi
        |  FROM nation)
        |SELECT band_id, CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN bands
        |  ON o_totalprice >= lo AND o_totalprice <= hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin)),

    // J-haversine: great-circle nearest-hub assignment — synthetic
    // lat/lon from the key, a 5-row broadcast city panel, one scoring
    // pass + per-customer rank; radians via an explicit literal so
    // both engines multiply the same constant
    Gate("q_j_haversine", (s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        ((col("c_custkey") % 140).cast("double") - 70.0 + 0.5).as("lat"),
        (((col("c_custkey") * 7) % 360).cast("double") - 180.0 + 0.5)
          .as("lon"))
      import s.implicits._
      val cities = Seq(("cairo", 30.04, 31.24), ("nyc", 40.71, -74.0),
        ("paris", 48.85, 2.35), ("sydney", -33.87, 151.21),
        ("tokyo", 35.68, 139.69)).toDF("city", "clat", "clon")
      val rad = lit(0.017453292519943295)
      val sLat = sin((col("clat") - col("lat")) * rad / 2)
      val sLon = sin((col("clon") - col("lon")) * rad / 2)
      val a = sLat * sLat +
        cos(col("lat") * rad) * cos(col("clat") * rad) * sLon * sLon
      val scored = cust.crossJoin(broadcast(cities))
        .select(col("c_custkey"), col("city"),
          round(lit(12742.0) * asin(sqrt(a)), 6).as("dist"))
      val w = Window.partitionBy(col("c_custkey"))
        .orderBy(col("dist"), col("city"))
      scored.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .groupBy(col("city"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("dist").cast("decimal(38,6)")).cast("double") /
            count(lit(1)), 6).as("avg_km"))
        .orderBy(col("city"))
    },
      // haversine: identical synthetic coordinates, explicit radians
      // literal, fixed-order formula, round-6 distances before ranking
      Sql(() => """WITH cust AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 140 AS DOUBLE) - 70.0 + 0.5 AS lat,
        |    CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.5 AS lon
        |  FROM customer),
        |cities(city, clat, clon) AS (VALUES
        |  ('cairo', 30.04, 31.24), ('nyc', 40.71, -74.0),
        |  ('paris', 48.85, 2.35), ('sydney', -33.87, 151.21),
        |  ('tokyo', 35.68, 139.69)),
        |sc AS (
        |  SELECT c_custkey, city,
        |    ROUND(12742.0 * asin(sqrt(
        |      sin((clat - lat) * 0.017453292519943295 / 2)
        |        * sin((clat - lat) * 0.017453292519943295 / 2)
        |      + cos(lat * 0.017453292519943295) * cos(clat * 0.017453292519943295)
        |        * sin((clon - lon) * 0.017453292519943295 / 2)
        |        * sin((clon - lon) * 0.017453292519943295 / 2))), 6) AS dist
        |  FROM cust CROSS JOIN cities),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY dist, city) AS rn
        |  FROM sc)
        |SELECT city, CAST(count(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(dist AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6)
        |    AS avg_km
        |FROM r WHERE rn = 1
        |GROUP BY city ORDER BY city""".stripMargin))
  )
}
