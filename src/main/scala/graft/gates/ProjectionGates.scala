package graft.gates

import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Projection and filters (SURVEY §2.2). */
private[graft] object ProjectionGates {
  val gates: Seq[Gate] = Seq(
    // P3: narrow projection (dataset_utils.py:145)
    Gate("q_p3_project", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .orderBy(col("p_partkey")),
      Sql(() => "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey")),

    // P4: selectExpr SQL-expression projection (helper_methods.py:162)
    Gate("q_p4_selectexpr", (s, dir) =>
      t(s, dir, "lineitem")
        .selectExpr("max(l_extendedprice) / min(l_extendedprice) AS price_ratio"),
      Sql(() => "SELECT MAX(l_extendedprice) / MIN(l_extendedprice) AS price_ratio FROM lineitem")),

    // P5 + P6: conjunctive null/value predicates (dataset_utils.py:123-124)
    Gate("q_p5_filter_conj", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity").isNotNull && col("l_discount") > 0.05 &&
          col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Sql(() => """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_discount > 0.05 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // P7: string-expression filter through the Catalyst SQL parser
    // (helper_methods.py:176)
    Gate("q_p7_sql_filter", (s, dir) =>
      t(s, dir, "orders")
        .filter("o_totalprice > 150000.0")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey")),
      Sql(() => """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 150000.0 ORDER BY o_orderkey""".stripMargin)),

    // P8 / F9: IN-list filter (dataset_utils.py:15-17, custom_features.py:55)
    Gate("q_p8_isin", (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#7", "Brand#13"))
        .select(col("p_partkey"), col("p_brand"))
        .orderBy(col("p_partkey")),
      Sql(() => """SELECT p_partkey, p_brand FROM part
        |WHERE p_brand IN ('Brand#1', 'Brand#7', 'Brand#13')
        |ORDER BY p_partkey""".stripMargin)),

    // P9 rewrite: ALL per-column null counts in one pass
    // (vs one job per column, helper_methods.py:68 — SURVEY §4.3)
    Gate("q_p9_null_counts", (s, dir) =>
      t(s, dir, "lineitem").agg(
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("nn_qty"),
        sum(when(col("l_discount").isNull, 1L).otherwise(0L)).as("nn_discount"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("nn_ship")),
      Sql(() => """SELECT CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_qty,
        |       CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_discount,
        |       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_ship
        |FROM lineitem""".stripMargin)),

    // P-missing: missingness-pattern table — map-side null masks into
    // one hash aggregate; planted correlated nulls
    Gate("q_p_missing", (s, dir) =>
      graft.operators.Profiling.missingPatterns(
          t(s, dir, "events").select(
            when(col("event_id") % 7 === 0, lit(null))
              .otherwise(col("value")).as("value"),
            when(col("event_id") % 11 === 0, lit(null))
              .otherwise(col("props")).as("props"),
            col("event_type")),
          Seq("value", "props", "event_type"))
        .orderBy(col("pattern")),
      // missingness patterns: identical planted masks
      Sql(() => """WITH e AS (
        |  SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v,
        |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE props END AS p,
        |    event_type AS t
        |  FROM events)
        |SELECT (CASE WHEN v IS NOT NULL THEN '1' ELSE '0' END ||
        |        CASE WHEN p IS NOT NULL THEN '1' ELSE '0' END ||
        |        CASE WHEN t IS NOT NULL THEN '1' ELSE '0' END) AS pattern,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1 ORDER BY pattern""".stripMargin))
  )
}
