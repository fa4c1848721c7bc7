package graft.gates

import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Set operations (SURVEY §2.7). */
private[graft] object SetOpGates {
  val gates: Seq[Gate] = Seq(
    // SO1: EXCEPT DISTINCT (dataset_utils.py:14). Same planted-key
    // de-vacuation as q_j2_anti: every custkey appears in orders, so 25
    // negative keys ride the left side to keep the output non-empty.
    Gate("q_so1_except", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey").as("key"))
        .union(t(s, dir, "nation")
          .select((-col("n_nationkey").cast("bigint") - lit(1L)).as("key")))
        .except(t(s, dir, "orders").select(col("o_custkey").as("key")))
        .orderBy(col("key")),
      Sql(() => """SELECT key FROM (
        |  SELECT c_custkey AS key FROM customer
        |  UNION ALL
        |  SELECT CAST(-n_nationkey - 1 AS BIGINT) FROM nation)
        |EXCEPT SELECT o_custkey AS key FROM orders
        |ORDER BY key""".stripMargin)),

    // SO: UNION DISTINCT + INTERSECT counts in one row
    Gate("q_so2_union_intersect", (s, dir) => {
      val ck = t(s, dir, "customer").select(col("c_nationkey").as("k"))
      val nk = t(s, dir, "nation").select(col("n_nationkey").as("k"))
      val u = ck.union(nk).distinct().agg(count(lit(1)).as("n_union"))
      val i = ck.intersect(nk).agg(count(lit(1)).as("n_intersect"))
      u.crossJoin(i)
    },
      Sql(() => """SELECT
        |  (SELECT COUNT(*) FROM (SELECT c_nationkey AS k FROM customer
        |    UNION SELECT n_nationkey FROM nation)) AS n_union,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT c_nationkey AS k FROM customer
        |    INTERSECT SELECT n_nationkey FROM nation)) AS n_intersect""".stripMargin)),

    // SO-all: multiset set ops — EXCEPT ALL / INTERSECT ALL keep
    // duplicate multiplicity (the DISTINCT variants above collapse it);
    // lineitem's repeated (orderkey) values make multiplicity observable
    Gate("q_so_all", (s, dir) => {
      val a = t(s, dir, "lineitem").filter(col("l_linenumber") <= 4)
        .select(col("l_orderkey").as("key"))
      val b = t(s, dir, "lineitem").filter(col("l_linenumber") >= 3)
        .select(col("l_orderkey").as("key"))
      a.exceptAll(b).groupBy(col("key")).agg(count(lit(1)).as("n_except"))
        .join(a.intersectAll(b).groupBy(col("key"))
          .agg(count(lit(1)).as("n_intersect")), Seq("key"), "full_outer")
        .select(col("key"),
          coalesce(col("n_except"), lit(0L)).as("n_except"),
          coalesce(col("n_intersect"), lit(0L)).as("n_intersect"))
        .orderBy(col("key"))
    },
      // multiset set ops: same EXCEPT ALL / INTERSECT ALL per-key tallies
      Sql(() => """WITH a AS (SELECT l_orderkey AS key FROM lineitem WHERE l_linenumber <= 4),
        |b AS (SELECT l_orderkey AS key FROM lineitem WHERE l_linenumber >= 3),
        |ea AS (SELECT key, count(*) AS n_except
        |       FROM (SELECT key FROM a EXCEPT ALL SELECT key FROM b) GROUP BY key),
        |ia AS (SELECT key, count(*) AS n_intersect
        |       FROM (SELECT key FROM a INTERSECT ALL SELECT key FROM b) GROUP BY key)
        |SELECT COALESCE(ea.key, ia.key) AS key,
        |       CAST(COALESCE(n_except, 0) AS BIGINT) AS n_except,
        |       CAST(COALESCE(n_intersect, 0) AS BIGINT) AS n_intersect
        |FROM ea FULL OUTER JOIN ia ON ea.key = ia.key
        |ORDER BY key""".stripMargin)),

    // SO-byname: union by NAME with missing columns — heterogeneous
    // batches align on column names (missing ones null-fill), the
    // position-blind union long-lived pipelines need
    Gate("q_so_union_byname", (s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.filter(col("doc_id") < 250).select("doc_id", "lang")
      val b = d.filter(col("doc_id") >= 250).select("doc_id", "n_chars")
      a.unionByName(b, allowMissingColumns = true)
        .agg(count(lit(1)).as("n"),
          count(col("lang")).as("n_lang"),
          count(col("n_chars")).as("n_chars_present"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    },
      // union by name: emulated with explicit NULL columns
      Sql(() => """WITH u AS (
        |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, n_chars
        |  FROM documents WHERE doc_id >= 250)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(lang) AS BIGINT) AS n_lang,
        |  CAST(count(n_chars) AS BIGINT) AS n_chars_present,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM u""".stripMargin))
  )
}
