package graft.gates

import graft.Gate, Gate.Sql
import Shared._

/** SQL-text gates: queries run through `spark.sql`. */
private[graft] object SqlGates {
  val gates: Seq[Gate] = Seq(
    // SQL entry path: temp views + spark.sql through the full parser
    // (same Catalyst pipeline; proves the SQL front door)
    Gate("q_sql_entry", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS qty
          |FROM v_lineitem JOIN v_orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },
      Sql(() => """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // SQL-q3: the TPC-H Q3 shape (shipping-priority revenue) through
    // the SQL surface — a 3-way selective join; AQE broadcasts the
    // filtered customer side, revenue is a decimal-exact sum, top-10
    // via TakeOrderedAndProject
    Gate("q_sql_q3", (s, dir) => {
      // temp views are session-global shared state — suffix with the
      // per-sfDir runToken (the bucketed-catalog rule) so concurrent
      // runs on different scale factors can't race each other's views
      val tk = runToken(dir)
      t(s, dir, "customer").createOrReplaceTempView(s"q3_customer_$tk")
      t(s, dir, "orders").createOrReplaceTempView(s"q3_orders_$tk")
      t(s, dir, "lineitem").createOrReplaceTempView(s"q3_lineitem_$tk")
      s.sql(
        s"""SELECT l_orderkey,
          |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 6)
          |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
          |  CAST(o_orderdate AS DATE) AS o_orderdate
          |FROM q3_customer_$tk
          |JOIN q3_orders_$tk ON c_custkey = o_custkey
          |JOIN q3_lineitem_$tk ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < DATE '1998-01-01'
          |  AND l_shipdate > DATE '1998-01-01'
          |GROUP BY l_orderkey, o_orderdate
          |ORDER BY revenue DESC, l_orderkey
          |LIMIT 10""".stripMargin)
    },
      // TPC-H Q3 shape: identical SQL over the raw tables
      Sql(() => """SELECT l_orderkey,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 6)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1998-01-01'
        |  AND l_shipdate > DATE '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)),

    // SQL-q5: the TPC-H Q5 shape (local-supplier revenue by nation) —
    // a 6-way join where the dimension chain (region→nation→supplier)
    // broadcasts and only the fact-side joins shuffle
    Gate("q_sql_q5", (s, dir) => {
      // same per-sfDir view isolation as q_sql_q3
      val tk = runToken(dir)
      t(s, dir, "customer").createOrReplaceTempView(s"q5_customer_$tk")
      t(s, dir, "orders").createOrReplaceTempView(s"q5_orders_$tk")
      t(s, dir, "lineitem").createOrReplaceTempView(s"q5_lineitem_$tk")
      t(s, dir, "supplier").createOrReplaceTempView(s"q5_supplier_$tk")
      t(s, dir, "nation").createOrReplaceTempView(s"q5_nation_$tk")
      t(s, dir, "region").createOrReplaceTempView(s"q5_region_$tk")
      s.sql(
        s"""SELECT n_name,
          |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 6)
          |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
          |FROM q5_customer_$tk
          |JOIN q5_orders_$tk ON c_custkey = o_custkey
          |JOIN q5_lineitem_$tk ON l_orderkey = o_orderkey
          |JOIN q5_supplier_$tk ON l_suppkey = s_suppkey
          |  AND c_nationkey = s_nationkey
          |JOIN q5_nation_$tk ON s_nationkey = n_nationkey
          |JOIN q5_region_$tk ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= DATE '1996-01-01'
          |  AND o_orderdate < DATE '1997-01-01'
          |GROUP BY n_name
          |ORDER BY n_name""".stripMargin)
    },
      // TPC-H Q5 shape: identical SQL over the raw tables
      Sql(() => """SELECT n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 6)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1997-01-01'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin))
  )
}
