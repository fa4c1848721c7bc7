package graft.gates

import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Graph operators over edge lists derived from the fixtures. */
private[graft] object GraphGates {
  val gates: Seq[Gate] = Seq(
    // X-graph: PageRank over a linkage graph — link-authority weighting
    // (the crawl-domain quality prior for corpus curation) as pure
    // relational algebra: 5 iterations, each a keyed join + decimal-
    // accumulated aggregation, the dangling mass a 1-row broadcast.
    // Suppliers are negated so the bipartite node id spaces can't
    // collide. Fully oracled through the generated unrolled-CTE twin.
    Gate("q_x_pagerank", (s, dir) => {
      val e = t(s, dir, "lineitem")
        .select((-col("l_suppkey")).as("src"), col("l_partkey").as("dst"))
      graft.operators.Graph.pageRank(s, e, iters = 5)
        .orderBy(col("rank").desc, col("node"))
        .limit(30)
    },
      // PageRank: the 5-iteration loop as generated chained CTEs — decimal
      // contribution sums and per-iteration 12-place rounding make every
      // round bit-identical across engines
      Sql(() => (graft.operators.Graph.pageRankOracleSql(
        "SELECT -l_suppkey AS src, l_partkey AS dst FROM lineitem", 5) +
        "\nORDER BY rank DESC, node LIMIT 30"))),

    // X-triangles: exact triangle count by canonical wedge closure over
    // the 50-node modulo projection of lineitem — two equi-joins plus a
    // grand total, the distributed-triangle textbook shape
    Gate("q_x_triangles", (s, dir) =>
      graft.operators.Graph.triangleCount(
        t(s, dir, "lineitem").select(
          (col("l_orderkey") % 50).as("u"),
          (col("l_partkey") % 50).as("v")), "u", "v"),
      // triangle count: identical normalization (least/greatest, self-loop
      // drop, distinct) and canonical wedge-closure joins
      Sql(() => """WITH und AS (
        |  SELECT DISTINCT LEAST(l_orderkey % 50, l_partkey % 50) AS a,
        |                  GREATEST(l_orderkey % 50, l_partkey % 50) AS b
        |  FROM lineitem
        |  WHERE l_orderkey % 50 <> l_partkey % 50)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM und e1
        |JOIN und e2 ON e2.a = e1.b
        |JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin)),

    // X-hits: HITS hubs/authorities over the directed mod-50 lineitem
    // projection — 3 rounds, L1-normalized half-steps, generated
    // unrolled-CTE oracle (the pageRank regime)
    Gate("q_x_hits", (s, dir) =>
      graft.operators.Graph.hits(s,
          t(s, dir, "lineitem").select(
            (col("l_orderkey") % 50).as("src"),
            (col("l_partkey") % 50).as("dst"))
            .where(col("src") =!= col("dst")),
          iters = 3)
        .orderBy(col("node")),
      // HITS: generated unrolled half-step CTEs from the same iters
      Sql(() => graft.operators.Graph.hitsOracleSql(
      """SELECT l_orderkey % 50 AS src, l_partkey % 50 AS dst
        |FROM lineitem WHERE l_orderkey % 50 <> l_partkey % 50""".stripMargin,
      iters = 3))),

    // X-lpa: deterministic label-propagation communities over the
    // same-parity mod-50 lineitem graph (two structural halves CC would
    // also split — but LPA is gated on the fixed-round label DYNAMICS,
    // pure integer counting, generated CTE oracle)
    Gate("q_x_lpa", (s, dir) =>
      graft.operators.Graph.labelPropagation(s,
          t(s, dir, "lineitem").select(
            (col("l_orderkey") % 50).as("src"),
            (col("l_partkey") % 50).as("dst"))
            .where((col("src") % 2) === (col("dst") % 2)),
          iters = 3)
        .orderBy(col("node")),
      // LPA: generated vote/pick rounds, integer-only
      Sql(() => graft.operators.Graph.lpaOracleSql(
      """SELECT l_orderkey % 50 AS src, l_partkey % 50 AS dst
        |FROM lineitem
        |WHERE (l_orderkey % 50) % 2 = (l_partkey % 50) % 2""".stripMargin,
      iters = 3))),

    // X-kcore: 3-core of the sparse mod-97 lineitem projection — six
    // peel rounds (fixpoint + idempotent margin at both SFs), integer
    // degree output, generated unrolled-CTE oracle
    Gate("q_x_kcore", (s, dir) =>
      graft.operators.Graph.kCore(s,
          t(s, dir, "lineitem")
            .where(col("l_quantity") <= 2)
            .select((col("l_orderkey") % 97).as("src"),
              (col("l_partkey") % 97).as("dst")),
          k = 3, rounds = 6)
        .orderBy(col("node")),
      // k-core: generated unrolled peel rounds, integer-only
      Sql(() => graft.operators.Graph.kCoreOracleSql(
      """SELECT l_orderkey % 97 AS src, l_partkey % 97 AS dst
        |FROM lineitem WHERE l_quantity <= 2""".stripMargin,
      k = 3, rounds = 6))),

    // X-bfs: bounded-horizon BFS distances from node 0 over the same
    // sparse projection — 4 synchronous relax-and-min rounds (nodes
    // beyond 4 hops absent: the bounded-horizon contract, exercised at
    // sf0.001 where the graph's eccentricity exceeds 4)
    Gate("q_x_bfs", (s, dir) =>
      graft.operators.Graph.bfsDistances(s,
          t(s, dir, "lineitem")
            .where(col("l_quantity") <= 2)
            .select((col("l_orderkey") % 97).as("src"),
              (col("l_partkey") % 97).as("dst")),
          source = 0L, maxDepth = 4)
        .orderBy(col("node")),
      // BFS: generated relax-and-min rounds, integer-only
      Sql(() => graft.operators.Graph.bfsOracleSql(
      """SELECT l_orderkey % 97 AS src, l_partkey % 97 AS dst
        |FROM lineitem WHERE l_quantity <= 2""".stripMargin,
      source = 0L, maxDepth = 4))),

    // X-linkpred: common-neighbor + Adamic-Adar link scores over the
    // sparse mod-150 quantity≤10 lineitem projection (density tuned so
    // BOTH SFs leave thousands of non-adjacent candidate pairs) —
    // wedge-join candidates (triangle regime, Σdeg² not pairs²),
    // broadcast degree table, one anti-join against existing edges
    Gate("q_x_linkpred", (s, dir) =>
      graft.operators.Graph.linkPrediction(
          t(s, dir, "lineitem").where(col("l_quantity") <= 10)
            .select(
              (col("l_orderkey") % 150).as("u"),
              (col("l_partkey") % 150).as("v")),
          "u", "v", minCommon = 2)
        .orderBy(col("u"), col("v")),
      // link prediction: the same wedge join + NOT EXISTS anti-join,
      // per-witness 1/ln(deg) rounded into a decimal sum
      Sql(() => """WITH e AS (
        |  SELECT DISTINCT
        |    least(l_orderkey % 150, l_partkey % 150) AS a,
        |    greatest(l_orderkey % 150, l_partkey % 150) AS b
        |  FROM lineitem
        |  WHERE l_orderkey % 150 <> l_partkey % 150 AND l_quantity <= 10),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT a AS w, count(*) AS d FROM sym GROUP BY a),
        |wed AS (
        |  SELECT s1.a AS w, s1.b AS u, s2.b AS v
        |  FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b),
        |cand AS (
        |  SELECT w, u, v FROM wed
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = wed.u AND e.b = wed.v))
        |SELECT u, v, CAST(count(*) AS BIGINT) AS cn,
        |  ROUND(CAST(SUM(CAST(ROUND(1.0 / ln(CAST(d AS DOUBLE)), 9)
        |    AS DECIMAL(38,9))) AS DOUBLE), 6) AS aa
        |FROM cand JOIN deg USING (w)
        |GROUP BY u, v HAVING count(*) >= 2
        |ORDER BY u, v""".stripMargin)),

    // X-assortativity: degree-mixing correlation over the sparse
    // projection — broadcast degree relation onto the symmetrized
    // edges, one aggregate of integer-exact decimal sums
    Gate("q_x_assortativity", (s, dir) =>
      graft.operators.Graph.assortativity(
          t(s, dir, "lineitem").where(col("l_quantity") <= 10)
            .select(
              (col("l_orderkey") % 150).as("u"),
              (col("l_partkey") % 150).as("v")),
          "u", "v"),
      // assortativity: identical degree join + fixed-order closed form
      Sql(() => """WITH e AS (
        |  SELECT DISTINCT
        |    least(l_orderkey % 150, l_partkey % 150) AS a,
        |    greatest(l_orderkey % 150, l_partkey % 150) AS b
        |  FROM lineitem
        |  WHERE l_orderkey % 150 <> l_partkey % 150 AND l_quantity <= 10),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT a AS n, count(*) AS d FROM sym GROUP BY a),
        |j AS (
        |  SELECT du.d AS x, dv.d AS y
        |  FROM sym JOIN deg du ON sym.a = du.n JOIN deg dv ON sym.b = dv.n),
        |g AS (
        |  SELECT count(*) AS ne,
        |    CAST(SUM(CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy
        |  FROM j)
        |SELECT CAST(ne AS BIGINT) AS n_edges,
        |  CASE WHEN CAST(ne AS DOUBLE) * sxx - sx * sx > 0
        |        AND CAST(ne AS DOUBLE) * syy - sy * sy > 0
        |  THEN ROUND((CAST(ne AS DOUBLE) * sxy - sx * sy) /
        |    sqrt((CAST(ne AS DOUBLE) * sxx - sx * sx) *
        |         (CAST(ne AS DOUBLE) * syy - sy * sy)), 6) END AS r
        |FROM g""".stripMargin)),

    // X-clustercoef: per-node local clustering coefficient — canonical
    // triangle enumeration charged to all three members, joined to the
    // node-sized degree table
    Gate("q_x_clustercoef", (s, dir) =>
      graft.operators.Graph.clusteringCoefficient(
          t(s, dir, "lineitem").where(col("l_quantity") <= 10)
            .select(
              (col("l_orderkey") % 150).as("u"),
              (col("l_partkey") % 150).as("v")),
          "u", "v")
        .orderBy(col("node")),
      // clustering coefficient: canonical triangle enumeration charged to
      // all three members, identical fixed-order double
      Sql(() => """WITH e AS (
        |  SELECT DISTINCT
        |    least(l_orderkey % 150, l_partkey % 150) AS a,
        |    greatest(l_orderkey % 150, l_partkey % 150) AS b
        |  FROM lineitem
        |  WHERE l_orderkey % 150 <> l_partkey % 150 AND l_quantity <= 10),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (
        |  SELECT node, count(*) AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY 1)
        |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_tri,
        |  ROUND(2.0 * COALESCE(tn.n_tri, 0)
        |        / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS cc
        |FROM deg d LEFT JOIN tn USING (node)
        |WHERE d.deg >= 2 ORDER BY d.node""".stripMargin)),

    // X-degdist: degree distribution of the sparse projection — two
    // keyed aggregates; the Σdeg² wedge-volume diagnostic that prices
    // the triangle/linkpred family before running it
    Gate("q_x_degree_dist", (s, dir) =>
      graft.operators.Graph.degreeHistogram(
          t(s, dir, "lineitem").where(col("l_quantity") <= 10)
            .select(
              (col("l_orderkey") % 150).as("u"),
              (col("l_partkey") % 150).as("v")),
          "u", "v")
        .orderBy(col("deg")),
      // degree distribution: two grouped counts over the symmetrized
      // canonical edge set
      Sql(() => """WITH e AS (
        |  SELECT DISTINCT
        |    least(l_orderkey % 150, l_partkey % 150) AS a,
        |    greatest(l_orderkey % 150, l_partkey % 150) AS b
        |  FROM lineitem
        |  WHERE l_orderkey % 150 <> l_partkey % 150 AND l_quantity <= 10),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |d AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY a)
        |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM d GROUP BY deg ORDER BY deg""".stripMargin)),

    // X-powerlaw: log-log OLS fit of the degree distribution (the
    // power-law exponent estimate) — degreeHistogram composed into
    // groupOls; ln runs on exact integer-valued doubles in both engines
    Gate("q_x_powerlaw", (s, dir) =>
      graft.operators.Profiling.groupOls(
        graft.operators.Graph.degreeHistogram(
            t(s, dir, "lineitem").where(col("l_quantity") <= 10)
              .select(
                (col("l_orderkey") % 150).as("u"),
                (col("l_partkey") % 150).as("v")),
            "u", "v")
          .select(lit("deg_dist").as("g"),
            log(col("deg").cast("double")).as("lx"),
            log(col("n_nodes").cast("double")).as("ly")),
        "g", "lx", "ly"),
      // power-law fit: ln of exact integer ratios into the q_a_ols
      // algebra, identical fixed-order closed form
      Sql(() => """WITH e AS (
        |  SELECT DISTINCT
        |    least(l_orderkey % 150, l_partkey % 150) AS a,
        |    greatest(l_orderkey % 150, l_partkey % 150) AS b
        |  FROM lineitem
        |  WHERE l_orderkey % 150 <> l_partkey % 150 AND l_quantity <= 10),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |d AS (SELECT a, count(*) AS deg FROM sym GROUP BY a),
        |h AS (SELECT deg, count(*) AS n_nodes FROM d GROUP BY deg),
        |l AS (
        |  SELECT ln(CAST(deg AS DOUBLE)) AS lx,
        |    ln(CAST(n_nodes AS DOUBLE)) AS ly
        |  FROM h),
        |g AS (
        |  SELECT count(*) AS n,
        |    CAST(SUM(CAST(ROUND(lx, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(ly, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(lx * ly, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(ROUND(lx * lx, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ROUND(ly * ly, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM l)
        |SELECT 'deg_dist' AS g, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0
        |       THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0
        |       THEN ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) END AS intercept,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |       THEN ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS r2
        |FROM g""".stripMargin))
  )
}
