package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins the SQL of every [[VectorTwinSql]] builder against hand-written
  * text for small inputs (dim 3, a 2-row codebook). The generated DuckDB
  * twins inherit their fold order, casts, rounding and tie order from
  * these builders, so a change to any of them fails here, not only in
  * the DuckDB compare. No Spark session: the builders are text only. */
class VectorTwinSqlSpec extends AnyFunSuite {
  private val tw = VectorTwinSql

  // hand-written folds over i = 1..3
  private def dot3(x: String, y: String) =
    s"list_reduce(list_transform(range(1, 4), " +
      s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (a, b) -> a + b)"
  private def cos3(x: String, y: String) =
    s"${dot3(x, y)}\n      / (sqrt(${dot3(x, x)}) * sqrt(${dot3(y, y)}))"

  /** A 2-row codebook: one exact row and one widened float row. */
  private val book = Seq((0, Array(1.0, 0.0, 0.5)),
    (1, Array(0.1f, -2f, 3f).map(_.toDouble)))

  test("folds are left folds over 1-based indices with DOUBLE elements") {
    assert(tw.fold(3, "t(i)") ==
      "list_reduce(list_transform(range(1, 4), i -> t(i)), (a, b) -> a + b)")
    assert(tw.dot(3, "x", "y") == "list_reduce(list_transform(range(1, 4), " +
      "i -> CAST(x[i] AS DOUBLE) * CAST(y[i] AS DOUBLE)), (a, b) -> a + b)")
    assert(tw.norm(3, "x") == s"sqrt(${dot3("x", "x")})")
    assert(tw.cosine(3, "x", "y") ==
      s"${dot3("x", "y")}\n      / (sqrt(${dot3("x", "x")}) * sqrt(${dot3("y", "y")}))")
  }

  test("literal dots and slice distances keep their literal and offset form") {
    assert(tw.dotLit(3, "e.v", Array(0.5, -1.25, 3.0e-5)) ==
      "list_reduce(list_transform(range(1, 4), " +
      "i -> CAST(e.v[i] AS DOUBLE) * ([0.5, -1.25, 3.0E-5])[i]), (a, b) -> a + b)")
    assert(tw.sqDist(3, "e.xr", 3, "c.cv") ==
      "list_reduce(list_transform(range(1, 4), " +
      "i -> (CAST(e.xr[3 + i] AS DOUBLE) - c.cv[i]) * " +
      "(CAST(e.xr[3 + i] AS DOUBLE) - c.cv[i])), (a, b) -> a + b)")
    assert(tw.sqDist(3, "e.v", 0, "c.cv") ==
      "list_reduce(list_transform(range(1, 4), " +
      "i -> (CAST(e.v[i] AS DOUBLE) - c.cv[i]) * " +
      "(CAST(e.v[i] AS DOUBLE) - c.cv[i])), (a, b) -> a + b)")
  }

  test("codebook VALUES print Double.toString, typed or untyped") {
    assert(tw.valuesCte("ce", "cid", "cv", book, typed = true) ==
      """ce AS (SELECT * FROM (VALUES
        |    (0, [1.0, 0.0, 0.5]::DOUBLE[]),
        |    (1, [0.10000000149011612, -2.0, 3.0]::DOUBLE[])) t(cid, cv))"""
        .stripMargin)
    assert(tw.valuesCte("cb0", "cid", "cv", book, typed = false) ==
      """cb0 AS (SELECT * FROM (VALUES
        |    (0, [1.0, 0.0, 0.5]),
        |    (1, [0.10000000149011612, -2.0, 3.0])) t(cid, cv))""".stripMargin)
  }

  test("the literal-matrix projection is one literal dot per row, in order") {
    val m = Array(Array(1f, 0f, 0.5f), Array(0f, -1f, 0.25f))
    val r1 = "list_reduce(list_transform(range(1, 4), " +
      "i -> CAST(xs[i] AS DOUBLE) * ([1.0, 0.0, 0.5])[i]), (a, b) -> a + b)"
    val r2 = "list_reduce(list_transform(range(1, 4), " +
      "i -> CAST(xs[i] AS DOUBLE) * ([0.0, -1.0, 0.25])[i]), (a, b) -> a + b)"
    assert(tw.projection(3, "xs", m) == Seq(r1, r2))
    assert(tw.projectionCols(3, "xs", m, "rx") == s"$r1 AS rx1,\n    $r2 AS rx2")
    assert(tw.projectedList("rx", 3) == "rx1, rx2, rx3")
  }

  test("cosine argmax orders by raw cosine DESC, ties to the lowest cid") {
    assert(tw.cosineArgmaxCte("asn", "pr", "vec_id", "pv", "ce", 3) ==
      s"""asn AS (
         |  SELECT vec_id, cid, pv FROM (
         |    SELECT e.vec_id, c.cid, e.pv,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cos3("e.pv", "c.cv")} DESC,
         |        c.cid) AS rn
         |    FROM pr e CROSS JOIN ce c)
         |  WHERE rn = 1)""".stripMargin)
  }

  test("L2 argmin orders by (d, cid) over the slice") {
    val d = "list_reduce(list_transform(range(1, 4), " +
      "i -> (CAST(e.xr[3 + i] AS DOUBLE) - c.cv[i]) * " +
      "(CAST(e.xr[3 + i] AS DOUBLE) - c.cv[i])), (a, b) -> a + b)"
    assert(tw.l2ArgminCte("cd1", "base", "vid", "xr", 3, 3, "cb1") ==
      s"""cd1 AS (
         |  SELECT vid, cid, cv FROM (
         |    SELECT e.vid, c.cid, c.cv,
         |      $d AS d
         |    FROM base e, cb1 c)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d, cid) = 1)"""
        .stripMargin)
  }

  test("block pairs are undirected (id1 < id2) within every key") {
    assert(tw.blockPairsCte("np", "wf", Seq("cid", "sub"), "vid", "v", 3) ==
      s"""np AS (
         |  SELECT x.cid, x.vid AS id1, y.vid AS id2,
         |    ${cos3("x.v", "y.v")} AS cos
         |  FROM wf x JOIN wf y
         |    ON x.cid = y.cid AND x.sub = y.sub AND x.vid < y.vid)""".stripMargin)
  }

  test("the mutual-NN tail rounds to 6, ranks (cos DESC, idb), keeps reciprocal pairs") {
    assert(tw.mutualNnCtes("cand", "label") ==
      """dirs AS (
        |  SELECT label, id1 AS ida, id2 AS idb, ROUND(cos, 6) AS cos FROM cand
        |  UNION ALL
        |  SELECT label, id2 AS ida, id1 AS idb, ROUND(cos, 6) AS cos FROM cand),
        |t1 AS (
        |  SELECT label, ida, idb, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY label, ida
        |      ORDER BY cos DESC, idb) AS rn FROM dirs)
        |  WHERE rn = 1),
        |mnn AS (
        |  SELECT x.label, x.ida AS id1, x.idb AS id2, x.cos AS cos
        |  FROM t1 x JOIN t1 y
        |    ON x.label = y.label
        |   AND x.ida = y.idb AND x.idb = y.ida
        |  WHERE x.ida < x.idb)""".stripMargin)
  }

  test("the bounded chain replays census, bit count, signs and the overflow window") {
    // the plane literals are the shared sub-bucket planes (seeded)
    val planes = Similarity.subBucketPlanes(3).map(_.map(_.toDouble))
    assert(planes.length == 13)
    val plRows = planes.init.zipWithIndex
      .map { case (p, i) => s"($i, ${p.mkString("[", ", ", "]")}::DOUBLE[])" }
      .mkString(",\n    ")
    val projLast = "list_reduce(list_transform(range(1, 4), " +
      s"i -> CAST(wc.v[i] AS DOUBLE) * (${planes.last.mkString("[", ", ", "]")})[i]), " +
      "(a, b) -> a + b)"
    assert(tw.boundedPairCtes("asg", "cid", "vid", "v", 3, 16, 8) ==
      s"""pl AS (SELECT * FROM (VALUES
         |    $plRows) t(pid, pv)),
         |cs1 AS (SELECT cid, count(*) AS n FROM asg GROUP BY 1),
         |bt AS (
         |  SELECT cid, CASE WHEN n <= 16 THEN 0
         |    ELSE LEAST(12,
         |      length(printf('%b', (n + 15) // 16 - 1)))
         |    END AS b
         |  FROM cs1),
         |sg AS (
         |  SELECT e.vid, e.cid,
         |    SUM(CASE WHEN p.pid < b.b AND ROUND(${dot3("e.v", "p.pv")}, 9) > 0
         |      THEN (1::BIGINT << p.pid) ELSE 0 END) AS sub
         |  FROM asg e JOIN bt b USING (cid)
         |  CROSS JOIN pl p
         |  GROUP BY e.vid, e.cid),
         |cs2 AS (SELECT cid, sub, count(*) AS n2 FROM sg GROUP BY 1, 2),
         |wc AS (
         |  SELECT s.vid, s.cid, s.sub, (c.n2 > 16) AS ovf, e.v
         |  FROM sg s JOIN cs2 c USING (cid, sub)
         |  JOIN asg e USING (vid)),
         |wf AS (SELECT * FROM wc WHERE NOT ovf),
         |np AS (
         |  SELECT x.cid, x.vid AS id1, y.vid AS id2,
         |    ${cos3("x.v", "y.v")} AS cos
         |  FROM wf x JOIN wf y
         |    ON x.cid = y.cid AND x.sub = y.sub AND x.vid < y.vid),
         |ovr AS (
         |  SELECT vid, cid, sub, v,
         |    row_number() OVER (PARTITION BY cid, sub
         |      ORDER BY ROUND($projLast, 9), vid) AS rn
         |  FROM wc WHERE ovf),
         |op AS (
         |  SELECT x.cid,
         |    LEAST(x.vid, y.vid) AS id1,
         |    GREATEST(x.vid, y.vid) AS id2,
         |    ${cos3("x.v", "y.v")} AS cos
         |  FROM ovr x JOIN ovr y
         |    ON x.cid = y.cid AND x.sub = y.sub
         |   AND y.rn > x.rn AND y.rn <= x.rn + 8),
         |cand AS (SELECT * FROM np UNION ALL SELECT * FROM op)""".stripMargin)
  }
}
