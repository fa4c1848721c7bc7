package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    Graph.pageRank(spark, edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("a symmetric 2-cycle splits the mass evenly, conserving it") {
    val r = ranks(Seq((1L, 2L), (2L, 1L)), 3)
    assert(r(1L) == r(2L))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("in-link authority: the star center outranks its spokes") {
    // 1 -> 3, 2 -> 3 — monotone convergence (a back-edge would add a
    // damped 2-cycle oscillation larger than the fixed-point gap at
    // small iteration counts)
    val r = ranks(Seq((1L, 3L), (2L, 3L)), 3)
    assert(r(3L) > r(1L) && r(1L) == r(2L))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("dangling mass is redistributed, not lost") {
    // 1 -> 2, 2 dangles: without redistribution the total decays
    val r = ranks(Seq((1L, 2L)), 4)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(2L) > r(1L)) // the sink still accumulates authority
  }

  test("duplicate edges collapse (no double-counted contributions)") {
    val once = ranks(Seq((1L, 2L), (2L, 1L)), 2)
    val dup = ranks(Seq((1L, 2L), (1L, 2L), (2L, 1L)), 2)
    assert(once == dup)
  }

  // ───────────────────── triangleCount ─────────────────────

  private def triangles(edges: Seq[(Long, Long)]): Long =
    Graph.triangleCount(edges.toDF("u", "v"), "u", "v")
      .head().getLong(0)

  test("each triangle counts exactly once, regardless of edge direction") {
    // K4 has 4 triangles; feed edges in mixed orientations + a duplicate
    val k4 = Seq((1L, 2L), (3L, 1L), (1L, 4L), (2L, 3L), (4L, 2L),
      (3L, 4L), (4L, 3L))
    assert(triangles(k4) == 4L)
  }

  test("self-loops and open wedges contribute nothing") {
    assert(triangles(Seq((1L, 1L), (1L, 2L), (2L, 3L))) == 0L)
    // closing the wedge makes exactly one
    assert(triangles(Seq((1L, 2L), (2L, 3L), (3L, 1L))) == 1L)
  }

  // ───────────────────── labelPropagation ─────────────────────

  private def communities(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Long] =
    Graph.labelPropagation(spark, edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two cliques joined by one bridge resolve into two communities") {
    def clique(ns: Seq[Long]) = for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+
      ((4L, 10L))
    val got = communities(edges)
    val left = Seq(1L, 2L, 3L, 4L).map(got)
    val right = Seq(10L, 11L, 12L, 13L).map(got)
    assert(left.distinct.size == 1 && right.distinct.size == 1)
    assert(left.head != right.head)
  }

  test("labels are deterministic: ties go to the smallest label") {
    // a path 1-2-3: node 2 sees labels {1, 3} tied → adopts 1
    val got1 = communities(Seq((1L, 2L), (2L, 3L)), iters = 1)
    assert(got1(2L) == 1L)
    // direction of input edges is irrelevant (symmetrized)
    assert(communities(Seq((2L, 1L), (3L, 2L)), iters = 1) == got1)
  }

  // ───────────────────── hits ─────────────────────

  private def hits(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, (Double, Double)] =
    Graph.hits(spark, edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

  test("the pointed-at node is the authority; the pointers are hubs") {
    // 1,2,3 all point at 4; 4 points nowhere
    val got = hits(Seq((1L, 4L), (2L, 4L), (3L, 4L)))
    val (a4, h4) = got(4L)
    assert(a4 > 0.99 && h4 == 0.0) // all authority mass; no out-links
    Seq(1L, 2L, 3L).foreach { n =>
      val (a, h) = got(n)
      assert(a == 0.0 && math.abs(h - 1.0 / 3) < 1e-9)
    }
  }

  test("each side L1-normalizes to 1 every round") {
    val got = hits(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)), iters = 2)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
  }

  // ───────────────────── kCore ─────────────────────

  private def coreOf(edges: Seq[(Long, Long)], k: Int, rounds: Int = 8) = {
    import spark.implicits._
    Graph.kCore(spark, edges.toDF("src", "dst"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("kCore peels a pendant chain off a triangle") {
    // triangle 1-2-3 plus tail 3-4-5: the 2-core is exactly the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = coreOf(edges, k = 2)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore cascades: removing one node can doom its neighbors") {
    // path 1-2-3-4: every node peels for k=2 (ends first, then the middle)
    val got = coreOf(Seq((1L, 2L), (2L, 3L), (3L, 4L)), k = 2)
    assert(got.isEmpty)
  }

  test("kCore ignores self-loops and edge direction") {
    val got = coreOf(Seq((2L, 1L), (3L, 2L), (3L, 1L), (1L, 1L)), k = 2)
    assert(got.keySet == Set(1L, 2L, 3L))
  }

  // ───────────────────── bfsDistances ─────────────────────

  private def bfsOf(edges: Seq[(Long, Long)], src: Long, depth: Int) = {
    import spark.implicits._
    Graph.bfsDistances(spark, edges.toDF("src", "dst"), src, depth)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bfs takes the shortest of multiple routes") {
    // 0→1→2→3 but also 0→3 directly: dist(3) = 1
    val got = bfsOf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L)), 0L, 4)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("bfs respects direction and the depth horizon") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (9L, 0L))
    val got = bfsOf(chain, 0L, 2)
    // 3, 4 beyond horizon; 9 unreachable (edge points INTO 0)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("bfs on a cycle terminates with stable minima") {
    val got = bfsOf(Seq((0L, 1L), (1L, 2L), (2L, 0L)), 0L, 6)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("link prediction scores non-adjacent pairs by shared neighbors") {
    import spark.implicits._
    // star 0-{1,2,3} plus edge 1-2: candidates are the non-adjacent
    // pairs among the leaves; 1-2 is an EDGE and must be excluded
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L))
      .toDF("src", "dst")
    val out = Graph.linkPrediction(edges, "src", "dst", minCommon = 1)
      .orderBy("u", "v").collect()
    val cn = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("cn")).toMap
    assert(cn == Map((1L, 3L) -> 1L, (2L, 3L) -> 1L))
    // the single shared witness is hub 0 with degree 3 → aa = 1/ln 3
    val aa = BigDecimal(1.0 / math.log(3.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach(r => assert(math.abs(r.getAs[Double]("aa") - aa) < 1e-6))
  }

  test("assortativity: negative on a star, null on a regular graph") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val s = Graph.assortativity(star, "src", "dst").head()
    assert(s.getAs[Long]("n_edges") == 8L)
    assert(s.getAs[Double]("r") == -1.0) // hub(4) only ever meets leaves(1)
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val c = Graph.assortativity(cycle, "src", "dst").head()
    assert(c.isNullAt(c.fieldIndex("r"))) // degree-regular: zero variance
  }

  test("clustering coefficient: closed triangles over neighbor pairs") {
    import spark.implicits._
    // triangle 0-1-2 plus pendant 2-3: cc(0)=cc(1)=1 (deg 2, 1 tri),
    // cc(2)=1/3 (deg 3, 1 of 3 pairs closed), 3 excluded (deg 1)
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(edges, "src", "dst")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      0L -> (2L, 1L, 1.0), 1L -> (2L, 1L, 1.0), 2L -> (3L, 1L, 0.333333)))
  }

  test("degree histogram counts nodes per degree on the canonical graph") {
    import spark.implicits._
    // star 0-{1,2,3} + edge 1-2 (sent with noise: dup + reversed):
    // deg(0)=3, deg(1)=deg(2)=2, deg(3)=1
    val edges = Seq((0L, 1L), (1L, 0L), (0L, 2L), (0L, 3L), (2L, 1L))
      .toDF("src", "dst")
    val got = Graph.degreeHistogram(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("link prediction is direction- and duplicate-insensitive") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val noisy = Seq((2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L)).toDF("src", "dst")
    val a = Graph.linkPrediction(base, "src", "dst").collect().toSeq
    val b = Graph.linkPrediction(noisy, "src", "dst").collect().toSeq
    assert(a == b && a.size == 1)
    assert(a.head.getLong(0) == 1L && a.head.getLong(1) == 3L)
  }

  // ───────────────────── null endpoints (pageRank / hits) ─────────────────────

  // 1→2, 1→3, 2→3, 4→3 (node 3 dangles), plus a null-src and a null-dst
  // edge. Both operators drop an edge with a null endpoint, so nodes 5 and
  // 6 never appear and the null edges change nothing.
  private val baseEdges: Seq[(Option[Long], Option[Long])] =
    Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 3L).map { case (a, b) => (Some(a), Some(b)) }
  private val nullEdges: Seq[(Option[Long], Option[Long])] =
    Seq((None, Some(5L)), (Some(6L), None))

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double]): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"node $k: ${got(k)} != $v") }
  }

  test("pageRank drops null-endpoint edges: hand-computed ranks, same as without them") {
    def run(edges: Seq[(Option[Long], Option[Long])]) =
      Graph.pageRank(spark, edges.toDF("src", "dst"), 2)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val withNulls = run(baseEdges ++ nullEdges)
    // N = 4, r0 = 1/4; rank = 0.15/N + 0.85·(Σ rank(src)/outdeg(src) + dangling/N)
    //   iter 1: dangling 0.25 → 1, 4: 0.090625; 2: 0.196875; 3: 0.621875
    //   iter 2: dangling 0.621875 → 1, 4: 0.1696484375; 2: 0.2081640625;
    //           3: 0.4525390625
    assertClose(withNulls, Map(1L -> 0.1696484375, 2L -> 0.2081640625,
      3L -> 0.4525390625, 4L -> 0.1696484375))
    assert(withNulls == run(baseEdges))
  }

  test("hits drops null-endpoint edges: hand-computed scores, same as without them") {
    def run(edges: Seq[(Option[Long], Option[Long])]) =
      Graph.hits(spark, edges.toDF("src", "dst"), 1)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val withNulls = run(baseEdges ++ nullEdges)
    // h0 = 1/4; authority = Σ hub(src) over in-edges = (0, 1/4, 3/4, 0),
    // L1 total 1; hub = Σ authority(dst) over out-edges = (1, 3/4, 0, 3/4),
    // L1 total 5/2 → (0.4, 0.3, 0, 0.3)
    assertClose(withNulls.map { case (k, v) => k -> v._1 },
      Map(1L -> 0.0, 2L -> 0.25, 3L -> 0.75, 4L -> 0.0))
    assertClose(withNulls.map { case (k, v) => k -> v._2 },
      Map(1L -> 0.4, 2L -> 0.3, 3L -> 0.0, 4L -> 0.3))
    assert(withNulls == run(baseEdges))
  }
}
