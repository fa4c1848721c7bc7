package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph ranking over an edge DataFrame — PageRank as pure
  * relational algebra. The LLM-pipeline use is link-authority weighting:
  * rank crawl domains (or any linked entities) by the structure of their
  * linkage graph and weight or gate training data by the score, the
  * standard quality prior for web corpora.
  *
  * Each iteration is one join (ranks ⋈ edges on src) + one aggregation
  * (contributions by dst) + one join back onto the node set — all keyed
  * shuffles that AQE sizes, nothing driver-side except the dangling-mass
  * scalar (1 row). Ranks are consumed TWICE per iteration (the dangling
  * aggregate and the contribution join), so un-cut lineage doubles every
  * round; the loop therefore checkpoints each iteration, making the
  * per-round plan constant-size like the connected-components loop.
  *
  * Cross-engine determinism (the float-parity rules): per-node ranks are
  * ROUNDED to 12 places after every update, per-edge contributions are
  * rounded then accumulated as DECIMAL(28,12) (order-invariant sums),
  * and divisions happen in DOUBLE — so the generated DuckDB twin
  * ([[pageRankOracleSql]]) reproduces every iteration bit-for-bit.
  */
object Graph {

  /** `iters` PageRank rounds over `edges(src, dst)` (duplicate edges are
    * collapsed; self-loops kept; edges with a null endpoint are dropped —
    * mirrored in the generated oracle). Returns (`node`, `rank`).
    * Damping is expressed as the literal 0.85/0.15 pair inline so both
    * engines fold the same constants. */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    // Static weighted adjacency (src, dst, outdeg): outdeg is
    // loop-invariant, so resolve it ONCE as a window count over the
    // src-partitioned distinct edges — one shuffle + sort of the edge
    // set total. repartition(src) FIRST: HashPartitioning(src)
    // satisfies the distinct's ClusteredDistribution(src, dst) (subset
    // rule), so the dedup aggregate runs exchange-free; the cached src
    // partitioning and sort order also make the per-iteration
    // contribution merge join exchange- and sort-free on the edge side.
    //
    // BUILD REGIME, measured round 13: the alternative combined-shuffle
    // build (groupBy(src) + collect_set(dst) + explode — see hits/lpa/
    // bfs) shrinks the exchange to per-partition DISTINCT edges, which
    // wins ONLY on duplicate-heavy edge multisets. PageRank's gate
    // graph is 98.5% unique (590,973 distinct of 600,000 raw at
    // sf0.1), and there the set aggregation is pure object-churn
    // overhead: prbisect iter-1 (build-dominated) 7.83 s → 11.82 s
    // with collect_set. Unique-ish edge lists keep this single
    // uncombined shuffle; duplicate-heavy linkage graphs (mod-key
    // fixtures, crawl logs) should pre-dedup upstream or use the
    // combined build. Null-endpoint edges drop explicitly (mirrored in
    // the generated oracle).
    val adj = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .repartition(col("src")).distinct()
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .cache()
    // node set + dangling flag in ONE union-aggregate pass: the old
    // build ran a nodes distinct (one shuffle) AND a nodes ⋈ adj
    // anti-join (a second pass over the edge set) for information one
    // (node → has out-edges?) aggregate already yields. The flag then
    // RIDES ON the ranks relation through every update, so the
    // per-iteration dangling mass is a filter + 1-row aggregate of the
    // already-checkpointed ranks — the old per-round semi-join against
    // a cached dangling set is gone entirely.
    val roles = adj.select(col("src").as("node"), lit(true).as("__out"))
      .unionByName(adj.select(col("dst").as("node"), lit(false).as("__out")))
      .groupBy(col("node")).agg(max(col("__out")).as("__out"))
      .cache()
    // N is loop-invariant: resolve it ONCE as a driver literal instead
    // of re-aggregating the node set into a 1-row broadcast every
    // iteration (each broadcast build was its own job per round).
    // lit(1.0)/lit(N) folds to the same IEEE double the in-plan
    // division produced.
    val n = roles.count().toDouble

    // r0 = round(1/N, 12)
    var ranks = roles
      .select(col("node"), col("__out"),
        round(lit(1.0) / lit(n), 12).as("rank"))

    for (i <- 1 to iters) {
      // dangling mass: ranks of nodes with no out-edges, summed exactly
      val dangling = ranks.filter(!col("__out"))
        .agg(coalesce(sum(col("rank").cast("decimal(28,12)")), lit(0))
          .cast("double").as("dang"))
      // merge-join against the cached src-partitioned adjacency: the
      // checkpointed ranks side (stats unknown → never broadcastable)
      // shuffles on node, adj streams in place
      val contribs = ranks
        .join(adj.hint("merge"), ranks("node") === adj("src"))
        .select(col("dst"),
          round(col("rank") / col("outdeg"), 12)
            .cast("decimal(28,12)").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).cast("double").as("contrib"))
      // ranks holds exactly one row per node, so the update joins
      // contribs back onto ranks itself — no per-round nodes join
      ranks = ranks
        .join(contribs, ranks("node") === contribs("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("__out"),
          round(
            lit(0.15) / lit(n) +
              lit(0.85) * (coalesce(col("contrib"), lit(0.0)) +
                col("dang") / lit(n)),
            12).as("rank"))
      // every update rounds to 12 places with decimal-accumulated sums,
      // so the cut cannot change values — only kill the doubled lineage
      // (ranks is consumed twice per round)
      ranks = ranks.localCheckpoint()
    }
    // the returned ranks is checkpointed (lineage cut), so the loop's
    // caches can be released instead of pinning storage for the session
    adj.unpersist(blocking = false)
    roles.unpersist(blocking = false)
    ranks.select(col("node"), col("rank"))
  }

  /** The same loop as `iters` generated DuckDB CTE stages over an
    * `edges(src, dst)` CTE the caller supplies as `edgesSql` — the
    * cross-engine oracle for [[pageRank]]; generated, never hand-copied. */
  def pageRankOracleSql(edgesSql: String, iters: Int): String = {
    val base =
      s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesSql)
         |  WHERE src IS NOT NULL AND dst IS NOT NULL),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nc AS (SELECT COUNT(*) AS n FROM nodes),
         |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT node, ROUND(1.0 / n, 12) AS rank FROM nodes, nc)""".stripMargin
    val stages = (1 to iters).map { k =>
      s"""d$k AS (
         |  SELECT CAST(COALESCE(SUM(CAST(rank AS DECIMAL(28,12))), 0) AS DOUBLE) AS dang
         |  FROM r${k - 1} r WHERE NOT EXISTS
         |    (SELECT 1 FROM outdeg o WHERE o.src = r.node)),
         |c$k AS (
         |  SELECT e.dst,
         |         CAST(SUM(CAST(ROUND(r.rank / o.outdeg, 12) AS DECIMAL(28,12)))
         |              AS DOUBLE) AS contrib
         |  FROM r${k - 1} r JOIN e ON r.node = e.src
         |                   JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst),
         |r$k AS (
         |  SELECT n.node,
         |         ROUND(0.15 / nc.n + 0.85 * (COALESCE(c.contrib, 0.0)
         |               + d.dang / nc.n), 12) AS rank
         |  FROM nodes n LEFT JOIN c$k c ON c.dst = n.node, nc, d$k d)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"\nSELECT node, rank FROM r$iters"
  }

  /** `iters` HITS rounds (Kleinberg 1999) over `edges(src, dst)`:
    * authority a(v) = Σ_{u→v} h(u), hub h(u) = Σ_{u→v} a(v), each side
    * L1-normalized per half-step (L1 rather than the textbook L2: the
    * normalizer is then a DECIMAL-exact sum divided in DOUBLE — the
    * cross-engine-reproducible choice; the ranking and the fixed-point
    * direction are identical, only the scale differs).
    *
    * Scale shape mirrors [[pageRank]]: the deduped adjacency is cached
    * and src-partitioned once; each half-step is one edge-keyed join +
    * node-keyed aggregate, with the node-sized score relation the only
    * thing moving per round; totals attach as 1-row broadcast scalars;
    * a local checkpoint cuts lineage every half-step.
    *
    * Returns (`node`, `authority`, `hub`), both rounded to 12 per round
    * (contributions accumulate as DECIMAL(28,12)).
    */
  def hits(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    // combined-shuffle dedup build (see pageRank's adj note): the
    // exchange carries per-partition DISTINCT edges, not the multiset;
    // null-endpoint edges drop explicitly, mirrored in the oracle
    val adj = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .groupBy(col("src")).agg(collect_set(col("dst")).as("__dsts"))
      .select(col("src"), explode(col("__dsts")).as("dst")).cache()
    // dst-partitioned twin: the hub half-step joins the adjacency on
    // `dst`, and a cached src-partitioned relation re-SHUFFLES the full
    // edge set for that join EVERY round once the node relation is too
    // big to broadcast (exchange reuse never crosses the checkpoint
    // boundary between iterations). One extra build shuffle buys
    // `iters` join-side exchanges of the edge set; the twin doubles the
    // cached edge footprint.
    val adjByDst = adj.repartition(col("dst")).cache()
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node"))).distinct().cache()
    val nCount = nodes.agg(count(lit(1)).as("n"))
    def halfStep(scores: DataFrame, joinSide: String,
        groupSide: String): DataFrame = {
      val a = if (joinSide == "dst") adjByDst else adj
      // zero-carrier rows ride INTO the gather aggregate (one union
      // branch per node) instead of a per-half-step nodes LEFT JOIN:
      // the old join ran over the aggregate output AND — because the
      // joined relation was consumed twice (normalizer + update) with
      // only the exchange below it reused — executed twice per
      // half-step. A zero term does not change the decimal sum, so
      // __raw is value-identical; nodes with no gathered contribution
      // still emit a row (sum of the zero carrier alone).
      val gathered = a
        .join(scores.withColumnRenamed("node", joinSide), joinSide)
        .select(col(groupSide).as("node"),
          round(col("v"), 12).cast("decimal(28,12)").as("__c"))
        .unionByName(nodes.select(col("node"),
          lit(BigDecimal(0)).cast("decimal(28,12)").as("__c")))
        .groupBy(col("node"))
        .agg(sum(col("__c")).cast("double").as("__raw"))
      // materialize the node-sized raw relation ONCE: the normalizer
      // aggregate and the per-node division both consume it, and
      // un-materialized the edge gather above would plan (and its
      // post-exchange half execute) twice per half-step
      val all = gathered.localCheckpoint()
      val tot = all.agg(
        sum(col("__raw").cast("decimal(28,12)")).cast("double").as("__t"))
      all.crossJoin(broadcast(tot))
        .select(col("node"), round(col("__raw") / col("__t"), 12).as("v"))
    }
    var hub = nodes.crossJoin(broadcast(nCount))
      .select(col("node"), round(lit(1.0) / col("n"), 12).as("v"))
    var auth: DataFrame = hub
    for (_ <- 1 to iters) {
      auth = halfStep(hub, "src", "dst")  // authorities gather from hubs
      hub = halfStep(auth, "dst", "src")  // hubs gather from authorities
    }
    val out = auth.withColumnRenamed("v", "authority")
      .join(hub.withColumnRenamed("v", "hub"), "node")
    adj.unpersist(blocking = false)
    adjByDst.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** The same loop as generated DuckDB CTE half-steps — the cross-engine
    * oracle for [[hits]]; generated from the same `iters`, never
    * hand-copied. */
  def hitsOracleSql(edgesSql: String, iters: Int): String = {
    val base =
      s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesSql)
         |  WHERE src IS NOT NULL AND dst IS NOT NULL),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nc AS (SELECT COUNT(*) AS n FROM nodes),
         |h0 AS (SELECT node, ROUND(1.0 / n, 12) AS v FROM nodes, nc)""".stripMargin
    def half(out: String, in: String, joinSide: String,
        groupSide: String): String =
      s"""${out}r AS (
         |  SELECT n.node, COALESCE(s.rawv, 0.0) AS rawv
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.$groupSide AS node,
         |      CAST(SUM(CAST(ROUND(p.v, 12) AS DECIMAL(28,12))) AS DOUBLE) AS rawv
         |    FROM $in p JOIN e ON p.node = e.$joinSide
         |    GROUP BY e.$groupSide) s ON s.node = n.node),
         |${out}t AS (
         |  SELECT CAST(SUM(CAST(rawv AS DECIMAL(28,12))) AS DOUBLE) AS t
         |  FROM ${out}r),
         |$out AS (SELECT node, ROUND(rawv / t, 12) AS v FROM ${out}r, ${out}t)""".stripMargin
    val stages = (1 to iters).flatMap { k =>
      Seq(half(s"a$k", s"h${k - 1}", "src", "dst"),
        half(s"h$k", s"a$k", "dst", "src"))
    }
    (base +: stages).mkString(",\n") +
      s"""\nSELECT a.node, a.v AS authority, h.v AS hub
         |FROM a$iters a JOIN h$iters h USING (node) ORDER BY node""".stripMargin
  }

  /** `iters` rounds of synchronous label propagation (Raghavan et al.
    * 2007) over the symmetrized edge set — community detection where
    * connected components are too coarse (CC labels everything reachable
    * as one; LPA splits a connected graph along its dense regions).
    * Deterministic variant: every node starts labeled with its own id;
    * each round it adopts the most frequent label among its neighbors,
    * ties to the SMALLEST label — no RNG, no async order dependence, so
    * the fixed round count is exactly reproducible cross-engine (and
    * entirely integer arithmetic: nothing to round).
    *
    * Scale shape: the symmetric adjacency is cached and src-partitioned
    * once; each round is one edge-keyed join + (node, label) count +
    * node-partitioned rank window — the node-sized label relation is the
    * only thing moving. A local checkpoint cuts lineage per round.
    *
    * Returns (`node`, `community`) after `iters` rounds.
    */
  def labelPropagation(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"need at least one round, got $iters")
    val dir0 = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    // combined-shuffle dedup build (see pageRank's adj note); the
    // grouped relation is one row per src — the node set for free
    val grouped = dir0
      .union(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src")).agg(collect_set(col("dst")).as("__dsts"))
      .cache()
    val sym = grouped
      .select(col("src"), explode(col("__dsts")).as("dst")).cache()
    val nodes = grouped.select(col("src").as("node")).cache()
    var labels = nodes.select(col("node"), col("node").as("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("c").desc, col("label").asc)
    for (_ <- 1 to iters) {
      labels = sym.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("node"), col("label"))
        .localCheckpoint()
    }
    val out = labels.withColumnRenamed("label", "community")
    grouped.unpersist(blocking = false)
    sym.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** The deterministic-LPA oracle: `iters` generated vote/pick CTE
    * rounds — pure integer counting, no float surface at all. */
  def lpaOracleSql(edgesSql: String, iters: Int): String = {
    val base =
      s"""WITH d AS (SELECT src, dst FROM ($edgesSql) WHERE src <> dst),
         |e AS (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM d UNION ALL SELECT dst, src FROM d)),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)""".stripMargin
    val stages = (1 to iters).map { k =>
      s"""v$k AS (
         |  SELECT e.dst AS node, l.label, count(*) AS c
         |  FROM l${k - 1} l JOIN e ON l.node = e.src
         |  GROUP BY 1, 2),
         |l$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY c DESC, label ASC) AS rn
         |    FROM v$k) WHERE rn = 1)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"\nSELECT node, label AS community FROM l$iters ORDER BY node"
  }

  /** Exact global triangle count by canonical wedge closure — the
    * classic distributed formulation (each triangle {a < b < c} is
    * enumerated exactly once): normalize to undirected edges with
    * endpoints ordered (`least`, `greatest`, self-loops dropped,
    * deduped), join edges (a,b)⋈(b,c) into wedges — the a<b<c ordering
    * falls out of the normalization, no inequality join needed — then
    * close each wedge against the edge set on (a,c).
    *
    * Scale shape: two equi-joins keyed on node ids plus one grand-total
    * count. Wedge volume is Σ_v deg(v)² — the known cost of exact
    * triangle counting; on power-law graphs cap it upstream by dropping
    * super-hub nodes or sampling (Doulion-style edge sparsification
    * composes: filter edges before calling). Nothing here is quadratic
    * in the EDGE count.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    val wedges = und.join(
      und.select(col("a").as("b"), col("b").as("c")), "b")
    wedges
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient: the fraction of a node's
    * neighbor pairs that are themselves connected — 2·t(v) / (deg(v)·
    * (deg(v)−1)) with t(v) the triangles through v. The transitivity
    * profile behind community quality, spam-ring detection, and
    * small-world diagnostics.
    *
    * Scale shape: the [[triangleCount]] wedge closure enumerates each
    * triangle once (canonical a<b<c), then an explode charges it to its
    * THREE member nodes — one extra node-keyed aggregate; degrees join
    * from the node-sized broadcastable relation. Σdeg² wedge volume,
    * same as the global count.
    *
    * Output: (node, deg, n_tri, cc) for nodes with deg ≥ 2 (deg-1
    * nodes have no neighbor pair to close; they are excluded rather
    * than emitted as 0/0). cc rounds to 6.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tris = und.join(und.select(col("a").as("b"), col("b").as("c")), "b")
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
    val triPerNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.where(col("deg") >= 2)
      .join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - lit(1))).cast("double"), 6).as("cc"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over all directed edge instances — do hubs link
    * to hubs (r > 0, social networks) or to leaves (r < 0, the
    * internet/biology)? The one-number mixing summary after
    * [[degreeHistogram]].
    *
    * Scale shape: the node-sized degree relation broadcasts onto the
    * symmetrized edge list (each undirected edge counted in both
    * directions — the standard convention, making the statistic
    * symmetric), then ONE aggregate of five integer-exact decimal
    * sums; the closed form runs in fixed-order double. Output: one
    * row (n_edges, r) — n_edges the directed instance count, r null
    * for degree-regular graphs (zero variance). */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    val sym = und.union(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    val d19 = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
    val agg = sym
      .join(broadcast(deg.select(col("n").as("a"), col("d").as("__du"))), "a")
      .join(broadcast(deg.select(col("n").as("b"), col("d").as("__dv"))), "b")
      .agg(count(lit(1)).as("n_edges"),
        sum(d19(col("__du"))).as("__sx"), sum(d19(col("__dv"))).as("__sy"),
        sum(d19(col("__du")) * d19(col("__dv"))).as("__sxy"),
        sum(d19(col("__du")) * d19(col("__du"))).as("__sxx"),
        sum(d19(col("__dv")) * d19(col("__dv"))).as("__syy"))
    val n = col("n_edges").cast("double")
    val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
    val varX = n * col("__sxx").cast("double") - sx * sx
    val varY = n * col("__syy").cast("double") - sy * sy
    agg.select(col("n_edges"),
      when(varX > 0 && varY > 0,
        round((n * col("__sxy").cast("double") - sx * sy) /
          sqrt(varX * varY), 6)).as("r"))
  }

  /** Link prediction over the undirected graph: for every NON-adjacent
    * node pair sharing at least `minCommon` neighbors, the two classic
    * local scores — common-neighbor count and Adamic–Adar
    * (Σ_w 1/ln deg(w) over shared neighbors w, down-weighting hub
    * witnesses) — the recommender / who-to-follow / missing-edge
    * primitive.
    *
    * Scale shape: the triangleCount regime — candidate pairs come from
    * the wedge join (center node key), so the work is Σ_v deg(v)², the
    * inherent wedge volume, never pairs²; the node-degree relation is
    * node-sized and broadcastable; existing edges leave via one
    * anti-join on the canonical pair. On power-law graphs cap hub
    * degrees upstream exactly as for triangles.
    *
    * Cross-engine reproducibility: degrees are exact integers; each
    * witness term 1/ln(deg) rounds to 9 into a DECIMAL(38,9) sum
    * (ln — like sqrt — is parity-safe libm; a wedge center always has
    * deg ≥ 2 so ln never sees 1); `aa` reports the sum in DOUBLE
    * rounded to 6.
    *
    * Output: (u, v, cn, aa) with u < v.
    */
  /** Degree distribution of the undirected graph: one row per distinct
    * degree with the number of nodes holding it — the first diagnostic
    * on any production graph (hub detection, power-law fitting, the
    * Σdeg² wedge-volume estimate that prices [[triangleCount]] /
    * [[linkPrediction]] before running them).
    *
    * Scale shape: two keyed aggregates (degree per node, then nodes
    * per degree) — the second input is node-sized, the output
    * distinct-degree-sized. Output: (deg, n_nodes). */
  def degreeHistogram(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    und.union(und.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
  }

  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Int = 1): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    val sym = und.union(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("w")).agg(count(lit(1)).as("__deg"))
    // wedges centered at w: (u —w— v), canonicalized u < v
    val wedges = sym.select(col("a").as("w"), col("b").as("u"))
      .join(sym.select(col("a").as("w"), col("b").as("v")), "w")
      .where(col("u") < col("v"))
    wedges
      .join(und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .join(broadcast(deg), "w")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        round(sum(round(lit(1.0) / log(col("__deg").cast("double")), 9)
          .cast("decimal(38,9)")).cast("double"), 6).as("aa"))
      .where(col("cn") >= minCommon)
  }

  /** `rounds` of k-core peeling (Seidman 1983) over the symmetrized
    * edge set: repeatedly delete every node with degree < k; what
    * survives a fixpoint is the k-core — the standard graph-density
    * filter (spam/bot subgraph mining, community seeding). Peeling is
    * monotone, so a fixed round count is a sound UNDER-approximation
    * that becomes exact once no round deletes anything; pass `rounds` ≥
    * the peel depth for the exact core (the gate pins convergence by
    * running two extra idempotent rounds — integer-only arithmetic, so
    * the generated unrolled-CTE oracle is bit-exact).
    *
    * Scale shape: each round is one degree count over the shrinking
    * edge set plus two semi-joins against the ≥k node list — the same
    * cached-adjacency regime as [[labelPropagation]]; the node-sized
    * degree relation is broadcastable. A local checkpoint cuts lineage
    * per round. Returns (`node`, `degree`) of the surviving subgraph.
    */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"need at least one peel round, got $rounds")
    val dir0 = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    var sym = dir0
      .union(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    for (_ <- 1 to rounds) {
      val keep = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("node"))
      sym = sym.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
    }
    sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("bigint").as("degree"))
  }

  /** The k-core oracle: `rounds` generated peel CTEs — degree count,
    * ≥k filter, both-endpoint semi-join — integer-only. */
  def kCoreOracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val base =
      s"""WITH d AS (SELECT src, dst FROM ($edgesSql) WHERE src <> dst),
         |e0 AS (SELECT DISTINCT src, dst FROM
         |  (SELECT src, dst FROM d UNION ALL SELECT dst, src FROM d))""".stripMargin
    val stages = (1 to rounds).map { r =>
      s"""g$r AS (
         |  SELECT src AS node FROM e${r - 1}
         |  GROUP BY src HAVING count(*) >= $k),
         |e$r AS (
         |  SELECT e.src, e.dst FROM e${r - 1} e
         |  WHERE e.src IN (SELECT node FROM g$r)
         |    AND e.dst IN (SELECT node FROM g$r))""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"""\nSELECT src AS node, CAST(count(*) AS BIGINT) AS degree
         |FROM e$rounds GROUP BY src ORDER BY node""".stripMargin
  }

  /** Unweighted single-source shortest paths by synchronous frontier
    * expansion (distributed BFS): `maxDepth` rounds of "relax every
    * edge out of the current distance table, keep the min". Nodes not
    * reached within `maxDepth` hops are absent from the output — the
    * bounded-horizon contract that makes the operator safe on graphs
    * whose diameter is unknown (and the generated unrolled-CTE oracle
    * bit-exact: integer hops only).
    *
    * Scale shape: the directed adjacency is deduped and src-partitioned
    * once; each round joins the node-sized distance relation to it and
    * min-aggregates — the pageRank movement pattern. A local checkpoint
    * cuts lineage per round. Returns (`node`, `dist`).
    */
  def bfsDistances(spark: SparkSession, edges: DataFrame, source: Long,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"need at least one hop, got $maxDepth")
    // combined-shuffle dedup build (see pageRank's adj note)
    val adj = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .groupBy(col("src")).agg(collect_set(col("dst")).as("__dsts"))
      .select(col("src"), explode(col("__dsts")).as("dst")).cache()
    var dist = adj.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("dist"))
    for (_ <- 1 to maxDepth) {
      dist = dist.union(
          adj.join(dist.withColumnRenamed("node", "src"), "src")
            .select(col("dst").as("node"), (col("dist") + 1).as("dist")))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    adj.unpersist(blocking = false)
    dist
  }

  /** The BFS oracle: `maxDepth` generated relax-and-min CTE rounds. */
  def bfsOracleSql(edgesSql: String, source: Long, maxDepth: Int): String = {
    val base =
      s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesSql) WHERE src <> dst),
         |d0 AS (SELECT CAST($source AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)""".stripMargin
    val stages = (1 to maxDepth).map { r =>
      s"""d$r AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM d${r - 1} d JOIN e ON d.node = e.src)
         |  GROUP BY node)""".stripMargin
    }
    (base +: stages).mkString(",\n") +
      s"\nSELECT node, dist FROM d$maxDepth ORDER BY node"
  }
}
