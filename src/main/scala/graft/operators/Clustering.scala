package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational Lloyd's k-means over an embedding column — the corpus
  * clustering step behind semantic dedup (SemDeDup-style), IVF coarse
  * quantizers, and topic-balanced mixture sampling, built so every
  * iteration is reproducible cross-engine (unlike MLlib's KMeans, whose
  * float reductions are order-dependent — fine for quality, useless for
  * a hash oracle).
  *
  * Shape per iteration: centroids live on the DRIVER (k·dim doubles —
  * config-sized, the iterative-driver scalar pattern BPE's argmax and
  * the IVF probe already use) and fold into the assignment expression
  * as literals, so assignment is pure map-side codegen — each distance
  * a flat left-associated chain of (v[i]−c_i)² terms, ties broken to
  * the lowest cid by first-occurrence argmin. The update is ONE
  * aggregate whose shuffle carries k rows of dim+1 partials per
  * partition (decimal component sums + count — never a per-(vector,
  * dimension) explode); means divide in DOUBLE and round to 12, so
  * iteration t's centroids are bit-identical in any engine before t+1
  * starts. Clusters that lose all points carry their centroid forward.
  *
  * Determinism contract: init is the first k vectors by id (Forgy with
  * deterministic picks); vectors must all have length `dim`.
  *
  * [[sizesOracleSql]] / [[assignOracleSql]] generate the DuckDB twin —
  * the same loop unrolled as CTE stages from the same parameters.
  */
object Clustering {

  final case class KMeansResult(centroids: DataFrame, assignments: DataFrame,
      finalCentroids: Array[(Int, Array[Double])] = Array.empty) {
    /** The same map-side nearest-centroid expression `assignments`
      * uses, over an arbitrary vector column — lets a consumer that
      * already holds the corpus attach cids in its own projection
      * instead of equi-joining `assignments` back on the id (that join
      * re-scans the corpus AND shuffles both sides by id for values a
      * single codegen pass produces). cid == array index, ties to the
      * lowest cid — identical to the assignment the loop trained. */
    def assignExpr(vec: Column): Column = {
      // fail at BUILD time, not deep inside an executor task: a result
      // constructed without finalCentroids (the Array.empty default)
      // would otherwise produce a nearest-of-zero-centroids expression
      require(finalCentroids.nonEmpty,
        "assignExpr needs finalCentroids — construct KMeansResult via kMeans()")
      graft.functions.VectorExprs.nearestCentroid(
        vec.cast("array<double>"), finalCentroids.map(_._2))
    }
  }

  private def assignCol(cents: Array[(Int, Array[Double])], dim: Int): Column =
    // fused native expression (functions/VectorExprs.scala): one
    // generated loop over a reference-object matrix — distances fold
    // left-to-right per centroid (the oracle's list_reduce order), ties
    // go to the lowest cid (the oracle's ORDER BY d, cid), and the
    // compiled class is reused across iterations because new centroid
    // VALUES don't change the generated source
    graft.functions.VectorExprs.nearestCentroid(col("v"), cents.map(_._2))

  /** Runs `iters` assign→update rounds; returns the final centroids as
    * (`cid`, `pos`, `c`) rows and assignments (`idCol`, `cid`) under
    * the final centroids. */
  def kMeans(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, iters: Int): KMeansResult = {
    require(k > 0 && dim > 0 && iters >= 0, s"bad k/dim/iters: $k/$dim/$iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    val emb = corpus
      .select(col(idCol).as("vid"), col(vecCol).cast("array<double>").as("v"))
      .cache()

    var cents: Array[(Int, Array[Double])] = emb.orderBy(col("vid")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toArray) }
    require(cents.length == k, s"corpus has fewer than k=$k rows")
    require(cents.forall(_._2.length == dim),
      s"vectors must have length dim=$dim")

    for (_ <- 1 to iters) {
      // ONE aggregate job per round: 64 decimal component sums + the
      // count per cluster — the shuffle carries k rows of dim+1 partials
      // per partition (not one row per (vector, dimension) as an explode
      // would); means divide in DOUBLE and round to 12 IN-PLAN so the
      // rounding engine is the same one the oracle mirrors
      val sums = emb
        .select(assignCol(cents, dim).as("cid"), col("v"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(i =>
            sum(col("v").getItem(i).cast("decimal(38,9)")).as(s"s$i")): _*)
        .select(col("cid") +: (0 until dim).map(i =>
          round(col(s"s$i").cast("double") / col("n").cast("double"), 12)
            .as(s"c$i")): _*)
        .collect()
        .map(r => r.getInt(0) -> Array.tabulate(dim)(p => r.getDouble(p + 1)))
        .toMap
      cents = cents.map { case (cid, cv) => (cid, sums.getOrElse(cid, cv)) }
    }

    // the loop is done with the corpus cache — release it rather than
    // pin executor storage for the session's lifetime (the returned
    // assignments recompute from source when executed, which is exactly
    // one scan + the map-side assignment)
    emb.unpersist(blocking = false)
    val centroids = cents.toSeq
      .flatMap { case (cid, cv) => cv.zipWithIndex.map { case (c, p) => (cid, p, c) } }
      .toDF("cid", "pos", "c")
    val assignments = emb.select(col("vid").as(idCol), assignCol(cents, dim).as("cid"))
    KMeansResult(centroids, assignments, cents)
  }

  /** The unrolled-CTE prefix every [[kMeans]] twin shares: init from
    * the first k vectors, then `iters` (assign, sum, carry-forward)
    * stages, then the final assignment `af` under the last centroids.
    * Each assignment is [[VectorTwinSql.l2ArgminCte]], the twin of the
    * loop's [[graft.functions.VectorExprs.nearestCentroid]]. */
  private def loopCtes(table: String, idCol: String, vecCol: String,
      k: Int, dim: Int, iters: Int): String = {
    val base =
      s"""WITH emb AS (SELECT $idCol AS vid, $vecCol AS v FROM $table),
         |seed AS (
         |  SELECT vid, v, CAST(ROW_NUMBER() OVER (ORDER BY vid) - 1 AS INTEGER) AS cid
         |  FROM emb ORDER BY vid LIMIT $k),
         |c0 AS (
         |  SELECT cid, CAST(u.pos AS INTEGER) AS pos, CAST(v[u.pos + 1] AS DOUBLE) AS c
         |  FROM seed, LATERAL unnest(range(0, $dim)) u(pos)),
         |cv0 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM c0 GROUP BY cid)""".stripMargin
    val tw = VectorTwinSql
    val stages = (1 to iters).map { t =>
      s"""${tw.l2ArgminCte(s"a$t", "emb", "vid", "v", 0, dim, s"cv${t - 1}")},
         |s$t AS (
         |  SELECT a.cid, CAST(u.pos AS INTEGER) AS pos,
         |    ROUND(CAST(SUM(CAST(CAST(e.v[u.pos + 1] AS DOUBLE) AS DECIMAL(38,9)))
         |               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 12) AS c
         |  FROM a$t a JOIN emb e USING (vid), LATERAL unnest(range(0, $dim)) u(pos)
         |  GROUP BY a.cid, u.pos),
         |c$t AS (
         |  SELECT p.cid, p.pos, COALESCE(s.c, p.c) AS c
         |  FROM c${t - 1} p LEFT JOIN s$t s USING (cid, pos)),
         |cv$t AS (SELECT cid, list(c ORDER BY pos) AS cv FROM c$t GROUP BY cid)""".stripMargin
    }
    val fin = tw.l2ArgminCte("af", "emb", "vid", "v", 0, dim, s"cv$iters")
    (Seq(base) ++ stages ++ Seq(fin)).mkString(",\n")
  }

  /** Oracle twin of [[kMeans]] reduced to cluster sizes plus a
    * decimal-exact centroid fingerprint per cluster. */
  def sizesOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, dim: Int, iters: Int): String =
    loopCtes(table, idCol, vecCol, k, dim, iters) +
      s"""
         |, fp AS (
         |  SELECT cid, ROUND(CAST(SUM(CAST(c AS DECIMAL(38,12))) AS DOUBLE), 6) AS c_sum
         |  FROM c$iters GROUP BY cid)
         |SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n, ANY_VALUE(fp.c_sum) AS c_sum
         |FROM af a JOIN fp USING (cid)
         |GROUP BY a.cid ORDER BY a.cid""".stripMargin

  /** SemDeDup-style semantic dedup: cluster the corpus with [[kMeans]],
    * then mark every document that has a near-identical embedding
    * (cosine ≥ `minCos`) with a SMALLER id inside its own cluster —
    * the cluster scope is what keeps the pairwise step tractable.
    *
    * The bound is ENFORCED, not assumed: with fixed `k` the clusters
    * grow linearly with the corpus, so clusters over `maxBlock` rows
    * refine through [[Similarity.refineOversizedBlocks]] (adaptive
    * hyperplane sub-buckets; unsplittable sub-buckets — exact-copy
    * families — fall back to sorted-neighborhood candidates), the
    * [[Dedup.fuzzyPairs]] maxBlock discipline on the embedding side.
    * Candidates per row are at most max(maxBlock, overflowWindow) —
    * never cluster². The recall contract: a pair is recalled unless
    * its vectors land on opposite sides of a sub-bucket hyperplane in
    * a hot cluster, or sort more than `overflowWindow` apart in an
    * overflow block; fitting clusters (every cluster at the default
    * cap and gate scale) are exhaustive.
    *
    * Returns the DROPPED side: (`idCol`, `dup_of`, `cos`) where
    * `dup_of` is the smallest smaller-id RECALLED near-dup and `cos`
    * its cosine (rounded to 6) — deterministic, and oracle-exact
    * because assignments ([[kMeans]]), sub-bucket signs, and the
    * cosine folds all replicate in the generated twin
    * ([[semanticDedupCappedOracleSql]]). */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, iters: Int, minCos: Double,
      maxBlock: Int = 4096, overflowWindow: Int = 16): DataFrame = {
    // k = 0 auto-sizes the cluster count with the corpus (expected
    // cell ~256 rows — Similarity.suggestedNlist): a FIXED k lets the
    // within-cluster pair scope grow quadratically as the corpus does
    // (the refinement guard then splits every cluster, which works but
    // pays sub-bucketing for what right-sizing gets free). One count()
    // action at build time; gates pass explicit k (the cluster count
    // is part of their oracle contract).
    val kEff =
      if (k > 0) k
      else math.max(1, math.min(
        Similarity.suggestedNlist(corpus.count(), 256), 1 << 20))
    val km = kMeans(corpus, idCol, vecCol, kEff, dim, iters)
    // attach cids map-side with the trained-centroid expression: the
    // previous equi-join against km.assignments re-derived the
    // assignment relation from a SECOND corpus scan and shuffled both
    // sides (vectors included) by id, for values the projection below
    // computes in the same scan that feeds the refinement
    val withCid = corpus.select(col(idCol).as("__id"), col(vecCol).as("__e"),
      km.assignExpr(col(vecCol)).as("cid"))
    val planes = Similarity.subBucketPlanes(dim)
    val refined = Similarity.refineOversizedBlocks(withCid, "cid", "__id",
      "__e", maxBlock, planes)
    val pairs = Similarity.boundedBlockPairs(refined, overflowWindow, planes.last)
      .withColumn("__cos",
        graft.functions.VectorExprs.cosine(col("v1"), col("v2")))
      .filter(col("__cos") >= minCos)
    pairs.groupBy(col("id2").as(idCol))
      .agg(min(col("id1")).as("dup_of"),
        round(min_by(col("__cos"), col("id1")), 6).as("cos"))
  }

  /** Oracle twin of [[semanticDedup]] — the same kMeans CTE chain, the
    * same within-cluster pair scope, the same three cosine folds. */
  def semanticDedupOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, dim: Int, iters: Int, minCos: Double): String =
    dedupOracleSql(table, idCol, vecCol, k, dim, iters, minCos,
      VectorTwinSql.blockPairsCte("cand", "asg", Seq("cid"), "vid", "v", dim))

  /** Oracle twin of the CAPPED [[semanticDedup]] — the same kMeans CTE
    * chain, then the refinement replicated stage by stage
    * ([[VectorTwinSql.boundedPairCtes]] over the cluster blocks). */
  def semanticDedupCappedOracleSql(table: String, idCol: String,
      vecCol: String, k: Int, dim: Int, iters: Int, minCos: Double,
      maxBlock: Int, overflowWindow: Int): String =
    dedupOracleSql(table, idCol, vecCol, k, dim, iters, minCos,
      VectorTwinSql.boundedPairCtes("asg", "cid", "vid", "v", dim,
        maxBlock, overflowWindow))

  /** The kMeans chain, `asg(vid, cid, v)` (every vector with its final
    * cluster), the `candidates` CTEs over it ending in `cand`, then the
    * dropped side: pairs at cos >= `minCos`, each dropped id pointing at
    * its smallest smaller-id near-dup. */
  private def dedupOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, dim: Int, iters: Int, minCos: Double,
      candidates: String): String =
    loopCtes(table, idCol, vecCol, k, dim, iters) +
      s""",
         |asg AS (SELECT a.vid, a.cid, e.v FROM af a JOIN emb e USING (vid)),
         |$candidates,
         |pr AS (SELECT * FROM cand WHERE cos >= $minCos)
         |SELECT id2 AS $idCol, MIN(id1) AS dup_of,
         |       ROUND(MIN_BY(cos, id1), 6) AS cos
         |FROM pr GROUP BY id2 ORDER BY id2""".stripMargin

  /** Oracle twin of [[kMeans]].assignments over the `docFilter` slice. */
  def assignOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, dim: Int, iters: Int, docFilter: String): String =
    loopCtes(table, idCol, vecCol, k, dim, iters) +
      s"""
         |SELECT vid AS $idCol, cid FROM af WHERE $docFilter
         |ORDER BY vid""".stripMargin

  /** Per-cluster mean silhouette, centroid formulation: each point's
    * cohesion a = cosine distance to its OWN cluster centroid,
    * separation b = distance to the NEAREST OTHER centroid,
    * s = (b − a)/max(a, b) — the standard clustering-quality readout
    * (full pairwise silhouette is corpus² across clusters; the
    * centroid form is the linear-cost variant every large-scale
    * pipeline actually runs).
    *
    * Scale shape: centroids come from
    * [[Similarity.groupCentroids]]' (group, dim)-keyed aggregate and
    * collapse to a k-row broadcast panel; scoring is one pass over
    * the points (k cosines each), then one label-keyed mean. The
    * centroid array quantizes through FLOAT (the fused
    * [[graft.functions.VectorExprs.cosine]] expression's input type —
    * the oracle replicates the quantization with a REAL[] cast).
    *
    * Output: (labelCol, n_points, mean_silhouette). */
  def silhouetteByLabel(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val cents = Similarity.groupCentroids(df, labelCol, vecCol)
    val cvecs = cents.groupBy(col(labelCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("c"))))
        .as("__pc"))
      .select(col(labelCol).as("__clabel"),
        col("__pc").getField("c").cast("array<float>").as("__cvec"))
    val scored = df.select(col(idCol), col(labelCol), col(vecCol))
      .crossJoin(broadcast(cvecs))
      .select(col(idCol), col(labelCol), col("__clabel"),
        round(graft.functions.VectorExprs.cosine(col(vecCol), col("__cvec")),
          6).as("__cos"))
    val perPoint = scored.groupBy(col(idCol), col(labelCol))
      .agg(max(when(col(labelCol) === col("__clabel"), col("__cos")))
          .as("__cosown"),
        max(when(col(labelCol) =!= col("__clabel"), col("__cos")))
          .as("__cosoth"))
    val a = round(lit(1.0) - col("__cosown"), 6)
    val b = round(lit(1.0) - col("__cosoth"), 6)
    val s = when(greatest(a, b) > 0, round((b - a) / greatest(a, b), 6))
      .otherwise(lit(0.0))
    perPoint.select(col(labelCol), s.as("__s"))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_points"),
        round(sum(col("__s").cast("decimal(38,6)")).cast("double") /
          count(lit(1)), 6).as("mean_silhouette"))
  }

  /** Block-scoped DBSCAN over an embedding column, cosine-similarity
    * neighborhoods: a point's ε-neighbors are its block-mates at
    * cos ≥ `minCos`; a point is `core` when its neighborhood (itself
    * included) reaches `minPts`; clusters are the connected components
    * of the core–core adjacency (labeled by minimum core id); a
    * non-core point with a core neighbor is `border` and joins its
    * minimum core neighbor's cluster; everything else is `noise` —
    * the density-based counterpart to [[kMeans]] (no k, finds noise).
    *
    * Scale shape: candidate pairs come from the bounded-block
    * machinery ([[Similarity.refineOversizedBlocks]] +
    * [[Similarity.boundedBlockPairs]]) — per-row candidates never
    * exceed max(maxBlock, 2·overflowWindow), never block²; exact
    * within blocks below `maxBlock` (a refined block can split an
    * ε-neighborhood — the documented recall trade every blocked
    * near-dup operator here makes). Degrees/roles are one keyed
    * aggregate each; components run min-label propagation over the
    * core subgraph only ([[Dedup.connectedComponents]]).
    *
    * Output: one row per input point — (`id`, `role`, `cluster`),
    * cluster null for noise. */
  def dbscan(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String, minCos: Double, minPts: Int,
      maxBlock: Int = 4096, overflowWindow: Int = 16, dim: Int = 0): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val d = if (dim > 0) dim else Similarity.inferDim(df, vecCol)
    val planes = Similarity.subBucketPlanes(d)
    val refined = Similarity.refineOversizedBlocks(df, groupCol, idCol,
      vecCol, maxBlock, planes)
    val und = Similarity.boundedBlockPairs(refined, overflowWindow,
      planes.last)
    // the scored pair list feeds degree counts, the core subgraph, AND
    // border assignment — checkpoint it once (pairs are linear in the
    // corpus under the bounded-block contract) so the blocking +
    // cosine-scoring subtree runs exactly one time, not once per
    // downstream consumer
    val nbrs = und.select(col("id1"), col("id2"),
        round(graft.functions.VectorExprs.cosine(col("v1"), col("v2")), 6)
          .as("__cos"))
      .filter(col("__cos") >= lit(minCos))
      .select(col("id1"), col("id2"))
      .localCheckpoint()
    val directed = nbrs.select(col("id1").as("id"), col("id2").as("nbr"))
      .unionByName(nbrs.select(col("id2").as("id"), col("id1").as("nbr")))
    val deg = directed.groupBy(col("id")).agg(count(lit(1)).as("__deg"))
    val withCore = df.select(col(idCol).as("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("__deg"), lit(0L)) + lit(1L) >= minPts).as("__core"))
      .localCheckpoint()
    val coreIds = withCore.where(col("__core")).select(col("id"))
    val coreEdges = nbrs
      .join(coreIds.select(col("id").as("id1")), Seq("id1"), "left_semi")
      .join(coreIds.select(col("id").as("id2")), Seq("id2"), "left_semi")
    val cc = Dedup.connectedComponents(coreEdges)
    // isolated cores (no core neighbor) seed their own singleton cluster
    val coreClusters = coreIds.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
      .localCheckpoint()
    val borderAssign = directed
      .join(coreClusters.select(col("id").as("nbr"), col("cluster")),
        Seq("nbr"))
      .groupBy(col("id")).agg(min(col("cluster")).as("__bcl"))
    withCore
      .join(coreClusters.select(col("id"), col("cluster").as("__ccl")),
        Seq("id"), "left")
      .join(borderAssign, Seq("id"), "left")
      .select(col("id"),
        when(col("__core"), lit("core"))
          .when(col("__bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("__core"), col("__ccl")).otherwise(col("__bcl"))
          .as("cluster"))
  }
}
