package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Orthogonal Procrustes alignment between two embedding columns — the
  * "migrate to a new embedding version" operator: find the rotation R
  * minimizing Σ‖R·x − y‖² over paired vectors, so an index/cache built
  * on the old space keeps serving while re-embedding backfills (align
  * old vectors into the new space instead of recomputing everything).
  *
  * Scale shape (the covariance-is-small decomposition,
  * [[Pca.fit]]'s contract): the ONLY data-scale pass is one aggregate
  * of dim² cross-moment decimal sums M[j][k] = Σ round9(y_j·x_k)
  * (map-side combined); the solve R = M·(MᵀM)^(−1/2) runs on the
  * DRIVER via the deterministic cyclic-Jacobi eigen-decomposition
  * ([[Pca.jacobiEigen]] on the config-sized MᵀM), and the aligned
  * projection is pure map-side codegen with the rotation rows as
  * float literals (Float→Double widens exactly, so the generated
  * DuckDB twin shares the exact literals — the [[Pca]] discipline).
  *
  * Input-scale contract matches [[Pca.fit]]: roughly-unit-scale
  * vectors (the round-9 moment quantization).
  */
object Alignment {

  final case class ProcrustesModel(dim: Int, n: Long,
      rotation: Array[Array[Float]], orthErr: Double)

  /** One-pass cross-moment fit + driver solve. `srcCol`/`dstCol` are
    * paired per row (same entity embedded by both versions). The
    * rotation is exactly orthogonal up to float quantization;
    * `orthErr` = ‖RᵀR − I‖_F of the SHIPPED (float) rotation. */
  def fitProcrustes(df: DataFrame, srcCol: String, dstCol: String,
      dim: Int): ProcrustesModel = {
    require(dim >= 2 && dim <= 64, s"need 2 <= dim <= 64, got $dim")
    val x = col(srcCol).cast("array<double>")
    val y = col(dstCol).cast("array<double>")
    def d(c: Column) = round(c, 9).cast("decimal(38,9)")
    val terms = for (j <- 0 until dim; k <- 0 until dim)
      yield sum(d(y.getItem(j) * x.getItem(k))).as(s"m_${j}_$k")
    val row = df.agg(count(lit(1)).as("n"), terms: _*).head()
    val n = row.getLong(0)
    require(n >= dim, s"Procrustes needs >= dim rows, got $n")
    val m = Array.tabulate(dim, dim)((j, k) =>
      row.getDecimal(1 + j * dim + k).doubleValue)
    // MᵀM is symmetric PSD; Jacobi gives MᵀM = V Σ² Vᵀ, then
    // R = M V diag(1/σ) Vᵀ = U Vᵀ (the polar factor)
    val mtm = Array.tabulate(dim, dim) { (a, b) =>
      var s = 0.0; var j = 0
      while (j < dim) { s += m(j)(a) * m(j)(b); j += 1 }
      s
    }
    val (evals, evecs) = Pca.jacobiEigen(mtm)
    val maxEv = evals.max
    require(evals.forall(_ > 1e-12 * maxEv),
      "cross-moment matrix is rank-deficient — alignment is not unique")
    val inv = Array.tabulate(dim, dim) { (a, b) =>
      var s = 0.0; var c = 0
      while (c < dim) {
        s += evecs(c)(a) * evecs(c)(b) / math.sqrt(evals(c)); c += 1
      }
      s
    }
    val r = Array.tabulate(dim, dim) { (j, b) =>
      var s = 0.0; var k = 0
      while (k < dim) { s += m(j)(k) * inv(k)(b); k += 1 }
      s.toFloat
    }
    // orthogonality defect of the float-quantized rotation
    var oe = 0.0
    for (a <- 0 until dim; b <- 0 until dim) {
      var s = 0.0; var j = 0
      while (j < dim) { s += r(j)(a).toDouble * r(j)(b).toDouble; j += 1 }
      val target = if (a == b) 1.0 else 0.0
      oe += (s - target) * (s - target)
    }
    ProcrustesModel(dim, n, r, math.sqrt(oe))
  }

  // ───────── q_x_procrustes gate + generated oracle ─────────

  private val GateDim = 16

  /** The planted destination space for the gate: the first-16 slice of
    * the embedding, REVERSED with alternating signs — an exact
    * orthogonal (signed-permutation) transform, so the fit must
    * recover it and the residual must vanish up to float quantization
    * of the shipped rotation. */
  def withPair(emb: DataFrame): DataFrame =
    emb
      .withColumn("__xs", expr(s"slice(embedding, 1, $GateDim)"))
      // GateDim is a compile-time constant, so the signed reversal
      // unrolls to a literal array of element_at terms — no
      // transform(sequence(...)) HOF (CodegenFallback) on this
      // data-sized fixture projection
      .withColumn("__ys", array((1 to GateDim).map { j =>
        val src = element_at(col("__xs"), GateDim + 1 - j)
        if (j % 2 == 1) src else negate(src)
      }: _*))

  /** The q_x_procrustes fit: the rotation recovering the planted
    * pair of [[withPair]]. */
  def fitPair(paired: DataFrame): ProcrustesModel =
    fitProcrustes(paired, "__xs", "__ys", GateDim)

  /** The q_x_procrustes gate body: ONE residual pass over the planted
    * pair of [[withPair]] scoring the shipped rotation of `model` —
    * per-row round-6 cosine between R·x and y (decimal mean) and the
    * relative Frobenius error Σ‖Rx−y‖²/Σ‖y‖² (round-9 decimal sums). A
    * perfect recovery reads mean_cos 1.0 and frob_rel 0.0. */
  def procrustesResidual(paired: DataFrame, model: ProcrustesModel): DataFrame = {
    val comps = model.rotation.map(rowW =>
      graft.functions.VectorExprs.dot(col("__xs"),
        typedLit(rowW)))
    val scored = paired
      .withColumn("__rx",
        array(comps: _*).cast("array<float>"))
      .withColumn("__cos", round(
        graft.functions.VectorExprs.cosine(col("__rx"), col("__ys")), 6))
    // per-row squared norms in left-fold index order (both engines)
    val yd = (j: Int) => element_at(col("__ys"), j + 1).cast("double")
    val d2 = (0 until GateDim).map(j => (comps(j) - yd(j)) * (comps(j) - yd(j)))
      .reduce(_ + _)
    val y2 = (0 until GateDim).map(j => yd(j) * yd(j)).reduce(_ + _)
    scored
      .agg(count(lit(1)).as("__n"),
        sum(col("__cos").cast("decimal(38,6)")).as("__cs"),
        sum(round(d2, 9).cast("decimal(38,9)")).as("__d2"),
        sum(round(y2, 9).cast("decimal(38,9)")).as("__y2"))
      .select(col("__n").cast("bigint").as("n"),
        round(col("__cs").cast("double") / col("__n").cast("double"), 6)
          .as("mean_cos"),
        round(col("__d2").cast("double") / col("__y2").cast("double"), 6)
          .as("frob_rel"),
        lit(BigDecimal(model.orthErr)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          .as("orth_err"))
  }

  // ── q_x_pipeline5: serve-while-backfilling across embedding versions ──
  //
  // The composition the file header promises: the NEW-version corpus
  // already has an IVF index (trained centroids); OLD-version vectors
  // align through the fitted rotation and then QUERY that index — so
  // a cache/index built on the new space keeps serving old-space
  // queries while re-embedding backfills. Engine-trained state
  // (rotation + k-means codebook) is fitted once per dir; the oracle
  // regenerates the entire chain (align → assign both sides →
  // within-block top-1 → per-block census) from literals at dump time.

  /** The new-space codebook of q_x_pipeline5: `kIvf` centroids trained
    * on the planted pair's destination vectors. */
  def trainPairCodebook(paired: DataFrame, kIvf: Int = 8): Similarity.Codebook =
    Similarity.trainCodebook(paired.select(col("vec_id"),
      col("__ys").cast("array<float>").as("nvec")), "nvec", kIvf)

  /** The q_x_pipeline5 gate body over the planted pair of
    * [[withPair]], its rotation `model` and the new-space codebook
    * `cents`. Data-scale passes (the fits add one cross-moment
    * aggregate and the k-means jobs): one map-side
    * align+assign scan per side (fused [[graft.functions.VectorExprs
    * .nearestCentroidCosine]] argmax — zero exchanges), and ONE
    * block-keyed join for the top-1 retrieval (blocks guarded by
    * [[Similarity.requireBlocksWithin]]; at scale the index side would
    * be bucketed by cid). Output: per-centroid census — queries
    * landing in the block, how many retrieved their OWN new-space
    * twin as top-1 (the serve-correctness number; all of them, for an
    * exactly-recoverable planted transform), and the round-6 decimal
    * mean retrieval cosine. */
  def alignedServe(paired: DataFrame, model: ProcrustesModel,
      cents: Similarity.Codebook): DataFrame = {
    val cdf = Similarity.codebookFrame(paired.sparkSession, cents)
    // old-space queries, aligned into the new space through R (float
    // quantization matches the REAL cast in the twin exactly)
    val comps = model.rotation.map(rw =>
      graft.functions.VectorExprs.dot(col("__xs"), typedLit(rw)))
    val queries = paired.select(col("vec_id"),
      array(comps: _*).cast("array<float>").as("avec"))
    val index = paired.select(col("vec_id"),
      col("__ys").cast("array<float>").as("nvec"))
    val q = Similarity.ivfAssign(queries, "vec_id", "avec", cdf)
    val ix = Similarity.ivfAssign(index, "vec_id", "nvec", cdf)
    Similarity.requireBlocksWithin(ix, "cid", 4096, "q_x_pipeline5")
    val joined = q.select(col("cid"), col("vec_id").as("qid"), col("avec"))
      .join(ix.select(col("cid"), col("vec_id").as("nid"), col("nvec")), "cid")
      .withColumn("__cos", round(
        graft.functions.VectorExprs.cosine(col("avec"), col("nvec")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("__cos").desc, col("nid"))
    joined.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_q"),
        sum(when(col("qid") === col("nid"), 1L).otherwise(0L)).as("n_self"),
        round(sum(col("__cos").cast("decimal(38,6)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_cos"))
      .orderBy(col("cid"))
  }

  /** Generated twin of [[alignedServe]]: pair + rotation folds as
    * in [[procrustesOracleSql]], the raw-cosine argmax assignment of
    * BOTH sides against the centroid literals (the
    * [[Similarity.pcaIvfMnnOracleSql]] pattern), within-block top-1,
    * per-cid census. */
  def alignedServeOracleSql(model: ProcrustesModel,
      cents: Similarity.Codebook, table: String = "embeddings"): String = {
    val dim = model.dim
    val tw = VectorTwinSql
    s"""WITH ${pairCte(dim, table)},
       |pr AS (
       |  SELECT vec_id, CAST(ys AS REAL[]) AS nv, av FROM (
       |    SELECT vec_id, ys, CAST([${tw.projectedList("rx", dim)}] AS REAL[]) AS av FROM (
       |      SELECT vec_id, ys,
       |    ${rotatedCols(model)}
       |      FROM pair))),
       |${Similarity.codebookCte(cents)},
       |${tw.cosineArgmaxCte("qa", "pr", "vec_id", "av", "ce", dim)},
       |${tw.cosineArgmaxCte("na", "pr", "vec_id", "nv", "ce", dim)},
       |s AS (
       |  SELECT q.cid, q.vec_id AS qid, n.vec_id AS nid,
       |    ROUND(${tw.cosine(dim, "q.av", "n.nv")}, 6) AS cos
       |  FROM qa q JOIN na n ON q.cid = n.cid),
       |t1 AS (
       |  SELECT cid, qid, nid, cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, nid) AS rn FROM s)
       |  WHERE rn = 1)
       |SELECT cid, CAST(count(*) AS BIGINT) AS n_q,
       |  CAST(SUM(CASE WHEN qid = nid THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_self,
       |  ROUND(CAST(SUM(CAST(cos AS DECIMAL(38,6))) AS DOUBLE)
       |    / count(*), 6) AS mean_cos
       |FROM t1 GROUP BY cid ORDER BY cid""".stripMargin
  }

  /** `pair(vec_id, xs, ys)`: the planted pair of [[withPair]] in SQL. */
  private def pairCte(dim: Int, table: String): String =
    s"""pair AS (
       |  SELECT vec_id, embedding[1:$dim] AS xs,
       |    list_transform(range(1, ${dim + 1}), j ->
       |      CASE WHEN j % 2 = 1 THEN embedding[1:$dim][${dim + 1} - j]
       |           ELSE -embedding[1:$dim][${dim + 1} - j] END) AS ys
       |  FROM $table)""".stripMargin

  /** R·xs as columns rx1..rxdim, the rotation rows inlined as literals. */
  private def rotatedCols(model: ProcrustesModel): String =
    VectorTwinSql.projectionCols(model.dim, "xs", model.rotation, "rx")

  /** Generated twin of [[procrustesResidual]]: the same planted pair
    * in SQL, the rotation rows inlined as DOUBLE literals from the
    * fitted model (dump-time, the q_x_pq pattern), the same left-fold
    * dots, round-6 cosine, and round-9 decimal residual sums. */
  def procrustesOracleSql(model: ProcrustesModel,
      table: String = "embeddings"): String = {
    val dim = model.dim
    val d2 = (1 to dim)
      .map(j => s"(rx$j - CAST(ys[$j] AS DOUBLE)) * " +
        s"(rx$j - CAST(ys[$j] AS DOUBLE))")
      .mkString(" + ")
    val y2 = (1 to dim)
      .map(j => s"CAST(ys[$j] AS DOUBLE) * CAST(ys[$j] AS DOUBLE)")
      .mkString(" + ")
    val orth = BigDecimal(model.orthErr)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    s"""WITH ${pairCte(dim, table)},
       |proj AS (
       |  SELECT xs, ys,
       |    ${rotatedCols(model)}
       |  FROM pair),
       |scored AS (
       |  SELECT
       |    ROUND(list_cosine_similarity(
       |      CAST(CAST([${VectorTwinSql.projectedList("rx", dim)}] AS REAL[]) AS DOUBLE[]),
       |      CAST(ys AS DOUBLE[])), 6) AS cos,
       |    ROUND($d2, 9) AS d2, ROUND($y2, 9) AS y2
       |  FROM proj)
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |  ROUND(CAST(SUM(CAST(cos AS DECIMAL(38,6))) AS DOUBLE)
       |    / count(*), 6) AS mean_cos,
       |  ROUND(CAST(SUM(CAST(d2 AS DECIMAL(38,9))) AS DOUBLE) /
       |    CAST(SUM(CAST(y2 AS DECIMAL(38,9))) AS DOUBLE), 6)
       |    AS frob_rel,
       |  $orth AS orth_err
       |FROM scored""".stripMargin
  }
}
