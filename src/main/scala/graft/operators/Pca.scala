package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Principal component analysis over an embedding column — the
  * dimensionality-reduction step a large-scale embedding pipeline runs
  * before indexing/clustering (and the whitening input: scale each
  * projection by 1/sqrt(eigenvalue)).
  *
  * Scale shape (the covariance-is-small decomposition, reference point
  * `q_a_covmatrix`'s panel): the ONLY data-scale pass is one aggregate
  * of `dim + dim·(dim+1)/2 + 1` decimal sums (count, Σv_i, and the
  * upper-triangle Σv_i·v_j — map-side combined, the shuffle carries one
  * partial row per partition); the dim×dim covariance is config-sized,
  * so the eigen-solve runs on the DRIVER (cyclic Jacobi — deterministic,
  * no library dependency), and projection is pure map-side codegen:
  * pc_c = dot(v, w_c) − ⟨mean, w_c⟩ through the fused
  * [[graft.functions.VectorExprs.dot]] expression with the components
  * as float literals. Per-term ROUND(·,9) into the decimal sums makes
  * the fit layout-independent; components quantize to FLOAT so the
  * generated oracle shares the exact literals (Float→Double widens
  * exactly; Double.toString round-trips).
  */
object Pca {

  final case class PcaModel(dim: Int, n: Long, mean: Array[Double],
      eigenvalues: Array[Double], components: Array[Array[Float]]) {
    /** ⟨mean, w_c⟩ per component, the projection offset — folded LEFT in
      * index order (deterministic, embedded as a literal in both
      * engines). */
    def offsets: Array[Double] = components.map { w =>
      var s = 0.0; var i = 0
      while (i < dim) { s += mean(i) * w(i).toDouble; i += 1 }
      s
    }
  }

  /** One-pass moment fit + driver eigen-solve. `k` = number of
    * components kept (eigenvalue-descending, deterministic signs).
    *
    * Input-scale contract: the per-term ROUND(·,9) quantizes moments
    * ABSOLUTELY, and the E[xy]−E[x]E[y] form cancels — so covariance
    * entries are trustworthy only when the rounding error (∝ |v|²·1e-9
    * per term) is far below the data's spread. Roughly-unit-scale
    * embeddings (|v_i| ≲ 10, variance ≳ 1e-6) satisfy this with ~6
    * digits to spare; re-scale (or pre-center) inputs with |v_i| ≫ 100
    * before fitting. */
  def fit(df: DataFrame, vecCol: String, dim: Int, k: Int): PcaModel = {
    require(dim >= 2 && dim <= 256, s"need 2 <= dim <= 256, got $dim")
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim, got $k")
    val v = col(vecCol).cast("array<double>")
    def d(c: Column) = round(c, 9).cast("decimal(38,9)")
    val pairs = for (i <- 0 until dim; j <- i until dim)
      yield sum(d(v.getItem(i) * v.getItem(j))).as(s"p_${i}_$j")
    val sums = (0 until dim).map(i => sum(d(v.getItem(i))).as(s"s_$i"))
    val row = df.agg(count(lit(1)).as("n"), (sums ++ pairs): _*).head()
    val n = row.getLong(0)
    require(n >= 2, s"PCA needs at least 2 rows, got $n")
    val s = Array.tabulate(dim)(i =>
      row.getDecimal(1 + i).doubleValue())
    val mean = s.map(_ / n)
    val cov = Array.ofDim[Double](dim, dim)
    var idx = 1 + dim
    for (i <- 0 until dim; j <- i until dim) {
      val pij = row.getDecimal(idx).doubleValue(); idx += 1
      val c = pij / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (values, vectors) = jacobiEigen(cov)
    // order by eigenvalue desc (ties by original index), deterministic
    // sign: the largest-|component| entry is positive
    val order = values.zipWithIndex.sortBy { case (ev, i) => (-ev, i) }
      .take(k).map(_._2)
    val comps = order.map { c =>
      val w = vectors(c)
      val pivot = w.zipWithIndex.maxBy { case (x, i) => (math.abs(x), -i) }._1
      val sign = if (pivot < 0) -1.0 else 1.0
      w.map(x => (x * sign).toFloat)
    }
    PcaModel(dim, n, mean, order.map(values), comps)
  }

  /** Map-side projection onto the model's components:
    * (`idCol`, pc1..pck), each round-6. */
  def project(df: DataFrame, idCol: String, vecCol: String,
      model: PcaModel): DataFrame = {
    val off = model.offsets
    val cols = model.components.zipWithIndex.map { case (w, c) =>
      round(graft.functions.VectorExprs.dot(col(vecCol), typedLit(w.toSeq))
        - lit(off(c)), 6).as(s"pc${c + 1}")
    }
    df.select((col(idCol) +: cols.toSeq): _*)
  }

  /** Map-side WHITENED projection: pc_c = (dot(v, w_c) − ⟨mean, w_c⟩)
    * / sqrt(λ_c), round-6 — unit-variance components, the purpose the
    * header names. λ_c embeds as an in-plan literal and sqrt/divide run
    * AT EXECUTION in both engines (sqrt is IEEE-correctly-rounded, the
    * shared-literal discipline — never pre-divide driver-side). */
  def projectWhitened(df: DataFrame, idCol: String, vecCol: String,
      model: PcaModel): DataFrame = {
    model.eigenvalues.foreach(ev => require(ev > 0,
      s"whitening needs strictly positive eigenvalues, got $ev"))
    val off = model.offsets
    val cols = model.components.zipWithIndex.map { case (w, c) =>
      round((graft.functions.VectorExprs.dot(col(vecCol), typedLit(w.toSeq))
        - lit(off(c))) / sqrt(lit(model.eigenvalues(c))), 6).as(s"pc${c + 1}")
    }
    df.select((col(idCol) +: cols.toSeq): _*)
  }

  /** The projection re-shaped for downstream vector operators:
    * (`idCol`, `pvec` array<float>) — the round-6 components quantized
    * to FLOAT, so a generated oracle rebuilds the exact same vectors
    * with `ROUND(..., 6)::REAL` (the established float-quantization
    * parity idiom). This is the reduced representation the IVF/MNN
    * stages of a production embedding pipeline consume. */
  def projectedVec(df: DataFrame, idCol: String, vecCol: String,
      model: PcaModel): DataFrame = {
    val p = project(df, idCol, vecCol, model)
    p.select(col(idCol),
      array(model.components.indices.map(i => col(s"pc${i + 1}")): _*)
        .cast("array<float>").as("pvec"))
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix — plain
    * deterministic driver arithmetic (the matrix is config-sized by the
    * [[fit]] contract). Returns (eigenvalues, eigenvectors-as-rows). */
  private[operators] def jacobiEigen(m: Array[Array[Double]],
      maxSweeps: Int = 64, tol: Double = 1e-12)
      : (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = Array.tabulate(n, n)((i, j) => m(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until n; j <- i + 1 until n) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (sweep < maxSweeps && off() > tol) {
      for (p <- 0 until n - 1; q <- p + 1 until n if a(p)(q) != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val sgn = if (theta >= 0.0) 1.0 else -1.0
        val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        var i = 0
        while (i < n) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
          i += 1
        }
        i = 0
        while (i < n) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
          i += 1
        }
        i = 0
        while (i < n) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
          i += 1
        }
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)),
      Array.tabulate(n)(cc => Array.tabulate(n)(r => v(r)(cc))))
  }

  // ───────────── q_x_pca gates' bodies + generated oracles ─────────────

  /** The q_x_outliers gate body: whitened-subspace outlier mining —
    * the per-row Mahalanobis distance IN THE KEPT SUBSPACE is the norm
    * of the whitened projection, so the embedding-curation question
    * "which rows are far from everything" is one map-side pass over
    * the fitted model + a top-k (TakeOrderedAndProject, no global
    * sort). Score = √(Σ pc_c²) on the round-6 whitened components
    * (shared doubles — *, +, √ are IEEE-safe), round 6. */
  def outlierTopK(emb: DataFrame, model: PcaModel, k: Int = 20): DataFrame = {
    val p = projectWhitened(emb, "vec_id", "embedding", model)
    val score = round(sqrt(model.components.indices
      .map(i => col(s"pc${i + 1}") * col(s"pc${i + 1}"))
      .reduce(_ + _)), 6)
    p.select(col("vec_id"), score.as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Generated twin of [[outlierTopK]]: the whitened-projection
    * oracle as a subquery, the same left-fold squared norm. */
  def outlierOracleSql(model: PcaModel, table: String = "embeddings",
      k: Int = 20): String = {
    val norm = model.components.indices
      .map(i => s"pc${i + 1} * pc${i + 1}").mkString(" + ")
    s"""SELECT vec_id, ROUND(sqrt($norm), 6) AS score
       |FROM (${oracleSql(model, table, whiten = true)})
       |ORDER BY score DESC, vec_id LIMIT $k""".stripMargin
  }

  /** Generated twin of [[project]]: components inline as DOUBLE[]
    * literals, the same dot fold and offset literal, round-6. With
    * `whiten`, the twin of [[projectWhitened]]: divide by sqrt(λ_c) with
    * λ_c as the same literal BOTH engines sqrt at execution. */
  def oracleSql(model: PcaModel, table: String = "embeddings",
      whiten: Boolean = false): String = {
    val off = model.offsets
    val pcs = VectorTwinSql.projection(model.dim, "e.embedding",
        model.components)
      .zipWithIndex.map { case (p, c) =>
        val scale = if (whiten) s" / sqrt(${model.eigenvalues(c)})" else ""
        s"ROUND(($p - ${off(c)})$scale, 6) AS pc${c + 1}"
      }.mkString(",\n    ")
    s"""SELECT e.vec_id,
       |    $pcs
       |FROM $table e
       |ORDER BY e.vec_id""".stripMargin
  }
}
