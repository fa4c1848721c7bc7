package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs

/** Product quantization (PQ) — the memory side of billion-scale ANN.
  *
  * IVF ([[Similarity]]) prunes WHICH vectors a query probes; PQ shrinks
  * WHAT each probe costs: the dim-D float vector becomes `m` byte codes
  * (one per subspace) against per-subspace codebooks, a 16-32× memory
  * cut, and query-time distance is a table lookup per subspace (ADC —
  * asymmetric distance computation) instead of a dim-long float scan.
  * IVF+PQ together are the standard layout for embeddings that no
  * longer fit executor memory as floats.
  *
  * Training decomposes onto the ALREADY-ORACLED k-means loop
  * ([[Clustering.kMeans]], gated by q_x_kmeans/q_x_kmeans_assign): each
  * subspace trains on the sliced vectors — same seeding, same
  * decimal-mean rounds, same tie rules. Encoding is the fused
  * [[VectorExprs.nearestCentroid]] per slice (map-side, codegen'd);
  * ADC folds `m` literal-table lookups (plan constants — never
  * shuffled) and plans as TakeOrderedAndProject: a bounded heap per
  * partition, k rows to the driver, no global sort. The q_x_pq gate
  * inlines the trained codebooks and lookup tables into a generated
  * DuckDB twin that INDEPENDENTLY re-encodes every vector and re-ranks
  * — regressions in slicing, assignment ties, or the lookup fold are
  * hash-visible (a training regression shifts the codebook literals
  * and the verdict of the kmeans gates that pin the loop).
  */
object ProductQuantization {

  /** Trained codebooks: `codebooks(j)(c)` is centroid `c` of subspace
    * `j` (length `dim / m`). */
  final case class PQModel(dim: Int, m: Int,
      codebooks: Array[Array[Array[Double]]]) {
    def subDim: Int = dim / m
    def k: Int = codebooks(0).length
  }

  /** Per-subspace k-means over vector slices. One oracled-k-means run
    * per subspace (m · iters aggregate jobs; model state is m·k·subDim
    * doubles on the driver — model-sized, never data-sized). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): PQModel = {
    require(m > 0 && dim > 0 && dim % m == 0,
      s"dim must split into m equal subspaces, got dim=$dim m=$m")
    val sub = dim / m
    val books = (0 until m).map { j =>
      val sliced = corpus.select(col(idCol).as("vid"),
        slice(col(vecCol).cast("array<double>"), j * sub + 1, sub).as("v"))
      val res = Clustering.kMeans(sliced, "vid", "v", k, sub, iters)
      val arr = Array.ofDim[Double](k, sub)
      res.centroids.collect().foreach { r =>
        arr(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      arr
    }.toArray
    PQModel(dim, m, books)
  }

  /** (`idCol`, `codes`): each vector's m nearest-subspace-centroid ids
    * — the compressed representation. Map-side, zero shuffle. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      model: PQModel): DataFrame = {
    val sub = model.subDim
    df.select(col(idCol),
      array((0 until model.m).map(j =>
        VectorExprs.nearestCentroid(
          slice(col(vecCol).cast("array<double>"), j * sub + 1, sub),
          model.codebooks(j))): _*).as("codes"))
  }

  /** Query-to-centroid squared-distance lookup tables (m × k doubles),
    * computed once on the driver — the per-query ADC state. */
  private[operators] def lookupTables(model: PQModel,
      query: Array[Double]): Array[Array[Double]] = {
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    val sub = model.subDim
    model.codebooks.zipWithIndex.map { case (book, j) =>
      book.map { c =>
        var d = 0.0; var i = 0
        while (i < sub) {
          val t = query(j * sub + i) - c(i); d += t * t; i += 1
        }
        d
      }
    }
  }

  /** Top-k by ADC distance over an [[encode]]d table: distance =
    * left-assoc sum of m literal-table lookups, rounded to 6; ties
    * break by id. The tables ride as plan literals (k·m doubles). */
  def adcTopK(encoded: DataFrame, idCol: String, codesCol: String,
      model: PQModel, query: Array[Double], topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val tables = lookupTables(model, query)
    val dist = (0 until model.m).map(j =>
      element_at(array(tables(j).map(lit): _*),
        col(codesCol).getItem(j) + 1)).reduce(_ + _)
    encoded
      .select(col(idCol), round(dist, 6).as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(topK)
  }

  // ───────────── OPQ: optimized product quantization ─────────────

  /** OPQ model: an orthogonal rotation applied BEFORE product
    * quantization (Ge et al., CVPR'13 — non-parametric OPQ, one
    * alternation): PQ's independence assumption wastes code budget
    * when energy/correlation straddles subspace boundaries; rotating
    * the space first lets the same m×k codes cut more error. Training
    * alternates (here: one round) between codes and rotation —
    * R = polar(X̂ Xᵀ), EXACTLY the orthogonal-Procrustes solve already
    * in-tree ([[Alignment.fitProcrustes]] with dst = the PQ
    * reconstruction), then PQ retrains in the rotated space. All
    * data-scale passes are the already-audited shapes: per-subspace
    * k-means aggregates, ONE dim² cross-moment aggregate, map-side
    * fused encodes. */
  final case class OpqModel(dim: Int, rotation: Array[Array[Float]],
      raw: PQModel, opq: PQModel, orthErr: Double)
  // Input contract (shared with train/encode): non-null vectors of
  // exactly `dim` elements — a null vector would null its distortion
  // row while still counting toward the mean (and a SQL twin's
  // assignment over a null vector ties arbitrarily); filter nulls out
  // explicitly before OPQ, as the fused vector expressions require.

  /** codes expression — the [[encode]] projection as a reusable column
    * (m fused nearest-centroid argmins over slices; map-side). */
  private def codesExpr(vec: Column, model: PQModel): Column = {
    val sub = model.subDim
    array((0 until model.m).map(j =>
      VectorExprs.nearestCentroid(
        slice(vec.cast("array<double>"), j * sub + 1, sub),
        model.codebooks(j))): _*)
  }

  /** Per-row squared reconstruction error ‖v − cb[codes]‖²: per
    * subspace a left-assoc fold of (v_i − c_i)², subspace folds summed
    * left-assoc — the exact association the generated oracle mirrors. */
  private def reconD2(vec: Column, codes: Column, model: PQModel): Column = {
    val sub = model.subDim
    (0 until model.m).map { j =>
      val cb = typedLit(model.codebooks(j).map(_.toSeq).toSeq)
      val cvec = element_at(cb, codes.getItem(j) + 1)
      (0 until sub).map { i =>
        val t = vec.getItem(j * sub + i).cast("double") - element_at(cvec, i + 1)
        t * t
      }.reduce(_ + _)
    }.reduce(_ + _)
  }

  /** Driver-side query rotation into OPQ space: rq[j] = Σ_i R[j][i]·q[i],
    * accumulating float→double left-to-right exactly like
    * [[VectorExprs.dot]] (the corpus-side rotation) — one rotated query
    * per lookup, model-sized work. */
  def rotateQuery(rotation: Array[Array[Float]], q: Array[Float]): Array[Double] = {
    require(rotation.nonEmpty && rotation(0).length == q.length,
      s"query dim ${q.length} != rotation dim ${rotation.headOption.map(_.length).getOrElse(0)}")
    rotation.map { w =>
      var d = 0.0; var i = 0
      while (i < w.length) { d += q(i).toDouble * w(i).toDouble; i += 1 }
      d
    }
  }

  /** The OPQ SERVE path — what an ANN user actually runs against an
    * OPQ index: rotate the query (driver, model-sized), rotate + encode
    * the corpus map-side (m fused argmins over the rotated slices), then
    * ADC top-k against the OPQ codebooks with the ROTATED query's lookup
    * tables. Zero shuffles before the TakeOrderedAndProject bounded heap;
    * in a real deployment the encode is done once offline and only the
    * ADC scan runs per query (the [[adcTopK]] shape). */
  def opqServeTopK(df: DataFrame, idCol: String, vecCol: String,
      model: OpqModel, query: Array[Float], topK: Int): DataFrame = {
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    val comps = model.rotation.map(w =>
      VectorExprs.dot(col(vecCol).cast("array<float>"), typedLit(w)))
    val encoded = df.select(col(idCol),
      codesExpr(array(comps: _*), model.opq).as("__codes"))
    adcTopK(encoded, idCol, "__codes", model.opq,
      rotateQuery(model.rotation, query), topK)
  }

  /** Trains OPQ by alternating (non-parametric OPQ): codes given the
    * rotation (per-subspace k-means in the rotated space), then the
    * rotation given the codes (Procrustes fit of the ORIGINAL vectors
    * against the current reconstruction — a fresh total rotation each
    * round, never composed). The final PQ retrains in the final
    * rotation's space so model pieces are mutually consistent. Model
    * state is driver-tiny; training costs (alternations+1)·m·iters
    * k-means aggregates + alternations dim² cross-moment aggregates. */
  def trainOpq(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int,
      alternations: Int = 2): OpqModel = {
    require(alternations >= 1, s"need >= 1 alternation, got $alternations")
    val raw = train(corpus, idCol, vecCol, dim, m, k, iters)
    val sub = raw.subDim
    def reconOf(vc: Column, codes: Column, pq: PQModel): Column =
      array((0 until dim).map { d =>
        val j = d / sub
        val cb = typedLit(pq.codebooks(j).map(_.toSeq).toSeq)
        element_at(element_at(cb, codes.getItem(j) + 1), d % sub + 1)
      }: _*)
    def rotatedCol(rot: Array[Array[Float]]): Column =
      array(rot.map(w =>
        VectorExprs.dot(col(vecCol).cast("array<float>"), typedLit(w))): _*)
    var rot: Alignment.ProcrustesModel = null
    var it = 0
    while (it < alternations) {
      val xr = if (rot == null) col(vecCol) else rotatedCol(rot.rotation)
      val framed = corpus.withColumn("__xr", xr)
      val cur = if (it == 0) raw
        else train(framed, idCol, "__xr", dim, m, k, iters)
      val withRecon = framed
        .withColumn("__codes", codesExpr(col("__xr"), cur))
        .withColumn("__recon", reconOf(col("__xr"), col("__codes"), cur))
      rot = Alignment.fitProcrustes(withRecon, vecCol, "__recon", dim)
      it += 1
    }
    val rotated = corpus.withColumn("__xr", rotatedCol(rot.rotation))
    val opq = train(rotated, idCol, "__xr", dim, m, k, iters)
    OpqModel(dim, rot.rotation, raw, opq, rot.orthErr)
  }

  /** Full-corpus mean squared OPQ reconstruction distortion of `model`:
    * rotate + encode map-side, ONE global aggregate — the production
    * scoring step a sampled fit still pays in full (and the number the
    * keep-better policy compares). `vecCol` must hold non-null
    * `model.dim`-element vectors (the shared OPQ input contract). */
  def scoreOpqDistortion(corpus: DataFrame, vecCol: String,
      model: OpqModel): Double = {
    val comps = model.rotation.map(w =>
      VectorExprs.dot(col(vecCol).cast("array<float>"), typedLit(w)))
    corpus
      .withColumn("__xr", array(comps: _*))
      .withColumn("__co", codesExpr(col("__xr"), model.opq))
      .agg(avg(reconD2(col("__xr"), col("__co"), model.opq)))
      .head().getDouble(0)
  }

  /** Outcome of the sampled-fit keep-better policy: the chosen model,
    * its full-corpus distortion, both candidates' distortions, and
    * which one won. */
  final case class OpqChoice(model: OpqModel, distortion: Double,
      sampledDistortion: Double, previousDistortion: Option[Double],
      keptSampled: Boolean, sampleRows: Long)

  /** The production OPQ refresh recipe the `opqsample` probe priced
    * (SURVEY §8.13): fit rotation + codebooks on a SEEDED sample
    * (~25× the fit wall at ≤1% distortion cost at 5%), score the
    * candidate's distortion on the FULL corpus (one cheap pass), and
    * keep the better of sampled-vs-`previous` — because the sampled
    * k-means sits in a different local minimum per corpus (the probe's
    * curve was non-monotone), the guard is what makes the cheap fit
    * SAFE: a refresh can never publish a model worse than the one it
    * replaces, as measured on the corpus it will actually serve.
    *
    * Scale shape: the fit runs every trainOpq aggregate on `frac` of
    * the rows (the sample is localCheckpoint'ed once — the iterative
    * k-means must not re-sample per job); scoring is one map-side
    * rotate+encode pass per candidate. Returns the choice with both
    * scores so callers can log the margin. */
  def trainOpqSampled(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int, alternations: Int = 2,
      frac: Double = 0.05, seed: Long = 42L,
      previous: Option[OpqModel] = None): OpqChoice = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0, 1], got $frac")
    previous.foreach(p => require(p.dim == dim,
      s"previous model dim ${p.dim} != $dim"))
    val sampleDf = corpus.sample(withReplacement = false, frac, seed)
      .localCheckpoint()
    val sampleRows = sampleDf.count()
    require(sampleRows > 0, s"seeded sample at frac=$frac drew 0 rows")
    val cand = trainOpq(sampleDf, idCol, vecCol, dim, m, k, iters, alternations)
    val dCand = scoreOpqDistortion(corpus, vecCol, cand)
    previous match {
      case Some(p) =>
        val dPrev = scoreOpqDistortion(corpus, vecCol, p)
        if (dPrev < dCand)
          OpqChoice(p, dPrev, dCand, Some(dPrev), keptSampled = false, sampleRows)
        else
          OpqChoice(cand, dCand, dCand, Some(dPrev), keptSampled = true, sampleRows)
      case None =>
        OpqChoice(cand, dCand, dCand, None, keptSampled = true, sampleRows)
    }
  }

  /** The q_x_opq gate body: ONE scoring pass over `base`'s `vecCol`
    * computing mean squared reconstruction error under raw PQ vs OPQ
    * (round-9 per-row decimal sums, mean in double, round-6 outputs).
    * The oracle re-encodes every vector against BOTH inlined codebooks
    * and re-derives both distortions independently. */
  def opqDistortionReport(base: DataFrame, vecCol: String,
      model: OpqModel): DataFrame = {
    val comps = model.rotation.map(w =>
      VectorExprs.dot(col(vecCol), typedLit(w)))
    val scored = base
      .withColumn("__cr", codesExpr(col(vecCol), model.raw))
      .withColumn("__xr", array(comps: _*))
      .withColumn("__co", codesExpr(col("__xr"), model.opq))
    val d9 = "decimal(38,9)"
    scored
      .agg(count(lit(1)).as("__n"),
        sum(round(reconD2(col(vecCol), col("__cr"), model.raw), 9).cast(d9))
          .as("__dr"),
        sum(round(reconD2(col("__xr"), col("__co"), model.opq), 9).cast(d9))
          .as("__do"))
      .select(col("__n").cast("bigint").as("n"),
        round(col("__dr").cast("double") / col("__n").cast("double"), 6)
          .as("distortion_raw"),
        round(col("__do").cast("double") / col("__n").cast("double"), 6)
          .as("distortion_opq"),
        lit(BigDecimal(model.orthErr)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          .as("orth_err"))
  }

  /** Generated twin of [[opqServeTopK]] for `model` and the rotated
    * query `rq`: the corpus re-rotated from the inlined rotation
    * literals, per-subspace assignment with the shared (d, cid) tie
    * rule, and the ADC fold from the inlined lookup tables of `rq`. */
  def opqServeOracleSql(model: OpqModel, rq: Array[Double],
      table: String = "embeddings", dim: Int = 16, topK: Int = 10): String =
    s"""WITH ${rotatedBase(model, table, dim)},
       |${adcTopKSql(model.opq, rq, "base", "xr", "vec_id", topK, typed = true)}""".stripMargin

  /** `emb0(vid, xs)` and `base(vid, xs, xr)`: the first `dim` elements
    * of each embedding and their rotation by the inlined OPQ rotation
    * rows — shared by the OPQ gate twins. */
  private def rotatedBase(model: OpqModel, table: String, dim: Int): String = {
    val tw = VectorTwinSql
    s"""emb0 AS (SELECT vec_id AS vid, embedding[1:$dim] AS xs FROM $table),
       |base AS (
       |  SELECT vid, xs, [${tw.projectedList("rx", dim)}]::DOUBLE[] AS xr FROM (
       |    SELECT vid, xs,
       |    ${tw.projectionCols(dim, "xs", model.rotation, "rx")}
       |    FROM emb0))""".stripMargin
  }

  /** Per-subspace codebook CTEs `cb<tag>j(cid, cv)` of `pq` — with
    * `typed`, each centroid cast to DOUBLE[]. */
  private def codebookCtes(tag: String, pq: PQModel, typed: Boolean): Seq[String] =
    (0 until pq.m).map(j => VectorTwinSql.valuesCte(s"cb$tag$j", "cid", "cv",
      pq.codebooks(j).toSeq.zipWithIndex.map(_.swap), typed))

  /** Per-subspace assignment CTEs `cd<tag>j(vid, cid, cv)`: each `from`
    * row's nearest `cb<tag>j` centroid to its j-th slice of `vec`. */
  private def assignCtes(tag: String, pq: PQModel, from: String,
      vec: String): Seq[String] =
    (0 until pq.m).map(j => VectorTwinSql.l2ArgminCte(s"cd$tag$j", from,
      "vid", vec, j * pq.subDim, pq.subDim, s"cb$tag$j"))

  /** Encode `from`.`vec` (vid-keyed) against `pq`, then rank by the
    * left-assoc ADC sum of `query`'s inlined lookup tables, round 6,
    * ties by id — the twin of [[encode]] → [[adcTopK]]. */
  private def adcTopKSql(pq: PQModel, query: Array[Double], from: String,
      vec: String, idCol: String, topK: Int, typed: Boolean): String = {
    val tables = lookupTables(pq, query)
    val codes = (0 until pq.m).map(j => s"cd$j.cid AS code$j").mkString(", ")
    val joins = (1 until pq.m).map(j => s"JOIN cd$j USING (vid)").mkString(" ")
    val luts = (0 until pq.m).map { j =>
      val cases = tables(j).zipWithIndex
        .map { case (t, c) => s"WHEN $c THEN CAST($t AS DOUBLE)" }.mkString(" ")
      s"(CASE code$j $cases END)"
    }.mkString("\n         + ")
    val ctes = codebookCtes("", pq, typed) ++ assignCtes("", pq, from, vec)
    s"""${ctes.mkString(",\n")},
       |codes AS (SELECT vid, $codes FROM cd0 $joins)
       |SELECT vid AS $idCol,
       |       ROUND($luts, 6) AS adist
       |FROM codes
       |ORDER BY adist, vid LIMIT $topK""".stripMargin
  }

  /** Generated twin of [[opqDistortionReport]]: rotation + BOTH codebooks
    * inline as literals; identical per-subspace assignment tie rule,
    * identical left-assoc distortion folds, round-9 decimal sums,
    * round-6 means. */
  def opqOracleSql(model: OpqModel, table: String = "embeddings",
      dim: Int = 16): String = {
    val m = model.raw.m
    val sub = model.raw.subDim
    def d2(tag: String, vcol: String) = (0 until m)
      .map(j => VectorTwinSql.sqDist(sub, vcol, j * sub, s"cv$tag$j"))
      .mkString("\n    + ")
    val cvs = for (tag <- Seq("r", "o"); j <- 0 until m)
      yield s"cd$tag$j.cv AS cv$tag$j"
    val joins = for (tag <- Seq("r", "o"); j <- 0 until m)
      yield s"JOIN cd$tag$j USING (vid)"
    val ctes = codebookCtes("r", model.raw, typed = true) ++
      codebookCtes("o", model.opq, typed = true) ++
      assignCtes("r", model.raw, "base", "xs") ++
      assignCtes("o", model.opq, "base", "xr")
    s"""WITH ${rotatedBase(model, table, dim)},
       |${ctes.mkString(",\n")},
       |joined AS (
       |  SELECT vid, xs, xr, ${cvs.mkString(", ")}
       |  FROM base ${joins.mkString(" ")}),
       |perrow AS (
       |  SELECT vid,
       |    ${d2("r", "xs")} AS d2r,
       |    ${d2("o", "xr")} AS d2o
       |  FROM joined)
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |  ROUND(CAST(SUM(CAST(ROUND(d2r, 9) AS DECIMAL(38,9))) AS DOUBLE)
       |    / count(*), 6) AS distortion_raw,
       |  ROUND(CAST(SUM(CAST(ROUND(d2o, 9) AS DECIMAL(38,9))) AS DOUBLE)
       |    / count(*), 6) AS distortion_opq,
       |  CAST(${BigDecimal(model.orthErr)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble} AS DOUBLE)
       |    AS orth_err
       |FROM perrow""".stripMargin
  }

  /** Generated DuckDB twin of encode→ADC→top-k: codebooks and lookup
    * tables inline as literals (Double.toString round-trips exactly);
    * per-subspace assignment uses the same left-fold distance and
    * (d, cid) tie rule as the engine's fused expression, the ADC sum is
    * the same left-assoc literal chain. */
  def adcOracleSql(table: String, idCol: String, vecCol: String,
      model: PQModel, query: Array[Double], topK: Int): String =
    s"""WITH emb AS (SELECT $idCol AS vid, $vecCol AS v FROM $table),
       |${adcTopKSql(model, query, "emb", "v", idCol, topK, typed = false)}""".stripMargin
}
