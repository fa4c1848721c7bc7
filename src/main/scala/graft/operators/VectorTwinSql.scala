package graft.operators

/** The DuckDB form of each engine vector stage, written once. The
  * generated oracle twins in [[Similarity]], [[Clustering]],
  * [[Alignment]], [[ProductQuantization]] and [[Pca]] build their SQL
  * from these pieces, so the rules that cross-engine parity rests on
  * live in one place on the twin side, as they do on the engine side
  * ([[graft.functions.VectorExprs]]):
  *
  *  - every vector sum is a LEFT fold over 1-based indices
  *    (`list_reduce` over `list_transform(range(1, dim + 1), …)`), the
  *    order the fused engine kernels accumulate in;
  *  - data elements widen to DOUBLE before any product;
  *  - literals print by `Double.toString` (Float→Double widens exactly
  *    and the string round-trips);
  *  - argmax/argmin ties go to the lowest cid, top-1 ties to the lowest
  *    neighbour id.
  *
  * The builders emit SQL text only and call no Spark code, so a twin
  * stays independent of the engine it checks. Vector arguments are SQL
  * list expressions (`e.embedding`, `c.cv`); the fold variable is `i`.
  */
object VectorTwinSql {

  /** Left fold of `term` (an expression in the index `i`) over
    * i = 1..dim. */
  def fold(dim: Int, term: String): String =
    s"list_reduce(list_transform(range(1, ${dim + 1}), i -> $term), (a, b) -> a + b)"

  /** Element i of list `x` (shifted by `off`), widened to DOUBLE. */
  private def el(x: String, off: Int): String =
    if (off == 0) s"CAST($x[i] AS DOUBLE)" else s"CAST($x[$off + i] AS DOUBLE)"

  /** x·y — the twin of [[graft.functions.VectorExprs.dot]]. */
  def dot(dim: Int, x: String, y: String): String =
    fold(dim, s"${el(x, 0)} * ${el(y, 0)}")

  /** ‖x‖ = sqrt(x·x). */
  def norm(dim: Int, x: String): String = s"sqrt(${dot(dim, x, x)})"

  /** x·w for a literal vector `w` (a plane, a matrix row). */
  def dotLit(dim: Int, x: String, w: Array[Double]): String =
    fold(dim, s"${el(x, 0)} * (${listLit(w)})[i]")

  /** Unrounded raw cosine x·y / (‖x‖·‖y‖) — the twin of
    * [[graft.functions.VectorExprs.cosine]] before its caller rounds.
    * Bitwise symmetric in x and y (IEEE products commute). */
  def cosine(dim: Int, x: String, y: String): String =
    s"${dot(dim, x, y)}\n      / (${norm(dim, x)} * ${norm(dim, y)})"

  /** ‖x[off+1..off+dim] − c‖², left-folded — the distance
    * [[graft.functions.VectorExprs.nearestCentroid]] ranks by. */
  def sqDist(dim: Int, x: String, off: Int, c: String): String =
    fold(dim, s"(${el(x, off)} - $c[i]) * (${el(x, off)} - $c[i])")

  /** `[v1, v2, …]`, each element by `Double.toString`. */
  def listLit(v: Array[Double]): String = v.mkString("[", ", ", "]")

  /** A literal-row CTE `name(key, vec)`: a codebook `(cid, cv)` or a
    * plane set `(pid, pv)`. With `typed` each vector is cast to
    * DOUBLE[]; without it the list keeps DuckDB's literal type. */
  def valuesCte(name: String, key: String, vec: String,
      rows: Seq[(Int, Array[Double])], typed: Boolean): String = {
    val cast = if (typed) "::DOUBLE[]" else ""
    val vals = rows.map { case (k, v) => s"($k, ${listLit(v)}$cast)" }
    s"$name AS (SELECT * FROM (VALUES\n    ${vals.mkString(",\n    ")}) t($key, $vec))"
  }

  /** The literal-matrix projection: one `dotLit` of `x` per row of a
    * float matrix, in row order (PCA components, Procrustes and OPQ
    * rotations). */
  def projection(dim: Int, x: String, matrix: Array[Array[Float]]): Seq[String] =
    matrix.toSeq.map(w => dotLit(dim, x, w.map(_.toDouble)))

  /** The projection as columns `${prefix}1 … ${prefix}n` of `x`. */
  def projectionCols(dim: Int, x: String, matrix: Array[Array[Float]],
      prefix: String): String =
    projection(dim, x, matrix).zipWithIndex
      .map { case (p, j) => s"$p AS $prefix${j + 1}" }.mkString(",\n    ")

  /** `${prefix}1, …, ${prefix}n` — the list of [[projectionCols]]. */
  def projectedList(prefix: String, n: Int): String =
    (1 to n).map(j => s"$prefix$j").mkString(", ")

  /** Raw-cosine codebook argmax, the twin of
    * [[graft.functions.VectorExprs.nearestCentroidCosine]] (and so of
    * [[Similarity.ivfAssign]]): each `from` row (`id`, `vec`) takes the
    * `book` (cid, cv) row of greatest cosine, ties to the lowest cid.
    * Columns: (`id`, cid, `vec`). */
  def cosineArgmaxCte(name: String, from: String, id: String, vec: String,
      book: String, dim: Int): String =
    s"""$name AS (
       |  SELECT $id, cid, $vec FROM (
       |    SELECT e.$id, c.cid, e.$vec,
       |      row_number() OVER (PARTITION BY e.$id ORDER BY
       |        ${cosine(dim, s"e.$vec", "c.cv")} DESC,
       |        c.cid) AS rn
       |    FROM $from e CROSS JOIN $book c)
       |  WHERE rn = 1)""".stripMargin

  /** Squared-L2 codebook argmin, the twin of
    * [[graft.functions.VectorExprs.nearestCentroid]]: each `from` row
    * takes the `book` (cid, cv) row nearest to its slice
    * `vec[off+1..off+dim]`, ties `(d, cid)` to the lowest cid.
    * Columns: (`id`, cid, cv). */
  def l2ArgminCte(name: String, from: String, id: String, vec: String,
      off: Int, dim: Int, book: String): String =
    s"""$name AS (
       |  SELECT $id, cid, cv FROM (
       |    SELECT e.$id, c.cid, c.cv,
       |      ${sqDist(dim, s"e.$vec", off, "c.cv")} AS d
       |    FROM $from e, $book c)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY $id ORDER BY d, cid) = 1)""".stripMargin

  /** Undirected all-pairs within `keys` blocks of `from` (`id`, `vec`):
    * (first key, id1, id2, cos) with id1 < id2 and `cos` unrounded. */
  def blockPairsCte(name: String, from: String, keys: Seq[String],
      id: String, vec: String, dim: Int): String = {
    val on = keys.map(k => s"x.$k = y.$k").mkString(" AND ")
    s"""$name AS (
       |  SELECT x.${keys.head}, x.$id AS id1, y.$id AS id2,
       |    ${cosine(dim, s"x.$vec", s"y.$vec")} AS cos
       |  FROM $from x JOIN $from y
       |    ON $on AND x.$id < y.$id)""".stripMargin
  }

  /** The bounded candidate chain, the twin of
    * [[Similarity.refineOversizedBlocks]] + [[Similarity.boundedBlockPairs]]
    * over the CTE `base` (`block`, `id`, `vec`): block census,
    * integer-exact bit count (printf('%b') bit-length, no libm),
    * sub-bucket signs over the [[Similarity.subBucketPlanes]] literals
    * (round-9 dots), the second census's overflow flag, all-pairs
    * inside fitting sub-buckets, and the sorted-neighbourhood window
    * (round-9 projection onto the last plane, then id) inside overflow
    * ones. The last CTE, `cand`, holds (`block`, id1, id2, cos) with
    * id1 < id2 and `cos` unrounded; every candidate pair appears once. */
  def boundedPairCtes(base: String, block: String, id: String, vec: String,
      dim: Int, maxBlock: Int, overflowWindow: Int): String = {
    val planes = Similarity.subBucketPlanes(dim).map(_.map(_.toDouble))
    val maxBits = planes.length - 1
    s"""${valuesCte("pl", "pid", "pv", planes.init.toSeq.zipWithIndex.map(_.swap), typed = true)},
       |cs1 AS (SELECT $block, count(*) AS n FROM $base GROUP BY 1),
       |bt AS (
       |  SELECT $block, CASE WHEN n <= $maxBlock THEN 0
       |    ELSE LEAST($maxBits,
       |      length(printf('%b', (n + ${maxBlock - 1}) // $maxBlock - 1)))
       |    END AS b
       |  FROM cs1),
       |sg AS (
       |  SELECT e.$id, e.$block,
       |    SUM(CASE WHEN p.pid < b.b AND ROUND(${dot(dim, s"e.$vec", "p.pv")}, 9) > 0
       |      THEN (1::BIGINT << p.pid) ELSE 0 END) AS sub
       |  FROM $base e JOIN bt b USING ($block)
       |  CROSS JOIN pl p
       |  GROUP BY e.$id, e.$block),
       |cs2 AS (SELECT $block, sub, count(*) AS n2 FROM sg GROUP BY 1, 2),
       |wc AS (
       |  SELECT s.$id, s.$block, s.sub, (c.n2 > $maxBlock) AS ovf, e.$vec
       |  FROM sg s JOIN cs2 c USING ($block, sub)
       |  JOIN $base e USING ($id)),
       |wf AS (SELECT * FROM wc WHERE NOT ovf),
       |${blockPairsCte("np", "wf", Seq(block, "sub"), id, vec, dim)},
       |ovr AS (
       |  SELECT $id, $block, sub, $vec,
       |    row_number() OVER (PARTITION BY $block, sub
       |      ORDER BY ROUND(${dotLit(dim, s"wc.$vec", planes.last)}, 9), $id) AS rn
       |  FROM wc WHERE ovf),
       |op AS (
       |  SELECT x.$block,
       |    LEAST(x.$id, y.$id) AS id1,
       |    GREATEST(x.$id, y.$id) AS id2,
       |    ${cosine(dim, s"x.$vec", s"y.$vec")} AS cos
       |  FROM ovr x JOIN ovr y
       |    ON x.$block = y.$block AND x.sub = y.sub
       |   AND y.rn > x.rn AND y.rn <= x.rn + $overflowWindow),
       |cand AS (SELECT * FROM np UNION ALL SELECT * FROM op)""".stripMargin
  }

  /** The mutual-nearest tail, the twin of [[Similarity.mutualNearestPairs]]
    * after its candidates: each undirected pair of `pairs` (`block`,
    * id1, id2, cos) scores both directions at round-6 cosine, each
    * (block, ida) keeps its top-1 (cos DESC, then the lowest idb), and
    * the last CTE, `mnn`, holds the reciprocal top-1 pairs as
    * (`block`, id1, id2, cos) with id1 < id2. */
  def mutualNnCtes(pairs: String, block: String): String =
    s"""dirs AS (
       |  SELECT $block, id1 AS ida, id2 AS idb, ROUND(cos, 6) AS cos FROM $pairs
       |  UNION ALL
       |  SELECT $block, id2 AS ida, id1 AS idb, ROUND(cos, 6) AS cos FROM $pairs),
       |t1 AS (
       |  SELECT $block, ida, idb, cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY $block, ida
       |      ORDER BY cos DESC, idb) AS rn FROM dirs)
       |  WHERE rn = 1),
       |mnn AS (
       |  SELECT x.$block, x.ida AS id1, x.idb AS id2, x.cos AS cos
       |  FROM t1 x JOIN t1 y
       |    ON x.$block = y.$block
       |   AND x.ida = y.idb AND x.idb = y.ida
       |  WHERE x.ida < x.idb)""".stripMargin
}
