package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs

/** Training-data SUBSET SELECTION over an embedding column — the
  * "which rows do we keep" counterpart to the dedup operators
  * (reference workloads stop at drop-the-duplicates;
  * a 100 TB curation pipeline also has to pick a diverse/relevant
  * core, e.g. for annotation budgets or curriculum seeds).
  *
  * Two classical selectors, both driver-coordinated loops of k
  * MAP-SIDE corpus passes (the selected set is config-sized, so each
  * round is one fused scan + a 1-row aggregate — no join, no shuffle
  * of the corpus, the same scale shape as
  * [[Similarity.trainCentroids]]):
  *
  *  - [[farthestFirst]] — greedy k-center (Gonzalez): each round
  *    selects the point FARTHEST from the selected set (max-min
  *    cosine distance). The classic 2-approximation to the k-center
  *    cover; radii are non-increasing and bound the corpus cover.
  *  - [[mmr]] — maximal marginal relevance: each round selects
  *    argmax λ·rel(v) − (1−λ)·max-sim-to-selected, trading query
  *    relevance against redundancy.
  *
  * Determinism contract (the DuckDB-twin discipline): cosines round
  * to 6 ([[VectorExprs.cosine]] ↔ `list_cosine_similarity` parity),
  * every derived score is IEEE arithmetic on those shared doubles
  * (bit-identical across engines — no further rounding anywhere),
  * and every argmax breaks ties to the LOWEST id. The generated
  * oracles ([[farthestFirstOracleSql]], [[mmrOracleSql]]) recompute
  * the whole selection independently as an unrolled CTE — they never
  * see engine state.
  *
  * At 100 TB: k passes over the corpus is the textbook distributed
  * greedy selection; each pass is whole-stage-codegen'd map work
  * (j≤k fused cosine expressions) feeding a single partial-aggregated
  * 1-row max — shuffle bytes per round are O(#partitions), not O(n).
  *
  * INPUT CONTRACT: no zero-norm (or null) vectors. A zero-norm row
  * has no cosine to anything — engine-side `least()` skips the null
  * term while the DuckDB twin's `1.0 − NULL` lands wherever that
  * engine's NULL ordering puts it, so the bit-identical-selection
  * claim holds only over vectors with a defined cosine. Callers with
  * dirty corpora must pre-filter (`VectorExprs.cosine(v, v).isNotNull`
  * is the canonical predicate); the gate fixtures are generated
  * non-zero by construction.
  */
object Selection {

  /** One selection round: the (id, vector, score) row maximizing
    * `score`, ties to the lowest id — computed as a struct-max
    * aggregate (deterministic: ids are unique, so the comparison
    * never reaches the vector field). */
  private def argmaxRow(df: DataFrame, idCol: String, vecCol: String,
      score: org.apache.spark.sql.Column): Row =
    df.agg(max(struct(score.as("s"), (-col(idCol)).as("nid"),
        col(vecCol).as("v"))).as("m"))
      .select(col("m.s"), (-col("m.nid")).as("id"), col("m.v"))
      .head()

  /** Greedy k-center (farthest-first traversal) over `vecCol`
    * (array<float>): seeds at the LOWEST id, then k−1 rounds of
    * "select the point with maximum min-cosine-distance to the
    * selected set". Returns (rank, id, radius): `radius` is the
    * selected point's min distance at selection time (null for the
    * seed) — non-increasing, and radius(k) bounds the cover of the
    * unselected corpus within factor 2. */
  def farthestFirst(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    farthestFirstCenters(corpus, idCol, vecCol, k).zipWithIndex
      .map { case ((id, _, rad), i) => (i + 1, id, rad) }
      .toDF("rank", "vec_id", "radius")
  }

  /** [[farthestFirst]] returning the selected (id, vector, radius)
    * triples in selection order — for callers that feed the centers
    * into a downstream map-side pass ([[coverageCurve]]). */
  def farthestFirstCenters(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): Vector[(Long, Seq[Float], Option[Double])] = {
    require(k >= 1 && k <= 64, s"config-sized k required, got $k")
    val base = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).as("__v"))
    val seed = base.orderBy(col("__id")).limit(1).head()
    var selected = Vector[(Long, Seq[Float], Option[Double])](
      (seed.getLong(0), seed.getSeq[Float](1), None))
    while (selected.size < k) {
      val remaining = base.where(!col("__id")
        .isin(selected.map(_._1): _*))
      // min cosine-distance to the selected set: each term is
      // 1 − round-6 cosine (the shared cross-engine double); LEAST
      // over doubles is order-independent
      val dists = selected.map { case (_, v, _) =>
        lit(1.0) - round(VectorExprs.cosine(col("__v"),
          typedLit(v)), 6)
      }
      val minD = if (dists.size == 1) dists.head else least(dists: _*)
      val r = argmaxRow(remaining, "__id", "__v", minD)
      // an all-null aggregate row means the candidate pool ran dry —
      // fail with the real cause, not an opaque NPE on getLong
      require(!r.isNullAt(1),
        s"corpus exhausted after ${selected.size} selections; need k=$k")
      selected :+= ((r.getLong(1), r.getSeq[Float](2),
        Some(r.getDouble(0))))
    }
    selected
  }

  /** Coverage curve of a selected-center set: for each threshold t,
    * how many corpus rows sit within cosine distance t of their
    * NEAREST center (min over centers of 1 − round-6 cosine — the
    * same expression per term as the selection loop). One map-side
    * scan with |centers| fused cosines + a single partial-aggregated
    * row; the curve is assembled driver-side from that one row. The
    * selection-quality eval that closes the k-center loop: radius(k)
    * from [[farthestFirst]] bounds where the curve must hit 100%. */
  def coverageCurve(corpus: DataFrame, idCol: String, vecCol: String,
      centers: Seq[Seq[Float]], thresholds: Seq[Double]): DataFrame = {
    require(centers.nonEmpty && centers.size <= 64, "config-sized centers")
    require(thresholds.nonEmpty && thresholds.size <= 32, "few thresholds")
    val spark = corpus.sparkSession
    val sims = centers.map(v =>
      round(VectorExprs.cosine(col(vecCol), typedLit(v)), 6))
    val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
    val minD = lit(1.0) - maxSim
    val aggs = thresholds.zipWithIndex.map { case (t, i) =>
      sum(when(minD <= lit(t), 1L).otherwise(0L)).as(s"__n$i")
    }
    val row = corpus.agg(aggs.head, aggs.tail: _*).head()
    import spark.implicits._
    thresholds.zipWithIndex.map { case (t, i) => (t, row.getLong(i)) }
      .toDF("threshold", "n_cov")
  }

  /** The independent twin of [[farthestFirst]]+[[coverageCurve]]:
    * recomputes the whole selection (same unrolled chain as
    * [[farthestFirstOracleSql]]), then the same min-distance scan and
    * per-threshold counts. */
  def coverageOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, thresholds: Seq[Double]): String = {
    def cosTo(c: String) =
      s"""ROUND(list_cosine_similarity(
         |      CAST(e.$vecCol AS DOUBLE[]),
         |      (SELECT CAST($vecCol AS DOUBLE[]) FROM $c)), 6)""".stripMargin
    val sims = (1 to k).map(i => cosTo(s"c$i"))
    val maxSim = if (sims.size == 1) sims.head
    else s"GREATEST(${sims.mkString(",\n      ")})"
    val curve = thresholds.map { t =>
      s"""SELECT CAST($t AS DOUBLE) AS threshold,
         |  CAST((SELECT COUNT(*) FROM dist WHERE __d <= $t) AS BIGINT)
         |    AS n_cov""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${ffCtes(table, idCol, vecCol, k)},
       |dist AS MATERIALIZED (
       |  SELECT 1.0 - $maxSim AS __d FROM $table e)
       |$curve
       |ORDER BY threshold""".stripMargin
  }

  /** The independent unrolled-CTE twin of [[farthestFirst]]: seed =
    * min id; step j = argmax over the not-yet-selected corpus of
    * LEAST over selected of (1 − round-6 list_cosine_similarity);
    * ties to the lowest id. Recomputes everything from the parquet —
    * shares no engine state. */
  /** The farthest-first selection chain c1..ck as a WITH-body —
    * shared by [[farthestFirstOracleSql]] and [[coverageOracleSql]].
    * MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    * c_k referencing every c_i below it would expand the plan
    * exponentially in k. */
  private def ffCtes(table: String, idCol: String, vecCol: String,
      k: Int): String = {
    def cosTo(c: String) =
      s"""(1.0 - ROUND(list_cosine_similarity(
         |      CAST(e.$vecCol AS DOUBLE[]),
         |      (SELECT CAST($vecCol AS DOUBLE[]) FROM $c)), 6))""".stripMargin
    val ctes = new StringBuilder
    ctes ++= s"c1 AS MATERIALIZED (SELECT $idCol, $vecCol FROM $table ORDER BY $idCol LIMIT 1)"
    for (j <- 2 to k) {
      // step j: min distance to the j−1 already-selected points,
      // recomputed stateless (min over doubles is order-independent,
      // so the nesting matches the engine's selection-order least)
      val terms = (1 until j).map(i => cosTo(s"c$i"))
      val minD = if (terms.size == 1) terms.head
      else s"LEAST(${terms.mkString(",\n      ")})"
      val notSel = (1 until j)
        .map(i => s"e.$idCol <> (SELECT $idCol FROM c$i)")
        .mkString(" AND ")
      ctes ++= s""",
        |c$j AS MATERIALIZED (
        |  SELECT e.$idCol, e.$vecCol, $minD AS __d
        |  FROM $table e
        |  WHERE $notSel
        |  ORDER BY __d DESC, e.$idCol LIMIT 1)""".stripMargin
    }
    ctes.toString
  }

  /** `ctePrefix`, when non-empty, is a comma-joined CTE list emitted
    * BEFORE the selection chain — so `table` may name one of those
    * CTEs (the dedup→select pipeline twin builds its survivor
    * relation this way). */
  def farthestFirstOracleSql(table: String, idCol: String,
      vecCol: String, k: Int, ctePrefix: String = ""): String = {
    val sel = (1 to k).map { j =>
      val rad = if (j == 1) "CAST(NULL AS DOUBLE)" else "__d"
      s"SELECT $j AS rank, $idCol AS vec_id, $rad AS radius FROM c$j"
    }.mkString("\nUNION ALL ")
    val prefix = if (ctePrefix.isEmpty) "" else s"$ctePrefix,\n"
    s"WITH $prefix${ffCtes(table, idCol, vecCol, k)}\n$sel\nORDER BY rank"
  }

  /** Maximal marginal relevance top-k: query = the vector at the
    * LOWEST id (excluded from candidates); round 1 picks the most
    * query-similar candidate, round j>1 picks
    * argmax λ·rel − (1−λ)·max-sim-to-selected. Returns
    * (rank, id, score) where round 1's score is its relevance and
    * later scores are the MMR objective — all IEEE arithmetic on the
    * shared round-6 cosines, no further rounding. */
  def mmr(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= 64, s"config-sized k required, got $k")
    require(lambda > 0.0 && lambda <= 1.0, s"lambda in (0,1], got $lambda")
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).as("__v"))
    val q = base.orderBy(col("__id")).limit(1).head()
    val (qid, qvec) = (q.getLong(0), q.getSeq[Float](1))
    val rel = round(VectorExprs.cosine(col("__v"), typedLit(qvec)), 6)
    var selected = Vector.empty[(Long, Seq[Float], Double)]
    while (selected.size < k) {
      val remaining = base.where(!col("__id")
        .isin((qid +: selected.map(_._1)): _*))
      val score = if (selected.isEmpty) rel
      else {
        val sims = selected.map { case (_, v, _) =>
          round(VectorExprs.cosine(col("__v"), typedLit(v)), 6)
        }
        val maxSim = if (sims.size == 1) sims.head
        else greatest(sims: _*)
        lit(lambda) * rel - lit(1.0 - lambda) * maxSim
      }
      val r = argmaxRow(remaining, "__id", "__v", score)
      // candidates exclude the query row, so a corpus of exactly k
      // rows runs dry — fail with the real cause, not an opaque NPE
      require(!r.isNullAt(1),
        s"candidate pool exhausted after ${selected.size} selections; need k=$k")
      selected :+= ((r.getLong(1), r.getSeq[Float](2), r.getDouble(0)))
    }
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, _, s), i) => (i + 1, id, s) }
      .toDF("rank", "vec_id", "score")
  }

  /** The independent unrolled-CTE twin of [[mmr]]. `lambda` and
    * `1 − lambda` are emitted as shortest-repr literals — the same
    * doubles the engine's `lit(...)` parses. `ctePrefix` as in
    * [[farthestFirstOracleSql]] (lets `table` name a prefixed CTE —
    * the retrieve-then-rerank twin). */
  def mmrOracleSql(table: String, idCol: String, vecCol: String,
      k: Int, lambda: Double = 0.7, ctePrefix: String = ""): String = {
    val lam = lambda.toString
    val oneMinus = (1.0 - lambda).toString
    def cosTo(c: String) =
      s"""ROUND(list_cosine_similarity(
         |      CAST(e.$vecCol AS DOUBLE[]),
         |      (SELECT CAST($vecCol AS DOUBLE[]) FROM $c)), 6)""".stripMargin
    val ctes = new StringBuilder
    // MATERIALIZED prevents DuckDB's CTE inlining from expanding the
    // step chain exponentially (c_k references every c_i below it)
    ctes ++=
      s"""q AS MATERIALIZED (SELECT $idCol, $vecCol FROM $table ORDER BY $idCol LIMIT 1),
         |r AS MATERIALIZED (SELECT e.$idCol, e.$vecCol, ${cosTo("q")} AS __rel
         |      FROM $table e
         |      WHERE e.$idCol <> (SELECT $idCol FROM q)),
         |c1 AS MATERIALIZED (SELECT $idCol, $vecCol, __rel AS __s FROM r
         |       ORDER BY __rel DESC, $idCol LIMIT 1)""".stripMargin
    for (j <- 2 to k) {
      // step j: max similarity to the j−1 already-selected points,
      // recomputed stateless (max over doubles is order-independent)
      val terms = (1 until j).map(i => cosTo(s"c$i"))
      val maxSim = if (terms.size == 1) terms.head
      else s"GREATEST(${terms.mkString(",\n      ")})"
      val notSel = (1 until j)
        .map(i => s"e.$idCol <> (SELECT $idCol FROM c$i)")
        .mkString(" AND ")
      ctes ++= s""",
        |c$j AS MATERIALIZED (
        |  SELECT e.$idCol, e.$vecCol,
        |    $lam * e.__rel - $oneMinus * $maxSim AS __s
        |  FROM r e
        |  WHERE $notSel
        |  ORDER BY __s DESC, e.$idCol LIMIT 1)""".stripMargin
    }
    val sel = (1 to k).map { j =>
      s"SELECT $j AS rank, $idCol AS vec_id, __s AS score FROM c$j"
    }.mkString("\nUNION ALL ")
    val prefix = if (ctePrefix.isEmpty) "" else s"$ctePrefix,\n"
    s"WITH $prefix${ctes.toString}\n$sel\nORDER BY rank"
  }
}
