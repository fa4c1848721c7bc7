package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Isotonic (monotone non-decreasing) calibration of a discrete
  * probabilistic scorer — pool-adjacent-violators over the forecast's
  * bin panel: where the reliability diagram ([[Profiling.brierDecomposition]])
  * MEASURES miscalibration, this REPAIRS it, producing the monotone
  * rate map a downstream thresholding step can trust.
  *
  * Scale shape: the ONLY data-scale pass is the (p, count, Σy) bin
  * aggregate (bins = distinct forecast values — config-sized for any
  * quantized scorer); PAV runs on the DRIVER over the collected panel.
  * PAV pooling compares block means by integer CROSS-PRODUCTS
  * (s₁·n₂ > s₂·n₁ — exact at any count), so the fit is deterministic
  * with no float comparisons anywhere; fitted rates divide pooled
  * integer sums in DOUBLE only at the output edge (round 6).
  */
object Calibration {

  /** Pool-adjacent-violators over `(p, n, s)` bins (any order; sorted
    * by p internally). Returns the per-bin fitted rate, p-ascending —
    * the isotonic regression of s/n with weights n, exact integer
    * pooling. */
  def pavFit(bins: Seq[(Double, Long, Long)]): Seq[Double] = {
    require(bins.nonEmpty, "PAV needs at least one bin")
    require(bins.forall(_._2 > 0), "every bin needs n > 0")
    val sorted = bins.sortBy(_._1)
    // blocks of (pooled n, pooled s, #bins pooled)
    val stack = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    for ((_, n, s) <- sorted) {
      var cn = n; var cs = s; var cb = 1
      // violation: previous block mean EXCEEDS current — pool (exact
      // cross-product compare in BigInt: pooled s·n exceeds Long past
      // ~3e9-row bins, which a 100 TB corpus reaches)
      while (stack.nonEmpty &&
          BigInt(stack.last._2) * cn > BigInt(cs) * stack.last._1) {
        val (pn, ps, pb) = stack.remove(stack.length - 1)
        cn += pn; cs += ps; cb += pb
      }
      stack += ((cn, cs, cb))
    }
    stack.toSeq.flatMap { case (n, s, b) =>
      val r = BigDecimal.valueOf(s.toDouble / n.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq.fill(b)(r)
    }
  }

  /** APPLY side of the fit — the step a serving pipeline actually
    * ships: map `score` through the fitted monotone (threshold → rate)
    * map as a pure MAP-SIDE expression. The ≤1024-bin fit rides as two
    * codegen reference arrays; the lookup is "rate of the LAST
    * threshold ≤ score" (the isotonic step function), realized as the
    * fused [[graft.functions.StepFloorLookup]] binary search — no join,
    * no shuffle, no UDF, and crucially NO higher-order function: the
    * earlier `filter(ths, t -> t <= score)` form was CodegenFallback,
    * dropping the whole serving projection to interpreted eval (the
    * round-8 quantizer defect class; fused-vs-HOF ratio measured at a
    * 10M-row rung, SURVEY §8.12). Scores below the first threshold
    * clamp to the first rate (standard isotonic extrapolation clamps
    * both ends; above-range scores take the last rate by the same
    * rule). Comparisons are on shared doubles, so a DuckDB twin
    * reproduces the lookup bit-for-bit. */
  def calibrateColumn(score: Column, fit: Seq[(Double, Double)]): Column = {
    requireFit(fit)
    graft.functions.StepFloorLookup.column(score.cast("double"),
      fit.map(_._1).toArray, fit.map(_._2).toArray)
  }

  /** The composable HOF twin of [[calibrateColumn]] — kept ONLY as the
    * independent parity witness for the fused expression (CalibrationSpec
    * asserts value equality over edge cases); never put this on a
    * data-sized path: `filter` is CodegenFallback and drops the whole
    * projection to interpreted eval. */
  private[graft] def calibrateColumnHof(score: Column,
      fit: Seq[(Double, Double)]): Column = {
    requireFit(fit)
    val idx = size(filter(typedLit(fit.map(_._1)), t => t <= score))
    // the bare HOF would CLAMP a null score to the first rate (a null
    // predicate keeps nothing → idx 0 → element 1); the contract is
    // SQL-like null-in/null-out, so the twin states it explicitly
    when(score.isNotNull,
      element_at(typedLit(fit.map(_._2)), greatest(idx, lit(1))))
  }

  private def requireFit(fit: Seq[(Double, Double)]): Unit = {
    require(fit.nonEmpty && fit.size <= 1024,
      s"config-sized fitted map required, got ${fit.size} bins")
    val ths = fit.map(_._1)
    require(ths == ths.sorted && ths.distinct == ths,
      "fit thresholds must be strictly ascending")
  }

  // ───────── q_f_isotonic / q_f_calibrate gates + generated oracles ─────────

  /** A fitted isotonic map: the p-ascending `(p, n, s)` bins and the
    * PAV rate of each. */
  final case class IsoFit(bins: Seq[(Double, Long, Long)], fitted: Seq[Double])

  /** The gates' fit: bin the discount-as-probability forecast against
    * the return label (the q_a_brier panel), PAV on the driver. */
  def fitDiscountIsotonic(lineitem: DataFrame): IsoFit = {
    val rows = lineitem
      .where(col("l_discount").isNotNull && col("l_returnflag").isNotNull)
      .groupBy((col("l_discount") * lit(10.0)).as("__p"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("__s"))
      .collect()
    require(rows.length <= 1024, "bin panel must be config-sized")
    val bins = rows.toSeq
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    IsoFit(bins, pavFit(bins))
  }

  /** The q_f_isotonic gate body: the per-bin calibration table of
    * `fit`. The bin relation and raw rates are recomputed
    * INDEPENDENTLY by the oracle; the fitted rates join in as
    * dump-time literals (spec-gated PAV properties pin the solve
    * itself). */
  def isotonicTable(spark: SparkSession, fit: IsoFit): DataFrame = {
    import spark.implicits._
    fit.bins.zip(fit.fitted).map { case ((p, n, s), iso) =>
      val raw = BigDecimal.valueOf(s.toDouble / n.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (p, n, raw, iso)
    }.toDF("p", "n", "rate_raw", "rate_iso").orderBy(col("p"))
  }

  /** Generated twin of [[isotonicTable]]: bins and raw rates recomputed
    * from the parquet table; fitted rates inlined as a VALUES relation
    * from `fit` (literal doubles round-trip via toString). */
  def isotonicOracleSql(fit: IsoFit, table: String = "lineitem"): String = {
    val vals = fit.bins.zip(fit.fitted)
      .map { case ((p, _, _), iso) => s"($p, $iso)" }
      .mkString(", ")
    s"""WITH c AS (
       |  SELECT l_discount * 10.0 AS p,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
       |  FROM $table
       |  WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
       |bins AS (
       |  SELECT p, CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(y) AS BIGINT) AS s
       |  FROM c GROUP BY p),
       |iso AS (SELECT * FROM (VALUES $vals) v(p, rate_iso))
       |SELECT b.p, b.n, ROUND(CAST(b.s AS DOUBLE) / b.n, 6) AS rate_raw,
       |  i.rate_iso
       |FROM bins b JOIN iso i ON b.p = i.p
       |ORDER BY b.p""".stripMargin
  }

  /** The q_f_calibrate gate body: APPLY `fit` (the q_f_isotonic fit)
    * per-row to a score the fit never saw — `l_tax·10 + 0.05` lands
    * strictly BETWEEN the discount-grid thresholds, so every row
    * exercises the step-function floor lookup, not an exact-hit join.
    * Per-row apply first (the serving shape), then a (score, score_iso)
    * census for a bounded gate output. The score arithmetic is IEEE ops
    * on shared doubles (decimal→double cast + literal multiply/add),
    * bit-identical across engines. */
  def calibrateCensus(lineitem: DataFrame, fit: IsoFit): DataFrame = {
    val steps = fit.bins.map(_._1).zip(fit.fitted)
    lineitem.where(col("l_tax").isNotNull)
      .select((col("l_tax").cast("double") * lit(10.0) + lit(0.05))
        .as("score"))
      .withColumn("score_iso", calibrateColumn(col("score"), steps))
      .groupBy(col("score"), col("score_iso"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("score"))
  }

  /** Generated twin of [[calibrateCensus]]: scores and the census
    * recomputed from parquet; the fitted map inlined as VALUES from
    * `fit`; the step lookup recomputed INDEPENDENTLY as a correlated
    * "last threshold ≤ score" subquery (no HOF semantics shared with
    * the engine). */
  def calibrateOracleSql(fit: IsoFit, table: String = "lineitem"): String = {
    val vals = fit.bins.zip(fit.fitted)
      .map { case ((p, _, _), iso) => s"($p, $iso)" }
      .mkString(", ")
    s"""WITH iso AS (SELECT * FROM (VALUES $vals) v(p, rate_iso)),
       |c AS (
       |  SELECT CAST(l_tax AS DOUBLE) * 10.0 + 0.05 AS score
       |  FROM $table WHERE l_tax IS NOT NULL),
       |s AS (
       |  SELECT score, CAST(count(*) AS BIGINT) AS n
       |  FROM c GROUP BY score)
       |SELECT s.score,
       |  COALESCE(
       |    (SELECT i.rate_iso FROM iso i WHERE i.p <= s.score
       |     ORDER BY i.p DESC LIMIT 1),
       |    (SELECT i.rate_iso FROM iso i ORDER BY i.p LIMIT 1)) AS score_iso,
       |  s.n
       |FROM s ORDER BY s.score""".stripMargin
  }
}
