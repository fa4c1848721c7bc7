package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-group feature scaling for training-data pipelines: z-score
  * standardization, min-max scaling, and percentile winsorization —
  * each computed WITHIN a group (a source, a language, a feature family)
  * so one source's outliers never set another's scale.
  *
  * Scale shape: every operator is one group-keyed aggregate producing a
  * per-group stats table (rows = groups, i.e. tiny) joined back to the
  * input on the group key — AQE broadcasts the stats side, so the input
  * shuffles at most once (for the aggregate) and the join is map-side.
  *
  * Cross-engine reproducibility (the DuckDB-oracle discipline): moments
  * come from DECIMAL power sums, not streaming variance (Spark's
  * `stddev` and DuckDB's accumulate differently); `sqrt` is IEEE
  * correctly-rounded and thus engine-identical; results round to 6.
  */
object FeatureScaling {

  /** Adds `out` = (x − mean)/sd with mean/sd of the row's OWN group —
    * sample sd (n−1) from decimal power sums. Groups with one row or
    * zero variance yield null (no meaningful scale), rather than ±inf. */
  def groupZScore(df: DataFrame, groupCol: String, valueCol: String,
      out: String = "z"): DataFrame = {
    Reserved.guard("groupZScore", df, "__n", "__s1", "__s2", "__mean", "__sd", out)
    val x = col(valueCol)
    val stats = df.groupBy(col(groupCol)).agg(
        count(x).cast("double").as("__n"),
        sum(x.cast("decimal(38,6)")).cast("double").as("__s1"),
        sum((x * x).cast("decimal(38,6)")).cast("double").as("__s2"))
      .select(col(groupCol),
        (col("__s1") / col("__n")).as("__mean"),
        when(col("__n") > 1, sqrt(
          (col("__s2") - col("__s1") * col("__s1") / col("__n")) /
            (col("__n") - lit(1.0)))).as("__sd"))
    df.join(stats, groupCol)
      .withColumn(out,
        round((x - col("__mean")) / when(col("__sd") > 0, col("__sd")), 6))
      .drop("__mean", "__sd")
  }

  /** Adds `out` = (x − min)/(max − min) of the row's group, in [0, 1];
    * null for constant groups. Integer-exact until the one division. */
  def groupMinMax(df: DataFrame, groupCol: String, valueCol: String,
      out: String = "scaled"): DataFrame = {
    Reserved.guard("groupMinMax", df, "__lo", "__hi", out)
    val x = col(valueCol)
    val stats = df.groupBy(col(groupCol))
      .agg(min(x).as("__lo"), max(x).as("__hi"))
    df.join(stats, groupCol)
      .withColumn(out, round(
        (x - col("__lo")).cast("double") /
          when(col("__hi") > col("__lo"), (col("__hi") - col("__lo")).cast("double")),
        6))
      .drop("__lo", "__hi")
  }

  /** All three scalings in ONE pass: z-score (`zOut`), min-max (`mmOut`),
    * and winsorize (`clipOut`) against a single per-group stats aggregate
    * and a single AQE-broadcast join. Chaining the single-op variants
    * replays the input once per op (each stats aggregate re-reads the
    * previous op's join lineage); a pipeline that wants several scalings
    * of one column should pay the scan and the group shuffle once.
    * Formulas are identical to the single ops, so outputs match them
    * column-for-column. */
  def scaleAll(df: DataFrame, groupCol: String, valueCol: String,
      zOut: String = "z", mmOut: String = "scaled", clipOut: String = "clipped",
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad band [$pLo, $pHi]")
    Reserved.guard("scaleAll", df, "__n", "__s1", "__s2", "__mean", "__sd",
      "__lo", "__hi", "__plo", "__phi", zOut, mmOut, clipOut)
    val x = col(valueCol)
    val stats = df.groupBy(col(groupCol)).agg(
        count(x).cast("double").as("__n"),
        sum(x.cast("decimal(38,6)")).cast("double").as("__s1"),
        sum((x * x).cast("decimal(38,6)")).cast("double").as("__s2"),
        min(x).as("__lo"), max(x).as("__hi"),
        expr(s"percentile(`$valueCol`, $pLo)").as("__plo"),
        expr(s"percentile(`$valueCol`, $pHi)").as("__phi"))
      .select(col(groupCol),
        (col("__s1") / col("__n")).as("__mean"),
        when(col("__n") > 1, sqrt(
          (col("__s2") - col("__s1") * col("__s1") / col("__n")) /
            (col("__n") - lit(1.0)))).as("__sd"),
        col("__lo"), col("__hi"), col("__plo"), col("__phi"))
    df.join(stats, groupCol)
      .withColumn(zOut,
        round((x - col("__mean")) / when(col("__sd") > 0, col("__sd")), 6))
      .withColumn(mmOut, round(
        (x - col("__lo")).cast("double") /
          when(col("__hi") > col("__lo"), (col("__hi") - col("__lo")).cast("double")),
        6))
      .withColumn(clipOut,
        round(greatest(col("__plo"), least(col("__phi"), x.cast("double"))), 6))
      .drop("__mean", "__sd", "__lo", "__hi", "__plo", "__phi")
  }

  /** Adds `out` = x clipped into the group's exact [pLo, pHi] percentile
    * band (linear-interpolation percentiles — Spark `percentile` ==
    * DuckDB `quantile_cont`). The tail-taming step before scaling when a
    * feature has heavy outliers. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double, out: String = "clipped"): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad band [$pLo, $pHi]")
    Reserved.guard("winsorize", df, "__lo", "__hi", out)
    val stats = df.groupBy(col(groupCol)).agg(
      expr(s"percentile(`$valueCol`, $pLo)").as("__lo"),
      expr(s"percentile(`$valueCol`, $pHi)").as("__hi"))
    df.join(stats, groupCol)
      .withColumn(out,
        round(greatest(col("__lo"), least(col("__hi"), col(valueCol).cast("double"))), 6))
      .drop("__lo", "__hi")
  }

  /** Quantile normalization (Bolstad et al. 2003): every group's value
    * distribution is forced onto the SAME reference distribution — the
    * cross-group mean at each sorted rank. The batch-effect remover for
    * multi-source feature columns (each source keeps its internal
    * ordering; scale/shape artifacts between sources vanish).
    *
    * Rank r's reference = mean over groups of the group's r-th smallest
    * value (groups shorter than r simply don't contribute at r — the
    * unequal-size generalization). Ties within a group order by
    * `tieCol` so ranks are deterministic.
    *
    * Scale shape: one group-keyed rank window (the running-sum
    * shuffle), one rank-keyed mean aggregate (rows = max group size),
    * and a rank-keyed join back — every stage keyed, nothing global.
    * Reference means accumulate per-term ROUND(,6) DECIMAL and divide
    * in DOUBLE; output rounds to 6.
    */
  /** Piecewise-linear calibration against an equally-spaced knot curve
    * (`ys(i)` = the curve's value at `x0 + i·step`): every row
    * interpolates between its two bracketing knots, values outside the
    * grid clamp to the edge knots. The lookup-table transform behind
    * score calibration, unit conversion curves, and histogram-equalized
    * features — zero joins, zero shuffle, the knot ladder folds into
    * the plan as literals (both engines consume the identical
    * constants).
    *
    * The blend is fixed-order double arithmetic on pre-rounded knot
    * literals; output rounds to 6. */
  def piecewiseLinear(df: DataFrame, valueCol: String, x0: Double,
      step: Double, ys: Seq[Double], out: String = "calibrated"): DataFrame = {
    require(ys.size >= 2, s"need >= 2 knots, got ${ys.size}")
    require(step > 0, s"step must be positive, got $step")
    require(!df.columns.contains(out),
      s"piecewiseLinear emits `$out` — rename the input's first")
    val v = col(valueCol)
    val n = ys.size
    val idx = least(greatest(
      floor((v - lit(x0)) / lit(step)).cast("int"), lit(0)), lit(n - 2))
    val arr = typedLit(ys)
    val yi = element_at(arr, idx + 1)
    val yi1 = element_at(arr, idx + 2)
    val frac = (v - (lit(x0) + idx.cast("double") * lit(step))) / lit(step)
    val clamped = least(greatest(frac, lit(0.0)), lit(1.0))
    // double-round (9 then 6): a single round-6 of the raw blend can
    // land one ulp apart across engines at a half boundary (the Decay
    // rule); the 9-digit pre-round absorbs it
    df.withColumn(out,
      when(v.isNull, lit(null))
        .otherwise(round(round(yi + (yi1 - yi) * clamped, 9), 6)))
  }

  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
      tieCol: String, out: String = "qnorm"): DataFrame = {
    Reserved.guard("quantileNormalize", df, "__rank", "__ref", out)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol), col(tieCol))
    val ranked = df.where(col(valueCol).isNotNull)
      .withColumn("__rank", row_number().over(w))
    val reference = ranked.groupBy(col("__rank"))
      .agg((sum(round(col(valueCol), 6).cast("decimal(38,6)"))
        .cast("double") / count(lit(1))).as("__ref"))
    ranked.join(reference, "__rank")
      .withColumn(out, round(col("__ref"), 6))
      .drop("__rank", "__ref")
  }
}
