package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** EDA / profiling surface (SURVEY.md §2.4: A1-A10, P9).
  *
  * The reference profiles with one Spark job per column (null counts,
  * distinct counts, correlation, quantiles — `/root/reference/src/main/
  * helper_methods.py:58-79,142-147`). O(columns) separate scans is the
  * documented anti-pattern (SURVEY.md §4.3); here each profile is a single
  * pass batching all columns into one aggregate job.
  */
object Profiling {

  /** A4 rewrite: all per-column distinct counts in ONE job. */
  def distinctCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => countDistinct(col(c)).as(c))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** P9 rewrite: all per-column null counts in ONE pass
    * (vs `where(isNull).count()` per column, `helper_methods.py:68`). */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(c))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Numeric-column discovery: integer-typed with >30 distinct values
    * (`helper_methods.py:58-62`). One distinct-count job total, not one per
    * column. */
  def numericColumns(df: DataFrame, threshold: Long = 30): Seq[String] = {
    val intCols = df.schema.fields.collect {
      case f if f.dataType == IntegerType => f.name
    }.toSeq
    if (intCols.isEmpty) Seq.empty
    else {
      val counts = distinctCounts(df, intCols).first()
      intCols.zipWithIndex.collect {
        case (c, i) if counts.getLong(i) > threshold => c
      }
    }
  }

  /** A5+A6+P9 in one profile: per numeric column — null count, Pearson corr
    * with `target`, and the 5/25/50/75/95 quantiles
    * (`helper_methods.py:65-79`). Quantiles use the Greenwald-Khanna sketch
    * via approxQuantile (relativeError configurable); corr/nulls batch into
    * a single aggregate pass.
    */
  def dataDistribution(df: DataFrame, cols: Seq[String], target: String = "ArrDelay",
      relativeError: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val probs = Array(0.05, 0.25, 0.5, 0.75, 0.95)
    // one job: all quantiles for all columns
    val quantiles = df.stat.approxQuantile(cols.toArray, probs, relativeError)
    // one job: all null counts + correlations
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        corr(col(c), col(target)).as(s"${c}__corr"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    cols.zipWithIndex.map { case (c, i) =>
      // SUM over zero rows is null, and approxQuantile returns an empty
      // array for an all-null column — guard both
      val nulls = row.getAs[Any](2 * i) match {
        case null => 0L
        case n: Long => n
      }
      val cr = row.getAs[Any](2 * i + 1) match {
        case null => Double.NaN
        case d: Double => d
      }
      def q(k: Int): Double =
        if (quantiles(i).length > k) quantiles(i)(k) else Double.NaN
      (c, nulls, cr, q(0), q(1), q(2), q(3), q(4))
    }.toDF("column", "nulls", "corr", "quantile_05", "quantile_25",
      "quantile_50", "quantile_75", "quantile_95")
  }

  /** Full pairwise Pearson correlation matrix in ONE aggregate pass —
    * the reference computes it via `toPandas().corr()` on a driver-side
    * sample (`helper_methods.py:82-90`, notebook cell 6); here all
    * C(n,2) `corr` aggregates batch into a single distributed job.
    * Long format (col_a, col_b, corr), upper triangle (col_a < col_b by
    * input order), so the result stays a DataFrame at any column count. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) => corr(col(a), col(b)) }
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    pairs.zipWithIndex.map { case ((a, b), k) =>
      (a, b, row.getAs[Any](k) match {
        case null => Double.NaN
        case d: Double => d
      })
    }.toDF("col_a", "col_b", "corr")
  }

  /** Full pairwise covariance matrix (diagonal = variances) from ONE
    * aggregate — the d-column generalization of [[correlationMatrix]],
    * and the input PCA/whitening needs: over 100 TB the covariance is
    * the one pass, the d×d eigen-solve is driver-trivial.
    *
    * Scale shape: a single global aggregate of d sums + d(d+1)/2
    * cross-product sums (partial aggregation map-side; the exchange
    * carries one buffer per partition); the unpivot to (col_a, col_b,
    * cov) rows explodes the 1-row result in-plan — no driver round-trip,
    * no per-pair pass. Rows with ANY null among `cols` drop first
    * (listwise-complete, the classical covariance-matrix contract — all
    * pairs share one n).
    *
    * Cross-engine reproducibility: sums and cross-products accumulate as
    * DECIMAL(38,6); each PRODUCT is rounded to the decimal scale in
    * DOUBLE before the cast (the Decay/BM25 rule — a raw double→DECIMAL
    * cast of a product can land one ulp apart across engines, which the
    * round at the target scale absorbs), the covariance
    * `(Sab − Sa·Sb/n)/(n−1)` is fixed-order double math, rounded to 6.
    * Sample (n−1) normalization. */
  def covarianceMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    val clean = df.where(cols.map(col(_).isNotNull).reduce(_ && _))
    val pairs = for { i <- cols.indices; j <- i until cols.size }
      yield (cols(i), cols(j))
    val aggs =
      Seq(count(lit(1)).cast("double").as("__n")) ++
      cols.map(c => sum(col(c).cast("decimal(38,6)"))
        .cast("double").as(s"__s_$c")) ++
      pairs.map { case (a, b) =>
        sum(round(col(a) * col(b), 6).cast("decimal(38,6)"))
          .cast("double").as(s"__p_${a}__$b") }
    val entries = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round((col(s"__p_${a}__$b") - col(s"__s_$a") * col(s"__s_$b") / col("__n"))
          / (col("__n") - 1), 6).as("cov"))
    }
    clean.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(entries: _*)).as("__e"))
      .select(col("__e.col_a"), col("__e.col_b"), col("__e.cov"))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** A1: per-group mean of the target (`helper_methods.py:159`). */
  def groupMean(df: DataFrame, groupCol: String, target: String = "ArrDelay"): DataFrame =
    df.groupBy(col(groupCol)).agg(avg(col(target)).as("MeanArrDelay"))

  /** P4: max/min ratio gate over the group means (`helper_methods.py:162`). */
  def meanSpreadRatio(groupMeans: DataFrame): Double =
    groupMeans.selectExpr("max(MeanArrDelay) / min(MeanArrDelay)")
      .first().getDouble(0)

  /** A8: confusion matrix / frequency crosstab
    * (`tools/generate_report_figures.py:43-44`). Distributed pivot, not a
    * driver-side pandas crosstab. */
  def crosstab(df: DataFrame, actual: String, predicted: String): DataFrame =
    df.groupBy(col(actual)).pivot(predicted).count().na.fill(0L)

  /** A8-norm: row-normalized crosstab — `pd.crosstab(..., normalize='index')`
    * (`tools/generate_report_figures.py:44`): each row's counts divided by
    * that row's total. Same single shuffle as [[crosstab]]; the division is
    * a projection over the pivoted result. */
  def crosstabNormalized(df: DataFrame, actual: String, predicted: String): DataFrame = {
    val ct = crosstab(df, actual, predicted)
    val valueCols = ct.columns.filterNot(_ == actual).toSeq
    val total = valueCols.map(c => col(c)).reduce(_ + _)
    ct.select(col(actual) +: valueCols.map(c => (col(c) / total).as(c)): _*)
  }

  /** Histogram data: counts over `bins` equal-width buckets of [lo, hi) —
    * the data side of the reference's residual histogram
    * (`tools/generate_report_figures.py:113`). width_bucket semantics with
    * out-of-range values clamped into the edge buckets; one shuffle on the
    * (tiny) bucket index. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, s"bad histogram range [$lo, $hi) / $bins")
    val w = (hi - lo) / bins
    val idx = least(greatest(floor((col(valueCol) - lit(lo)) / lit(w)), lit(0.0)),
      lit((bins - 1).toDouble)).cast("int")
    df.filter(col(valueCol).isNotNull)
      .groupBy(idx.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket_lo", round(lit(lo) + col("bucket") * lit(w), 6))
      .withColumn("bucket_hi", round(lit(lo) + (col("bucket") + 1) * lit(w), 6))
  }

  /** A11 as pure SQL aggregates: MAE / RMSE without an evaluator pass each
    * (`helper_methods.py:346-369` equivalents). */
  def regressionMetrics(df: DataFrame, label: String = "ArrDelay",
      prediction: String = "prediction"): DataFrame =
    df.agg(
      avg(abs(col(prediction) - col(label))).as("mae"),
      sqrt(avg(pow(col(prediction) - col(label), 2))).as("rmse"))

  /** Grouped top-k via the native bounded-heap aggregate
    * ([[graft.functions.TopKAgg]]) instead of the
    * `row_number() <= k` window: partial aggregation tops-k inside each
    * input partition, so the exchange carries at most k rows per group
    * per partition and no full-group sort exists anywhere — the window
    * formulation shuffles and sorts EVERY row of every group.
    *
    * Ordering is (`ord`, `tie`) descending; pass a unique `tie` (an id)
    * for fully deterministic output. Returns the group keys plus
    * `rank` (0-based) and `item` (the payload column). */
  def topKPerGroup(df: DataFrame, keyCols: Seq[String], ord: Column,
      tie: Column, payload: Column, k: Int): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.TopK.topK(ord, tie, payload, k).as("__topk"))
      .select(keyCols.map(col) :+
        posexplode(col("__topk")).as(Seq("rank", "item")): _*)

  /** Robust per-group outlier stats via median absolute deviation — the
    * outlier rule that survives the outliers themselves (a z-score
    * threshold moves with the contamination it is supposed to find; the
    * median and MAD have 50% breakdown).
    *
    * Scale shape: two grouped percentile aggregations with a
    * group-cardinality stats join after each (AQE broadcasts them) — the
    * FeatureScaling stats-join pattern; the base is scanned twice, which
    * is the floor for a statistic defined on deviations from another
    * statistic. The deviation pass streams: no window, no sort.
    *
    * Cross-engine reproducibility: the median rounds to 6 BEFORE the
    * deviation (`dev = |x − med₆|` is then pure IEEE on identical
    * doubles), the MAD rounds to 6 before the threshold, and the
    * `dev > cut·mad` comparison runs on identical doubles in both
    * engines, so even exact ties resolve identically.
    *
    * Returns one row per group: median, MAD, non-null count, outlier
    * count at `|x − med| > cut·MAD`, and the outlier rate (round 6). */
  def robustOutlierStats(df: DataFrame, groupCol: String, valueCol: String,
      cut: Double = 3.0): DataFrame = {
    require(cut > 0, s"cut must be positive, got $cut")
    val base = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .where(col("__v").isNotNull)
    val med = base.groupBy(col("__g"))
      .agg(round(expr("percentile(__v, 0.5)"), 6).as("med"))
    val devs = base.join(med, "__g")
      .withColumn("__dev", abs(col("__v") - col("med")))
    val mad = devs.groupBy(col("__g"))
      .agg(round(expr("percentile(__dev, 0.5)"), 6).as("mad"),
        count(col("__v")).as("n"))
    devs.join(mad, "__g")
      .groupBy(col("__g").as(groupCol))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        max(col("n")).as("n"),
        sum(when(col("__dev") > lit(cut) * col("mad"), 1).otherwise(0))
          .as("n_outliers"))
      .withColumn("outlier_rate", round(col("n_outliers") / col("n"), 6))
      .orderBy(col(groupCol))
  }

  /** Welch's unequal-variance two-sample t-test between the `valueCol`
    * populations of two groups — the A/B-test primitive (does treatment
    * shift the metric?) that never assumes equal variances.
    *
    * Scale shape: ONE global aggregate computes both groups' count and
    * DECIMAL power sums as conditional sums (the Expectations
    * single-Aggregate pattern — adding a group adds partial-agg buffer
    * columns, never a pass), and every downstream statistic is 1-row
    * driver-free arithmetic on its result.
    *
    * Cross-engine reproducibility: counts and decimal power sums are
    * exact; means/variances/t/df are a fixed IEEE expression over the
    * doubles those cast to (sqrt is correctly rounded), so the round-9
    * outputs are bit-identical in any engine. Variance is the sample
    * (n−1) form via `(s2 − s1²/n)/(n−1)`; Welch–Satterthwaite df. */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    def side(g: String, tag: String) = {
      val v = when(col(groupCol) === g, col(valueCol))
      Seq(count(v).cast("double").as(s"n_$tag"),
        sum((v * v).cast("decimal(38,6)")).cast("double").as(s"s2_$tag"),
        sum(v.cast("decimal(38,6)")).cast("double").as(s"s1_$tag"))
    }
    val agg = df.agg((side(groupA, "a") ++ side(groupB, "b")).head,
      (side(groupA, "a") ++ side(groupB, "b")).tail: _*)
    val (na, nb) = (col("n_a"), col("n_b"))
    val ma = col("s1_a") / na
    val mb = col("s1_b") / nb
    val va = (col("s2_a") - col("s1_a") * col("s1_a") / na) / (na - 1)
    val vb = (col("s2_b") - col("s1_b") * col("s1_b") / nb) / (nb - 1)
    val (sa, sb) = (va / na, vb / nb)
    val se2 = sa + sb
    agg.select(na.cast("bigint").as("n_a"), nb.cast("bigint").as("n_b"),
      round(ma, 9).as("mean_a"), round(mb, 9).as("mean_b"),
      round((ma - mb) / sqrt(se2), 9).as("t_stat"),
      round(se2 * se2 / (sa * sa / (na - 1) + sb * sb / (nb - 1)), 9).as("df"))
  }

  /** Per-group Gini coefficient — the concentration/inequality audit:
    * how skewed is a quantity's distribution within each group (token
    * mass across sources, spend across customers). 0 = perfectly even,
    * →1 = one row holds everything. Uses the rank formulation
    * `G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n`; ties order arbitrarily —
    * the sum is invariant under permuting equal values.
    *
    * Scale shape: one group-keyed window (rank within group — groups
    * sort independently across the cluster, no global sort) + one
    * grouped aggregate. Values must be non-negative (Gini is undefined
    * below zero — caller filters); nulls drop.
    *
    * Cross-engine: rank·value products round to 9 into DECIMAL sums,
    * the closed form is fixed-order IEEE, output rounds to 6. */
  def gini(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valCol))
    df.where(col(valCol).isNotNull)
      .withColumn("__i", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valCol).cast("decimal(38,6)")).cast("double").as("__sx"),
        sum(round(col("__i") * col(valCol), 9).cast("decimal(38,9)"))
          .cast("double").as("__six"))
      .select(col(groupCol), col("n"),
        round(lit(2.0) * col("__six") / (col("n") * col("__sx"))
          - (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
  }

  /** Two-proportion z-test (pooled) — the conversion-rate A/B primitive:
    * is variant A's success rate distinguishable from B's. Same shape as
    * [[welchTTest]]: ONE global aggregate of conditional counts, then
    * 1-row fixed-order IEEE arithmetic (sqrt correctly rounded), so the
    * round-9 outputs are bit-identical in any engine. `successCol` must
    * be boolean; null successes count as failures (documented CTR
    * convention — an unobserved outcome is a non-conversion), null
    * groups are ignored. */
  def proportionsZTest(df: DataFrame, groupCol: String, successCol: String,
      groupA: String, groupB: String): DataFrame = {
    def side(g: String, tag: String) = Seq(
      count(when(col(groupCol) === g, lit(1))).cast("double").as(s"n_$tag"),
      count(when(col(groupCol) === g && col(successCol), lit(1)))
        .cast("double").as(s"s_$tag"))
    val agg = df.agg((side(groupA, "a") ++ side(groupB, "b")).head,
      (side(groupA, "a") ++ side(groupB, "b")).tail: _*)
    val (na, nb) = (col("n_a"), col("n_b"))
    val pa = col("s_a") / na
    val pb = col("s_b") / nb
    val pool = (col("s_a") + col("s_b")) / (na + nb)
    agg.select(
      na.cast("bigint").as("n_a"), nb.cast("bigint").as("n_b"),
      round(pa, 9).as("rate_a"), round(pb, 9).as("rate_b"),
      round((pa - pb) /
        sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / na + lit(1.0) / nb)), 9)
        .as("z_stat"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, plus Cramér's V effect size — the "are these two labels
    * related at all" gate run before any crosstab is trusted.
    *
    * Scale shape: ONE grouped count over the data builds the contingency
    * table (partial aggregation collapses repeats map-side — the shuffle
    * carries ≤ r·c cells per partition, never rows); the margins are
    * aggregates OF THE CELLS (r + c + 1 rows), joined back via
    * AQE-broadcast equi-joins and a 1-row scalar attach — the same
    * stats-join pattern as [[robustOutlierStats]]. Nothing after the
    * first aggregate ever touches the input again.
    *
    * Cross-engine reproducibility: observed counts and margins are exact
    * integers; each cell's (o−e)²/e is a fixed IEEE expression over
    * exactly-representable doubles, rounded to 9 and accumulated as
    * DECIMAL (order-independent), so the statistic is bit-identical in
    * any engine. Returns one row: `chi2`, `dof`, `n`, `cramers_v`
    * (sqrt is correctly rounded, hence safe). Null labels are dropped. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowTot = cells.groupBy(col("__a"))
      .agg(sum(col("__o")).as("__ra"))
    val colTot = cells.groupBy(col("__b"))
      .agg(sum(col("__o")).as("__cb"))
    val nTot = cells.agg(sum(col("__o")).as("__n"))
    val e = (col("__ra") * col("__cb")).cast("double") / col("__n")
    val term = (col("__o") - e) * (col("__o") - e) / e
    cells
      .join(rowTot, "__a").join(colTot, "__b")
      .crossJoin(broadcast(nTot))
      .agg(
        sum(round(term, 9).cast("decimal(38,9)")).cast("double").as("__chi2"),
        countDistinct(col("__a")).as("__r"),
        countDistinct(col("__b")).as("__c"),
        max(col("__n")).as("__nn"))
      .select(
        round(col("__chi2"), 6).as("chi2"),
        ((col("__r") - 1) * (col("__c") - 1)).as("dof"),
        col("__nn").as("n"),
        round(sqrt(col("__chi2") /
          (col("__nn") * least(col("__r") - 1, col("__c") - 1))), 6)
          .as("cramers_v"))
  }

  /** One-way ANOVA F statistic — does a numeric measure differ across
    * the levels of a categorical factor (the k-group generalization of
    * [[welchTTest]]; completes the test family with [[chiSquare]] and
    * the proportions z).
    *
    * Computed entirely from per-group algebraic partials (n, Σv, Σv²):
    * SSB = Σ_g (Σv_g)²/n_g − (Σv)²/N, SSW = Σv² − Σ_g (Σv_g)²/n_g,
    * F = (SSB/(k−1)) / (SSW/(N−k)). Two aggregates total — one
    * group-keyed (k rows), one grand-total — both map-side combinable;
    * nothing else moves.
    *
    * Cross-engine: Σv/Σv² accumulate as DECIMAL (per-term round-6
    * products); each group's (Σv)²/n rounds to 9 into a DECIMAL sum;
    * the closed form is fixed-order IEEE; outputs round to 6. Nulls
    * drop; needs k ≥ 2 groups and N > k (else F is null). */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol)
    val perGroup = df.where(v.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"),
        sum(round(v, 6).cast("decimal(38,6)")).cast("double").as("__s1"),
        sum(round(v * v, 6).cast("decimal(38,6)")).cast("double").as("__s2"))
    val agg = perGroup.agg(
      count(lit(1)).as("__k"),
      sum(col("__n")).as("__nn"),
      sum(col("__s1").cast("decimal(38,6)")).cast("double").as("__t"),
      sum(col("__s2").cast("decimal(38,6)")).cast("double").as("__ss"),
      sum(round(col("__s1") * col("__s1") / col("__n"), 9)
        .cast("decimal(38,9)")).cast("double").as("__sg"))
    val ssb = col("__sg") - col("__t") * col("__t") / col("__nn")
    val ssw = col("__ss") - col("__sg")
    val f = (ssb / (col("__k") - lit(1))) / (ssw / (col("__nn") - col("__k")))
    agg.select(col("__k").as("k"), col("__nn").as("n"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      when(col("__k") > 1 && col("__nn") > col("__k") && ssw > 0,
        round(f, 6)).as("f_stat"))
  }

  /** Per-group simple linear regression (closed-form OLS) — slope,
    * intercept, and r² of `yCol` on `xCol` within each group, from the
    * five algebraic sums (n, Σx, Σy, Σxy, Σx², Σy²): the "regression
    * by segment" analytics primitive (elasticities, trends per region,
    * per-device calibration) without MLlib.
    *
    * ONE group-keyed aggregate — map-side combinable, nothing else
    * moves; the closed form is per-group scalar arithmetic.
    *
    * Cross-engine: per-term products ROUND(,6) into DECIMAL sums;
    * the closed form is fixed-order IEEE; outputs round to 6. Groups
    * with zero x-variance (or a single row) get null slope/intercept/r²
    * — never NaN. Rows with a null on either side drop (listwise).
    */
  def groupOls(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol); val y = col(yCol)
    def dsum(c: org.apache.spark.sql.Column, as: String) =
      sum(round(c, 6).cast("decimal(38,6)")).cast("double").as(as)
    val agg = df.where(x.isNotNull && y.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), dsum(x, "__sx"), dsum(y, "__sy"),
        dsum(x * y, "__sxy"), dsum(x * x, "__sxx"), dsum(y * y, "__syy"))
    val n = col("n")
    val covN = n * col("__sxy") - col("__sx") * col("__sy")   // n²·cov
    val varxN = n * col("__sxx") - col("__sx") * col("__sx")  // n²·var(x)
    val varyN = n * col("__syy") - col("__sy") * col("__sy")
    val slope = covN / varxN
    val ok = n > 1 && varxN > 0
    agg.select(col(groupCol), n,
      when(ok, round(slope, 6)).as("slope"),
      when(ok, round((col("__sy") - slope * col("__sx")) / n, 6))
        .as("intercept"),
      when(ok && varyN > 0, round(covN * covN / (varxN * varyN), 6))
        .as("r2"))
  }

  /** Per-group weighted median — the smallest value whose cumulative
    * weight reaches half the group's total (the survey-statistics /
    * cost-weighted robust center; with unit weights it degrades to the
    * lower median).
    *
    * Scale shape: one group-keyed window computes the running and total
    * weight in the same pass (groups sort independently — no global
    * sort), then a grouped min over the crossing rows. The crossing test
    * compares DECIMAL sums (`2·cumw ≥ W`) — exact, no division — and
    * the result is invariant to how ties order within equal values.
    * Null values/weights drop; negative weights are rejected upstream by
    * the domain (weights are counts/masses). */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val base = df.where(col(valueCol).isNotNull && col(weightCol).isNotNull)
    val runW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val totW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    base
      .withColumn("__cw",
        sum(round(col(weightCol), 6).cast("decimal(38,6)")).over(runW))
      .withColumn("__tw",
        sum(round(col(weightCol), 6).cast("decimal(38,6)")).over(totW))
      .where(col("__cw") * 2 >= col("__tw"))
      .groupBy(col(groupCol))
      // min over the crossing rows is tie-order invariant; a row COUNT
      // past the crossing would not be — don't emit one
      .agg(min(col(valueCol)).as("w_median"),
        max(col("__tw")).cast("double").as("w_total"))
  }

  /** Mutual information (in nats) between two categorical columns —
    * the feature-selection companion to [[chiSquare]]:
    * MI = Σ_{a,b} p(a,b) · ln( p(a,b) / (p(a)·p(b)) ).
    *
    * Same shape as chiSquare: one cell aggregate (|A|·|B| rows), two
    * marginal aggregates over the cells, a broadcast 1-row total. The
    * log runs on an exact COUNT ratio — ln(o·n / (ra·cb)) with all four
    * operands integers — so both engines evaluate ln at the identical
    * double argument; per-cell terms round to 9 into a DECIMAL sum.
    * Returns one row: `mi_nats`, `n_cells`, `n`. */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowTot = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val colTot = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val nTot = cells.agg(sum(col("__o")).as("__n"))
    // p(a,b)·ln(p(a,b)/(p(a)p(b))) = (o/n)·ln(o·n/(ra·cb))
    val term = (col("__o").cast("double") / col("__n")) *
      log((col("__o") * col("__n")).cast("double") /
        (col("__ra") * col("__cb")).cast("double"))
    cells
      .join(rowTot, "__a").join(colTot, "__b")
      .crossJoin(broadcast(nTot))
      .agg(
        round(sum(round(term, 9).cast("decimal(38,9)")).cast("double"), 6)
          .as("mi_nats"),
        count(lit(1)).cast("bigint").as("n_cells"),
        max(col("__n")).cast("bigint").as("n"))
  }

  /** Benford first-digit audit of a positive numeric column — observed
    * leading-digit distribution against Benford's law
    * (p_d = log10(1 + 1/d)), with the chi-square deviation statistic;
    * the classic fraud/synthetic-data screen.
    *
    * The leading digit is extracted INTEGER-side: the value scales by
    * 10^`scale` (e.g. 2 for cent-exact prices), rounds to a BIGINT, and
    * takes the first character of its decimal rendering — no
    * floating-point log10/pow on data values, so extraction is
    * bit-exact in any engine. The nine expected shares ship as
    * pre-rounded literals from [[benfordExpected]]. One scan, 9-row
    * output (`digit`, `n`, `p_obs`, `p_exp`) + 1-row `chi2` panel
    * folded in as digit 0. */
  def benfordDigits(df: DataFrame, valCol: String, scale: Int): DataFrame = {
    require(scale >= 0 && scale <= 6, s"need 0 <= scale <= 6, got $scale")
    val v = col(valCol)
    val asInt = round(v * lit(math.pow(10, scale)), 0).cast("bigint")
    val digit = substring(asInt.cast("string"), 1, 1).cast("int")
    val counts = df
      .where(v.isNotNull && v > 0)
      .groupBy(digit.as("digit"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("__t"))
    val expRows = benfordExpected.zipWithIndex.map { case (p, i) =>
      (i + 1, p)
    }
    val exp = df.sparkSession.createDataFrame(expRows)
      .toDF("digit", "p_exp")
    counts.join(broadcast(exp), Seq("digit"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n").cast("bigint").as("n"),
        round(col("n").cast("double") / col("__t"), 6).as("p_obs"),
        col("p_exp"),
        round((col("n").cast("double") - col("p_exp") * col("__t")) *
          (col("n").cast("double") - col("p_exp") * col("__t")) /
          (col("p_exp") * col("__t")), 6).as("chi2_term"))
  }

  /** log10(1 + 1/d) for d = 1..9, pre-rounded to 9 — the literals BOTH
    * engines consume (no cross-engine log10 surface). */
  /** Spearman rank correlation between two numeric columns — the
    * monotone-association complement to [[correlationMatrix]]'s Pearson
    * (robust to outliers and nonlinearity; the profiling question is
    * "do these move together at all", not "linearly").
    *
    * Ranks are the standard tie-averaged ("fractional") ranks, computed
    * DISTRIBUTEDLY: per-column distinct-value counts feed
    * [[GlobalOrder.withPrefixSum]] (range shuffle + a partition-sized
    * offset pass), so no single-partition rank window ever exists —
    * the piece that would serialize a 100 TB column through one task.
    * Rows with a null on either side drop first (pairwise-complete).
    *
    * Cross-engine reproducibility: everything up to the final formula
    * is INTEGER — the engine carries DOUBLED ranks (2·rank is always
    * integral even for .5-tie averages; Pearson is invariant under the
    * scaling), so the five sufficient statistics are exact BIGINT sums
    * with zero float surface. The closed form assembles in DOUBLE with
    * fixed parenthesization, `sqrt` is IEEE-exact, output rounds to 6.
    *
    * Output: one row (n, rho).
    */
  def spearman(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val clean = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
    // doubled tie-averaged rank of value v (1-based ranks):
    //   2·avgrank = 2·(#smaller) + (#equal) + 1
    // — #smaller is the exclusive weighted prefix sum over the
    // distinct-value table, #equal its count
    def doubledRanks(c: String, out: String): DataFrame = {
      val counts = clean.groupBy(col(c)).agg(count(lit(1)).as("__w"))
      GlobalOrder.withPrefixSum(counts, Seq(c), "__w", "__pre")
        .select(col(c),
          (lit(2) * col("__pre") + col("__w") + lit(1)).as(out))
    }
    clean
      .join(doubledRanks("__a", "__ra"), "__a")
      .join(doubledRanks("__b", "__rb"), "__b")
      .agg(count(lit(1)).as("n"),
        // DECIMAL(38,0) keeps the quadratic sums exact far past the
        // ~1.3M-row point where Σ(2n)²·n would overflow BIGINT
        sum(col("__ra").cast("decimal(38,0)")).as("__sx"),
        sum(col("__rb").cast("decimal(38,0)")).as("__sy"),
        sum(col("__ra").cast("decimal(19,0)") *
          col("__ra").cast("decimal(19,0)")).as("__sxx"),
        sum(col("__rb").cast("decimal(19,0)") *
          col("__rb").cast("decimal(19,0)")).as("__syy"),
        sum(col("__ra").cast("decimal(19,0)") *
          col("__rb").cast("decimal(19,0)")).as("__sxy"))
      .select(col("n"),
        round((col("n").cast("double") * col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sy").cast("double")) /
          sqrt((col("n").cast("double") * col("__sxx").cast("double") -
              col("__sx").cast("double") * col("__sx").cast("double")) *
            (col("n").cast("double") * col("__syy").cast("double") -
              col("__sy").cast("double") * col("__sy").cast("double"))), 6)
          .as("rho"))
  }

  /** Missingness-pattern table: row counts per null-mask combination
    * over `cols` — the missingno/mice diagnostic that distinguishes
    * "5% nulls scattered" from "5% of rows missing everything"
    * (correlated missingness means a broken upstream join, not noise).
    *
    * Scale shape: the mask is a map-side string of 0/1 flags; one hash
    * aggregate over at most 2^|cols| groups. Output: (pattern, n) with
    * pattern positions in `cols` order, '1' = present. */
  def missingPatterns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(cols.size <= 30, s"at most 30 columns, got ${cols.size}")
    val mask = concat(cols.map(c =>
      when(col(c).isNotNull, lit("1")).otherwise(lit("0"))): _*)
    df.groupBy(mask.as("pattern")).agg(count(lit(1)).as("n"))
  }

  /** Per-group mode: the most frequent value, ties broken by smallest
    * value — the categorical/discrete central tendency the mean and
    * median panels can't answer. One grouped count + one
    * (group)-keyed rank window over the distinct-value relation.
    * Output: (group, mode, n_mode). */
  def modeByGroup(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__n").desc, col(valueCol).asc)
    counts.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(groupCol), col(valueCol).as("mode"), col("__n").as("n_mode"))
  }

  /** Per-group Theil-Sen slope: the LOWER median of all pairwise
    * slopes — the robust regression complement to [[groupOls]] (a
    * single wild outlier moves OLS arbitrarily; it moves the median
    * slope not at all). Pairs with equal x drop (undefined slope).
    *
    * CONTRACT: the input MUST be PRE-SAMPLED to a bounded per-group
    * SIZE via [[Sampling.groupCappedSample]] (or an equivalent
    * size-cap) — pairwise volume is quadratic in group size by
    * definition of the estimator. A fixed FRACTION
    * ([[Sampling.hashSample]]) is NOT scale-safe: pairs grow n² while
    * the fraction holds (the battery measured 63 s at 10× the tuned
    * SF before the fraction was cut), whereas a size cap pays a
    * constant C(cap, 2) pair budget per group at any corpus size.
    * The join is group-keyed; the median is one group-keyed rank
    * window over the pair relation.
    *
    * Slopes round to 9 (identical double division both engines); the
    * lower median picks row (n+1) div 2 in (slope, id1, id2) order —
    * deterministic under ties. Output: (group, n_pairs, slope_med). */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, idCol: String): DataFrame = {
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).as("__id"),
        col(xCol).as("__x"), col(yCol).as("__y"))
    val pairs = base.alias("a").join(base.alias("b"),
        col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id") &&
          col("a.__x") =!= col("b.__x"))
      .select(col("a.__g").as("__g"), col("a.__id").as("__id1"),
        col("b.__id").as("__id2"),
        round((col("b.__y") - col("a.__y")) /
          (col("b.__x") - col("a.__x")).cast("double"), 9).as("__slope"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g"))
      .orderBy(col("__slope"), col("__id1"), col("__id2"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
    pairs
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      // `div`, not `/`: Spark's `/` on integers is DOUBLE division, and
      // rn == 2.5 would never hold for even pair counts
      .where(col("__rn") === expr("(__n + 1) div 2"))
      .select(col("__g").as(groupCol), col("__n").as("n_pairs"),
        col("__slope").as("slope_med"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) two-sample test: does one
    * group stochastically dominate the other — the nonparametric
    * complement to [[welchTTest]] (no normality assumption; robust to
    * outliers by construction). Normal approximation with the
    * standard tie-corrected variance, no continuity correction.
    *
    * Scale shape: the [[spearman]] regime — tie-averaged ranks come
    * from one distinct-value prefix-sum pass
    * ([[GlobalOrder.withPrefixSum]]), and the test reduces to ONE
    * aggregate over the distinct-value relation; no per-row rank join
    * is ever needed (the rank-sum only needs Σ count_A(v)·avgrank(v)).
    * DOUBLED ranks keep every statistic an exact integer (DECIMAL
    * sums); only the final closed form runs in fixed-order DOUBLE.
    *
    * Output: one row (n1, n2, u1, z) — u1 the U statistic of
    * `groupA`, z null when the variance degenerates (all values
    * tied). */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "need two distinct groups")
    val clean = df.where(col(valueCol).isNotNull &&
        col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__grp"), col(valueCol).as("__v"))
    val counts = clean.groupBy(col("__v"))
      .agg(sum(when(col("__grp") === groupA, 1L).otherwise(0L)).as("__ca"),
        count(lit(1)).as("__ct"))
    val pre = GlobalOrder.withPrefixSum(counts, Seq("__v"), "__ct", "__pre")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val agg = pre.agg(
      sum(col("__ca")).as("__n1"), sum(col("__ct")).as("__nt"),
      // doubled rank-sum of A: Σ ca · (2·prefix + ct + 1) — exact
      sum(col("__ca").cast("decimal(38,0)") *
        d19(lit(2) * col("__pre") + col("__ct") + lit(1))).as("__r1d"),
      // tie correction Σ (t³ − t) — exact
      sum(d19(col("__ct")) * d19(col("__ct")) * d19(col("__ct")) -
        d19(col("__ct"))).as("__tie"))
    val n1 = col("__n1").cast("double")
    val n2 = (col("__nt") - col("__n1")).cast("double")
    val nt = col("__nt").cast("double")
    val u12 = col("__r1d").cast("double") - n1 * (n1 + lit(1.0))
    val variance = n1 * n2 / lit(12.0) *
      ((nt + lit(1.0)) - col("__tie").cast("double") / (nt * (nt - lit(1.0))))
    agg.select(col("__n1").as("n1"),
      (col("__nt") - col("__n1")).as("n2"),
      (u12 / lit(2.0)).as("u1"),
      when(variance > 0,
        round((u12 - n1 * n2) / (lit(2.0) * sqrt(variance)), 6)).as("z"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic: the maximum gap between
    * the groups' empirical CDFs — the distribution-shape drift test
    * ([[graft.operators.Drift]]'s PSI needs binning; KS is bin-free).
    *
    * Scale shape: both CDFs ride the distinct-value prefix-sum pass
    * (two [[GlobalOrder.withPrefixSumAndTotal]] calls — totals come
    * free), then one max aggregate; no global sort window, no
    * per-row work. CDF gaps round to 9 before the max (identical
    * fixed-order doubles), the reported D to 6.
    *
    * Output: one row (n1, n2, ks_d). */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "need two distinct groups")
    val clean = df.where(col(valueCol).isNotNull &&
        col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__grp"), col(valueCol).as("__v"))
    val counts = clean.groupBy(col("__v"))
      .agg(sum(when(col("__grp") === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__grp") === groupB, 1L).otherwise(0L)).as("__cb"))
    val (preA, totA) = GlobalOrder.withPrefixSumAndTotal(
      counts, Seq("__v"), "__ca", "__pa")
    val (preB, totB) = GlobalOrder.withPrefixSumAndTotal(
      preA, Seq("__v"), "__cb", "__pb")
    require(totA > 0 && totB > 0,
      s"both groups need rows, got $totA / $totB")
    val gap = round(abs(
      (col("__pa") + col("__ca")).cast("double") / lit(totA.toDouble) -
        (col("__pb") + col("__cb")).cast("double") / lit(totB.toDouble)), 9)
    preB.agg(max(gap).as("__d"))
      .select(lit(totA).as("n1"), lit(totB).as("n2"),
        round(col("__d"), 6).as("ks_d"))
  }

  /** Sampling-based equi-join cardinality estimate — the
    * query-planning question ("how big is A ⋈ B on this key") answered
    * without running the join: sample KEYS by salted content hash
    * (both sides keep the same keys — the correlated-sampling
    * requirement; independent row samples would estimate fraction²
    * of the pairs), join the sampled per-key counts, and scale the
    * pair count by 1/fraction.
    *
    * Scale shape: two map-side-filtered grouped counts over the
    * sampled keys + one join of key-count relations — work scales
    * with `fraction`, never the full join. Pair products accumulate
    * as DECIMAL. Output: one row (est_pairs). */
  def joinCardinalityEstimate(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String, fraction: Double, salt: String = ""): DataFrame = {
    require(fraction > 0 && fraction <= 1,
      s"need 0 < fraction <= 1, got $fraction")
    val thr = Sampling.hexThreshold(fraction)
    def keep(c: Column) = md5(concat(
      coalesce(c.cast("string"), lit("\u0000null")), lit(salt))) < thr
    val ca = a.where(col(aKey).isNotNull && keep(col(aKey)))
      .groupBy(col(aKey).as("__k")).agg(count(lit(1)).as("__na"))
    val cb = b.where(col(bKey).isNotNull && keep(col(bKey)))
      .groupBy(col(bKey).as("__k")).agg(count(lit(1)).as("__nb"))
    ca.join(cb, "__k")
      .agg(sum(col("__na").cast("decimal(19,0)") *
        col("__nb").cast("decimal(19,0)")).as("__s"))
      .select(round(coalesce(col("__s").cast("double"), lit(0.0)) /
        lit(fraction), 6).as("est_pairs"))
  }

  /** Per-group TWO-regressor OLS — y = b0 + b1·x1 + b2·x2 via the
    * closed-form normal equations (Cramer's rule on the 3×3 Gram
    * matrix), the multiple-regression step up from [[groupOls]] with
    * the same shape: ONE aggregate of nine decimal-exact sufficient
    * sums, zero iteration, coefficients assembled in fixed-order
    * double and rounded to 6. Groups with a singular Gram determinant
    * (collinear regressors) yield null coefficients.
    *
    * Output: (group, n, b0, b1, b2). */
  def groupOls2(df: DataFrame, groupCol: String, x1Col: String,
      x2Col: String, yCol: String): DataFrame = {
    val x1 = col(x1Col); val x2 = col(x2Col); val y = col(yCol)
    def dsum(c: Column, as: String) =
      sum(round(c, 6).cast("decimal(38,6)")).cast("double").as(as)
    val agg = df.where(x1.isNotNull && x2.isNotNull && y.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        dsum(x1, "__s1"), dsum(x2, "__s2"), dsum(y, "__sy"),
        dsum(x1 * x1, "__s11"), dsum(x1 * x2, "__s12"),
        dsum(x2 * x2, "__s22"),
        dsum(x1 * y, "__s1y"), dsum(x2 * y, "__s2y"))
    val n = col("n").cast("double")
    val (s1, s2, sy) = (col("__s1"), col("__s2"), col("__sy"))
    val (s11, s12, s22) = (col("__s11"), col("__s12"), col("__s22"))
    val (s1y, s2y) = (col("__s1y"), col("__s2y"))
    // det of [[n s1 s2][s1 s11 s12][s2 s12 s22]], cofactor expansion
    // along the first row — the EXACT term order the oracle mirrors
    val det = n * (s11 * s22 - s12 * s12) -
      s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) -
      s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) -
      sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) -
      s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)
    val ok = col("n") > 2 && abs(det) > lit(1e-9)
    agg.select(col(groupCol), col("n"),
      when(ok, round(det0 / det, 6)).as("b0"),
      when(ok, round(det1 / det, 6)).as("b1"),
      when(ok, round(det2 / det, 6)).as("b2"))
  }

  /** Shannon entropy of a categorical column per group — the
    * behavioral-diversity profile (a user who only ever clicks scores
    * 0; a uniform mix scores ln k). Uses the aggregation-friendly
    * identity H = ln n − (Σ c·ln c)/n so the only shuffled state is
    * the (group, category) count relation; ln runs on exact integer
    * counts (parity-safe), per-term products round to 9 into a
    * DECIMAL sum, the final form is fixed-order double rounded to 6.
    *
    * Output: (group, n, n_cats, entropy). */
  def categoricalEntropy(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = {
    val counts = df.where(col(catCol).isNotNull)
      .groupBy(col(groupCol), col(catCol))
      .agg(count(lit(1)).as("__c"))
    val agg = counts.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("n_cats"),
        sum(round(col("__c") * log(col("__c").cast("double")), 9)
          .cast("decimal(38,9)")).cast("double").as("__s"))
    agg.select(col(groupCol), col("n"), col("n_cats"),
      round(log(col("n").cast("double")) -
        col("__s") / col("n").cast("double"), 6).as("entropy"))
  }

  def benfordExpected: Seq[Double] =
    (1 to 9).map(d => BigDecimal(math.log10(1.0 + 1.0 / d))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** ROC AUC of a score against a boolean label via the tie-averaged
    * rank-sum identity AUC = (R₁ − n₁(n₁+1)/2) / (n₁n₀) — the
    * probability a random positive outscores a random negative, the
    * threshold-free companion to [[Profiling.mannWhitneyU]] (AUC is
    * U/(n₁n₀); both ride the same machinery).
    *
    * Scale shape: one distinct-score count aggregate + the
    * [[GlobalOrder.withPrefixSum]] pass + a 1-row reduce — no per-row
    * rank join, no single-partition window. DOUBLED ranks keep the
    * rank-sum an exact DECIMAL integer; only the closed form divides
    * in fixed-order DOUBLE (round 6). Gini = 2·AUC − 1 derives from
    * the unrounded AUC.
    *
    * Output: one row (n_pos, n_neg, auc, gini). */
  def rocAuc(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val clean = df.where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).cast("boolean").as("__y"),
        col(scoreCol).as("__v"))
    val counts = clean.groupBy(col("__v"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__ca"),
        count(lit(1)).as("__ct"))
    val pre = GlobalOrder.withPrefixSum(counts, Seq("__v"), "__ct", "__pre")
    val agg = pre.agg(
      sum(col("__ca")).as("__n1"), sum(col("__ct")).as("__nt"),
      // doubled rank-sum of positives: Σ ca · (2·prefix + ct + 1) — exact
      sum(col("__ca").cast("decimal(38,0)") *
        (lit(2) * col("__pre") + col("__ct") + lit(1))
          .cast("decimal(19,0)")).as("__r1d"))
    val n1 = col("__n1").cast("double")
    val n0 = (col("__nt") - col("__n1")).cast("double")
    val auc = (col("__r1d").cast("double") - n1 * (n1 + lit(1.0))) /
      (lit(2.0) * n1 * n0)
    // single-class input: AUC undefined — null, not a NaN/÷0 artifact
    val defined = col("__n1") > 0 && col("__n1") < col("__nt")
    agg.select(col("__n1").cast("bigint").as("n_pos"),
      (col("__nt") - col("__n1")).cast("bigint").as("n_neg"),
      when(defined, round(auc, 6)).as("auc"),
      when(defined, round(lit(2.0) * auc - lit(1.0), 6)).as("gini"))
  }

  /** Murphy decomposition of the Brier score over a discrete forecast
    * column: brier = reliability − resolution + uncertainty (each
    * reported independently — the identity holds analytically; the
    * reported terms are the standard binned estimates). The
    * calibration-quality profile of a probabilistic scorer: low
    * reliability = well calibrated, high resolution = discriminative.
    *
    * Scale shape: one (prob)-keyed count/sum aggregate (bins =
    * distinct forecast values, config-sized for any quantized scorer)
    * + a broadcast 1-row total + a bin-sized reduce. Per-row and
    * per-bin squared terms round to 9 into DECIMAL sums (the
    * cross-engine order-independence rule); bin/base rates divide
    * exact integer sums in DOUBLE; outputs round to 6.
    *
    * Output: one row (n, n_bins, brier, uncertainty, reliability,
    * resolution). */
  def brierDecomposition(df: DataFrame, probCol: String,
      labelCol: String): DataFrame = {
    val clean = df.where(col(probCol).isNotNull && col(labelCol).isNotNull)
      .select(col(probCol).cast("double").as("__p"),
        col(labelCol).cast("boolean").cast("int").as("__y"))
    val sq = (c: Column) => c * c
    val bins = clean.groupBy(col("__p"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__s"),
        sum(round(sq(col("__p") - col("__y").cast("double")), 9)
          .cast("decimal(38,9)")).as("__b"))
    val tot = bins.agg(sum(col("__n")).as("__tn"), sum(col("__s")).as("__ts"),
      sum(col("__b")).as("__tb"))
    val ybar = col("__ts").cast("double") / col("__tn").cast("double")
    val ybin = col("__s").cast("double") / col("__n").cast("double")
    bins.crossJoin(broadcast(tot))
      .agg(first(col("__tn")).as("__nt"), count(lit(1)).as("__k"),
        first(col("__tb")).as("__bt"), first(ybar).as("__ybar"),
        sum(round(col("__n").cast("double") * sq(col("__p") - ybin), 9)
          .cast("decimal(38,9)")).as("__rel"),
        sum(round(col("__n").cast("double") * sq(ybin - ybar), 9)
          .cast("decimal(38,9)")).as("__res"))
      .select(col("__nt").cast("bigint").as("n"),
        col("__k").cast("bigint").as("n_bins"),
        round(col("__bt").cast("double") / col("__nt").cast("double"), 6)
          .as("brier"),
        round(col("__ybar") * (lit(1.0) - col("__ybar")), 6)
          .as("uncertainty"),
        round(col("__rel").cast("double") / col("__nt").cast("double"), 6)
          .as("reliability"),
        round(col("__res").cast("double") / col("__nt").cast("double"), 6)
          .as("resolution"))
  }

  /** Split-conformal coverage check: learn a per-group mean predictor
    * on a calibration split, take the ⌈(n+1)(1−α)⌉-th smallest
    * absolute calibration residual as the conformal radius q̂, and
    * report the achieved coverage |y − ŷ| ≤ q̂ on the disjoint test
    * split — the distribution-free prediction-interval contract
    * (coverage ≥ 1−α in expectation for exchangeable data).
    *
    * Scale shape: the group-mean model is a group-keyed aggregate
    * joined back broadcast (config-sized group panel); the exact
    * order statistic rides the distinct-residual prefix-sum pass
    * ([[GlobalOrder.withPrefixSum]] — no global sort, no
    * single-partition window); coverage is one 1-row reduce.
    * Residuals are fixed-order DOUBLE arithmetic on exact
    * decimal-sum means (cross-engine bit-identical); the q̂
    * selection and the coverage comparison are pure comparisons.
    *
    * Output: one row (n_cal, n_test, k_rank, qhat, coverage). */
  def conformalCoverage(df: DataFrame, splitCol: String, groupCol: String,
      valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val base = df.where(col(valueCol).isNotNull && col(splitCol).isNotNull)
      .select(col(splitCol).cast("boolean").as("__cal"),
        col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
    // group-mean model fit on the calibration split only
    val model = base.where(col("__cal"))
      .groupBy(col("__g"))
      .agg((sum(col("__v").cast("decimal(38,9)")).cast("double") /
        count(lit(1))).as("__pred"))
    val scored = base.join(broadcast(model), Seq("__g"))
      .select(col("__cal"), abs(col("__v") - col("__pred")).as("__r"))
    val calCounts = scored.where(col("__cal"))
      .groupBy(col("__r")).agg(count(lit(1)).as("__ct"))
    val (pre, nCal) = GlobalOrder.withPrefixSumAndTotal(
      calCounts, Seq("__r"), "__ct", "__pre")
    require(nCal > 0, "empty calibration split")
    // k-th smallest calibration residual, k = ceil((n+1)(1-alpha))
    val k = math.min(nCal,
      math.ceil((nCal + 1) * (1.0 - alpha)).toLong)
    val qhat = pre.where(col("__pre") + col("__ct") >= k)
      .agg(min(col("__r")).as("q")).select(col("q"))
    val cov = scored.where(!col("__cal")).crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("__ntest"),
        sum(when(col("__r") <= col("q"), 1L).otherwise(0L)).as("__cvd"),
        first(col("q")).as("__q"))
    cov.select(lit(nCal).as("n_cal"),
      col("__ntest").cast("bigint").as("n_test"),
      lit(k).as("k_rank"),
      round(col("__q"), 6).as("qhat"),
      round(col("__cvd").cast("double") /
        col("__ntest").cast("double"), 6).as("coverage"))
  }
}
