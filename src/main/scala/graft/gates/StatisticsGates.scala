package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Statistical tests, estimators and experiment analyses built on
  * aggregates (SURVEY §2.4), plus survival, cohort and LTV curves. */
private[graft] object StatisticsGates {
  val gates: Seq[Gate] = Seq(
    // A6-matrix: full pairwise Pearson correlation matrix in one aggregate
    // pass (helper_methods.py:82-90 does it via toPandas().corr() on a
    // sample; here it is distributed), rounded for cross-engine moments
    Gate("q_a6_corr_matrix", (s, dir) =>
      graft.operators.Profiling.correlationMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("col_a"), col("col_b"), round(col("corr"), 6).as("corr"))
        .orderBy(col("col_a"), col("col_b")),
      Sql(() => """WITH m AS (
        |  SELECT corr(l_quantity, l_extendedprice) AS c_qp,
        |         corr(l_quantity, l_discount)      AS c_qd,
        |         corr(l_quantity, l_tax)           AS c_qt,
        |         corr(l_extendedprice, l_discount) AS c_pd,
        |         corr(l_extendedprice, l_tax)      AS c_pt,
        |         corr(l_discount, l_tax)           AS c_dt
        |  FROM lineitem)
        |SELECT col_a, col_b, ROUND(c, 6) AS corr FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, c_qp AS c FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_discount', c_qd FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_tax', c_qt FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', c_pd FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', c_pt FROM m
        |  UNION ALL SELECT 'l_discount', 'l_tax', c_dt FROM m)
        |ORDER BY col_a, col_b""".stripMargin)),

    // A8-norm: row-normalized crosstab — the reference's
    // pd.crosstab(..., normalize='index') (generate_report_figures.py:44)
    Gate("q_a8_crosstab_norm", (s, dir) =>
      graft.operators.Profiling.crosstabNormalized(
          t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
        .select(col("l_returnflag"),
          round(col("F"), 6).as("F"), round(col("O"), 6).as("O"))
        .orderBy(col("l_returnflag")),
      Sql(() => """SELECT l_returnflag,
        |       ROUND(CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) / COUNT(*), 6) AS F,
        |       ROUND(CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) / COUNT(*), 6) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A-histogram: equal-width bucketed counts (width_bucket semantics) —
    // the data side of the residual histogram (generate_report_figures.py:113)
    Gate("q_a_histogram", (s, dir) =>
      graft.operators.Profiling.histogram(t(s, dir, "lineitem"),
        "l_extendedprice", lo = 0.0, hi = 110000.0, bins = 11)
        .orderBy(col("bucket")),
      Sql(() => """SELECT CAST(LEAST(GREATEST(FLOOR((l_extendedprice - 0.0) / 10000.0), 0), 10) AS INTEGER) AS bucket,
        |       COUNT(*) AS n,
        |       ROUND(0.0 + CAST(LEAST(GREATEST(FLOOR((l_extendedprice - 0.0) / 10000.0), 0), 10) AS INTEGER) * 10000.0, 6) AS bucket_lo,
        |       ROUND(0.0 + (CAST(LEAST(GREATEST(FLOOR((l_extendedprice - 0.0) / 10000.0), 0), 10) AS INTEGER) + 1) * 10000.0, 6) AS bucket_hi
        |FROM lineitem WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A-topk: grouped top-k via the native bounded-heap TopKAgg aggregate
    // (partial top-k per partition, k rows/group/partition shuffled, no
    // full-group sort) — vs the window row_number()<=k formulation the
    // oracle uses, which is semantically identical but shuffles every row
    Gate("q_a_topk_group", (s, dir) => {
      val o = t(s, dir, "orders")
      graft.operators.Profiling.topKPerGroup(o, Seq("o_orderpriority"),
          col("o_totalprice"), col("o_orderkey"),
          struct(col("o_orderkey").as("okey"), col("o_totalprice").as("price")),
          k = 3)
        .select(col("o_orderpriority"), col("rank"),
          col("item.okey").as("okey"), col("item.price").as("price"))
        .orderBy(col("o_orderpriority"), col("rank"))
    },
      // grouped top-k: the oracle uses the window formulation the aggregate
      // replaces — same rows by construction (unique (price, okey) ordering)
      Sql(() => """SELECT o_orderpriority, CAST(rn - 1 AS INT) AS rank,
        |  o_orderkey AS okey, o_totalprice AS price
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rank""".stripMargin)),

    // X-cohort: cohort retention matrix — entities bucketed by first
    // activity day, distinct-active counts per (cohort, day offset), in
    // ONE entity-keyed shuffle (collect_set dedups map-side; the explode
    // emits already-distinct rows, so the rollup is a plain count — no
    // countDistinct Expand, no join back). Sparse event slice so entry
    // days spread and retention actually decays.
    Gate("q_x_cohort", (s, dir) =>
      graft.operators.Cohort.retention(
        t(s, dir, "events").where(col("event_id") % 11 === 0),
        "user_id", expr("ts DIV 86400000000000")),
      // cohort retention: identical distinct-(entity, day) matrix; rate
      // divides by the cohort's own offset-0 count
      Sql(() => """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS p
        |  FROM events
        |  WHERE event_id % 11 = 0
        |    AND user_id IS NOT NULL AND ts IS NOT NULL),
        |pu AS (SELECT user_id, MIN(p) AS cohort FROM ev GROUP BY user_id),
        |du AS (SELECT DISTINCT e.user_id, cohort, p
        |       FROM ev e JOIN pu USING (user_id)),
        |m AS (SELECT cohort, p - cohort AS "offset",
        |             CAST(COUNT(*) AS BIGINT) AS users
        |      FROM du GROUP BY 1, 2)
        |SELECT cohort, "offset", users,
        |  ROUND(users / MAX(CASE WHEN "offset" = 0 THEN users END)
        |    OVER (PARTITION BY cohort), 6) AS rate
        |FROM m ORDER BY cohort, "offset"""".stripMargin)),

    // A-mad: robust per-group outlier stats — median + MAD (50%
    // breakdown: the threshold does not move with the contamination it
    // flags), two percentile passes with AQE-broadcast stats joins; the
    // median/MAD round to 6 BEFORE entering arithmetic so the deviation
    // and threshold comparison run on identical doubles in both engines.
    Gate("q_a_mad", (s, dir) =>
      graft.operators.Profiling.robustOutlierStats(
        t(s, dir, "events"), "event_type", "value", cut = 3.0),
      // MAD outliers: same round-6 median/MAD staging, same strict >
      Sql(() => """WITH b AS (
        |  SELECT event_type AS g, value AS v FROM events
        |  WHERE value IS NOT NULL),
        |md AS (SELECT g, ROUND(quantile_cont(v, 0.5), 6) AS med
        |       FROM b GROUP BY g),
        |d AS (SELECT b.g, ABS(v - med) AS dev, med
        |      FROM b JOIN md USING (g)),
        |m2 AS (SELECT g, ROUND(quantile_cont(dev, 0.5), 6) AS mad,
        |              CAST(COUNT(*) AS BIGINT) AS n
        |       FROM d GROUP BY g)
        |SELECT d.g AS event_type, MAX(d.med) AS med, MAX(mad) AS mad,
        |  MAX(n) AS n,
        |  CAST(SUM(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  ROUND(CAST(SUM(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END)
        |    AS BIGINT) / MAX(n), 6) AS outlier_rate
        |FROM d JOIN m2 USING (g) GROUP BY d.g ORDER BY event_type""".stripMargin)),

    // A-ttest: Welch two-sample t-test (A/B primitive) — ONE global
    // aggregate of conditional counts + decimal power sums, then 1-row
    // IEEE arithmetic (sqrt correctly rounded ⇒ round-9 outputs
    // bit-identical cross-engine).
    Gate("q_a_ttest", (s, dir) =>
      graft.operators.Profiling.welchTTest(
        t(s, dir, "events"), "event_type", "value", "click", "view"),
      // Welch t-test: identical conditional decimal power sums, identical
      // IEEE expression order downstream
      Sql(() => """WITH s AS (
        |  SELECT
        |    CAST(COUNT(CASE WHEN event_type = 'click' THEN value END) AS DOUBLE) AS na,
        |    CAST(SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value * value AS DECIMAL(38,6)) END) AS DOUBLE) AS s2a,
        |    CAST(SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS s1a,
        |    CAST(COUNT(CASE WHEN event_type = 'view' THEN value END) AS DOUBLE) AS nb,
        |    CAST(SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(value * value AS DECIMAL(38,6)) END) AS DOUBLE) AS s2b,
        |    CAST(SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS s1b
        |  FROM events)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  ROUND(s1a / na, 9) AS mean_a, ROUND(s1b / nb, 9) AS mean_b,
        |  ROUND((s1a / na - s1b / nb) /
        |    SQRT((s2a - s1a * s1a / na) / (na - 1) / na +
        |         (s2b - s1b * s1b / nb) / (nb - 1) / nb), 9) AS t_stat,
        |  ROUND(((s2a - s1a * s1a / na) / (na - 1) / na +
        |         (s2b - s1b * s1b / nb) / (nb - 1) / nb) *
        |        ((s2a - s1a * s1a / na) / (na - 1) / na +
        |         (s2b - s1b * s1b / nb) / (nb - 1) / nb) /
        |    (((s2a - s1a * s1a / na) / (na - 1) / na) *
        |     ((s2a - s1a * s1a / na) / (na - 1) / na) / (na - 1) +
        |     ((s2b - s1b * s1b / nb) / (nb - 1) / nb) *
        |     ((s2b - s1b * s1b / nb) / (nb - 1) / nb) / (nb - 1)), 9) AS df
        |FROM s""".stripMargin)),

    // A-chisq: chi-square independence test + Cramér's V — contingency
    // counts in one grouped aggregate (≤ r·c cells per partition reach
    // the shuffle), margins as aggregates OF THE CELLS joined back
    // broadcast, per-cell terms round-9 and accumulate as DECIMAL
    // (order-independent ⇒ bit-identical cross-engine).
    Gate("q_a_chisq", (s, dir) =>
      graft.operators.Profiling.chiSquare(
        t(s, dir, "lineitem"), "l_returnflag", "l_linestatus"),
      // chi-square: same contingency/margins construction; per-cell terms
      // round-9 then DECIMAL-sum (order-independent)
      Sql(() => """WITH cells AS (
        |  SELECT l_returnflag AS a, l_linestatus AS b, COUNT(*) AS o
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        |  GROUP BY 1, 2),
        |ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
        |cb AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
        |nt AS (SELECT SUM(o) AS n FROM cells),
        |terms AS (
        |  SELECT ROUND(
        |      (o - CAST(ra * cb AS DOUBLE) / n) *
        |      (o - CAST(ra * cb AS DOUBLE) / n) /
        |      (CAST(ra * cb AS DOUBLE) / n), 9) AS term,
        |    a, b, n
        |  FROM cells JOIN ra USING (a) JOIN cb USING (b), nt),
        |agg AS (
        |  SELECT CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) AS chi2,
        |    COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c,
        |    MAX(n) AS nn
        |  FROM terms)
        |SELECT ROUND(chi2, 6) AS chi2,
        |  CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
        |  CAST(nn AS BIGINT) AS n,
        |  ROUND(SQRT(chi2 / (nn * LEAST(r - 1, c - 1))), 6) AS cramers_v
        |FROM agg""".stripMargin)),

    // A-gini: per-group concentration audit — rank-formulation Gini in
    // one group-keyed window (groups sort independently, no global
    // sort) + one grouped aggregate; rank·value products round-9 into
    // DECIMAL sums, closed form fixed-order IEEE, round-6 output.
    Gate("q_a_gini", (s, dir) =>
      graft.operators.Profiling.gini(
          t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
        .orderBy(col("l_returnflag")),
      // Gini: same rank formulation; ties order arbitrarily (the i·x sum
      // is permutation-invariant over equal values)
      Sql(() => """WITH r AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS x,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS i
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(2.0 * CAST(SUM(CAST(ROUND(i * x, 9) AS DECIMAL(38,9)))
        |      AS DOUBLE) / (COUNT(*) * CAST(SUM(CAST(x AS DECIMAL(38,6)))
        |      AS DOUBLE))
        |    - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
        |FROM r GROUP BY g ORDER BY g""".stripMargin)),

    // A-covmatrix: full pairwise covariance matrix (diag = variances)
    // from ONE aggregate of decimal power sums — the PCA/whitening
    // input: one pass over 100 TB, a driver-trivial d×d eigen-solve
    // after; in-plan unpivot, no driver round-trip.
    Gate("q_a_covmatrix", (s, dir) =>
      graft.operators.Profiling.covarianceMatrix(
        tw(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      // covariance matrix: identical decimal power-sum construction,
      // unpivoted as a UNION of the pair cells
      Sql(() => {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val sums = cs.map(c =>
        s"CAST(SUM(CAST($c AS DECIMAL(38,6))) AS DOUBLE) AS s_$c").mkString(", ")
      val prods = (for { i <- cs.indices; j <- i until cs.size } yield
        s"CAST(SUM(CAST(ROUND(${cs(i)} * ${cs(j)}, 6) AS DECIMAL(38,6))) AS DOUBLE) AS p_${i}_$j")
        .mkString(", ")
      val cells = (for { i <- cs.indices; j <- i until cs.size } yield
        s"SELECT '${cs(i)}' AS col_a, '${cs(j)}' AS col_b, " +
          s"ROUND((p_${i}_$j - s_${cs(i)} * s_${cs(j)} / n) / (n - 1), 6) AS cov FROM agg")
        .mkString("\nUNION ALL\n")
      s"""WITH clean AS (
         |  SELECT * FROM lineitem
         |  WHERE ${cs.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, $sums, $prods FROM clean)
         |$cells
         |ORDER BY col_a, col_b""".stripMargin
    })),

    // X-survival: Kaplan-Meier product-limit churn curves per event
    // type — hazards chain over the tiny per-group lifetime table
    // (group-keyed window, never the event log); ln rounds to 6 and
    // accumulates as DECIMAL, exp rounds to 6 (libm-parity rules).
    Gate("q_x_survival", (s, dir) =>
      graft.operators.Survival.curve(
        t(s, dir, "events"), "event_type", "user_id",
        expr("ts DIV 86400000000000")),
      // survival: same lifetime/hazard construction; the zero factor at
      // each group's last lifetime is NULLed out of the ln sum and the
      // row overridden to 0 (DuckDB ln(0) is -inf; Spark nulls it)
      Sql(() => """WITH ev AS (
        |  SELECT event_type AS g, user_id AS e,
        |    epoch_ns(ts) // 86400000000000 AS p
        |  FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |lt AS (SELECT g, e, MAX(p) - MIN(p) AS t FROM ev GROUP BY g, e),
        |byt AS (SELECT g, t, CAST(COUNT(*) AS BIGINT) AS churned
        |        FROM lt GROUP BY g, t),
        |w AS (
        |  SELECT g, t, churned,
        |    SUM(churned) OVER (PARTITION BY g)
        |      - SUM(churned) OVER (PARTITION BY g ORDER BY t
        |          ROWS UNBOUNDED PRECEDING) + churned AS n_risk
        |  FROM byt),
        |terms AS (
        |  SELECT g, t, churned, n_risk,
        |    CASE WHEN churned = n_risk THEN NULL
        |      ELSE CAST(ROUND(LN(1.0 - CAST(churned AS DOUBLE) / n_risk), 6)
        |           AS DECIMAL(38,6)) END AS lnf
        |  FROM w)
        |SELECT g, t, CAST(n_risk AS BIGINT) AS n_risk, churned,
        |  CASE WHEN churned = n_risk THEN 0.0
        |    ELSE ROUND(EXP(CAST(SUM(lnf) OVER (PARTITION BY g ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) END AS survival
        |FROM terms
        |ORDER BY g, t""".stripMargin)),

    // A-ztest: two-proportion z-test (conversion A/B) — one global
    // aggregate of conditional counts, 1-row IEEE math, round-9
    // bit-identical cross-engine. "Success" = value above a threshold.
    Gate("q_a_ztest", (s, dir) =>
      graft.operators.Profiling.proportionsZTest(
        t(s, dir, "events").withColumn("hit", col("value") > 100),
        "event_type", "hit", "click", "view"),
      // two-proportion z-test: identical pooled-variance construction;
      // null values compare FALSE in `value > 100` in both engines
      Sql(() => """WITH agg AS (
        |  SELECT
        |    CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE) AS n_a,
        |    CAST(COUNT(CASE WHEN event_type = 'click' AND value > 100 THEN 1 END) AS DOUBLE) AS s_a,
        |    CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE) AS n_b,
        |    CAST(COUNT(CASE WHEN event_type = 'view' AND value > 100 THEN 1 END) AS DOUBLE) AS s_b
        |  FROM events)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  ROUND(s_a / n_a, 9) AS rate_a,
        |  ROUND(s_b / n_b, 9) AS rate_b,
        |  ROUND((s_a / n_a - s_b / n_b) / SQRT(
        |    ((s_a + s_b) / (n_a + n_b)) * (1.0 - (s_a + s_b) / (n_a + n_b)) *
        |    (1.0 / n_a + 1.0 / n_b)), 9) AS z_stat
        |FROM agg""".stripMargin)),

    // A-anova: one-way ANOVA F across event types — two aggregates
    // total (k-row group partials, then the grand total), the k-group
    // generalization of the Welch t gate
    Gate("q_a_anova", (s, dir) =>
      graft.operators.Profiling.anovaF(
        t(s, dir, "events"), "event_type", "value"),
      // ANOVA: identical algebraic partials (round-6 products into DECIMAL
      // sums, round-9 per-group (Σv)²/n), fixed-order closed form
      Sql(() => """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(CAST(s1 AS DECIMAL(38,6))) AS DOUBLE) AS t,
        |    CAST(SUM(CAST(s2 AS DECIMAL(38,6))) AS DOUBLE) AS ss,
        |    CAST(SUM(CAST(ROUND(s1 * s1 / n, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sg
        |  FROM g)
        |SELECT k, nn AS n,
        |  ROUND(sg - t * t / nn, 6) AS ss_between,
        |  ROUND(ss - sg, 6) AS ss_within,
        |  CASE WHEN k > 1 AND nn > k AND ss - sg > 0
        |       THEN ROUND(((sg - t * t / nn) / (k - 1))
        |                  / ((ss - sg) / (nn - k)), 6) END AS f_stat
        |FROM a""".stripMargin)),

    // A-wmedian: per-flag quantity-weighted price median — running +
    // total DECIMAL weight in one group-keyed window, exact crossing
    // test (2·cumw ≥ W, no division), tie-order-invariant min
    Gate("q_a_wmedian", (s, dir) =>
      graft.operators.Profiling.weightedMedian(
          t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
          "l_quantity")
        .orderBy(col("l_returnflag")),
      // weighted median: identical running/total DECIMAL weights and
      // exact doubling crossing test
      Sql(() => """WITH b AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(38,6))) OVER (
        |      PARTITION BY l_returnflag ORDER BY l_extendedprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(38,6))) OVER (
        |      PARTITION BY l_returnflag) AS tw
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
        |SELECT l_returnflag, min(l_extendedprice) AS w_median,
        |       CAST(max(tw) AS DOUBLE) AS w_total
        |FROM b WHERE cw * 2 >= tw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A-ols: per-flag price-on-quantity regression — closed-form OLS
    // from five decimal sums in ONE group aggregate
    Gate("q_a_ols", (s, dir) =>
      graft.operators.Profiling.groupOls(
          tw(s, dir, "lineitem"), "l_returnflag", "l_quantity",
          "l_extendedprice")
        .orderBy(col("l_returnflag")),
      // group OLS: identical five decimal sums and fixed-order closed form
      Sql(() => """WITH g AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(l_quantity * l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(ROUND(l_quantity * l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0
        |       THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0
        |       THEN ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) END AS intercept,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |       THEN ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS r2
        |FROM g ORDER BY l_returnflag""".stripMargin)),

    // A-psi: Population Stability Index drift decomposition — the two
    // event halves' value distributions compared over a 16-bin histogram
    // ([0, 320), width 20 — an exactly-representable width, so the
    // bucket floor is bit-identical cross-engine); bin tables + 1-row
    // totals, two scans total
    Gate("q_a_psi", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Drift.psiBins(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1),
          "value", lo = 0.0, hi = 320.0, bins = 16)
        .orderBy(col("bucket"))
    },
      // PSI: identical clamp-bucket histogram, smoothed shares from
      // identical integers, ln in DOUBLE, per-bin ROUND(,9)
      Sql(() => """WITH bspine AS (SELECT CAST(r.range AS INTEGER) AS bucket FROM range(0, 16) r),
        |hb AS (
        |  SELECT CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 20.0), 0), 15) AS INTEGER) AS bucket,
        |         count(*) AS n_base
        |  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1),
        |hc AS (
        |  SELECT CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 20.0), 0), 15) AS INTEGER) AS bucket,
        |         count(*) AS n_curr
        |  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT count(*) FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL) AS nb,
        |         (SELECT count(*) FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL) AS nc)
        |SELECT s.bucket,
        |  CAST(COALESCE(hb.n_base, 0) AS BIGINT) AS n_base,
        |  CAST(COALESCE(hc.n_curr, 0) AS BIGINT) AS n_curr,
        |  ROUND(
        |    ((COALESCE(hb.n_base, 0) + 0.5) / (tot.nb + 0.5 * 16.0)
        |     - (COALESCE(hc.n_curr, 0) + 0.5) / (tot.nc + 0.5 * 16.0))
        |    * ln(((COALESCE(hb.n_base, 0) + 0.5) / (tot.nb + 0.5 * 16.0))
        |         / ((COALESCE(hc.n_curr, 0) + 0.5) / (tot.nc + 0.5 * 16.0))), 9) AS contrib
        |FROM bspine s
        |LEFT JOIN hb ON hb.bucket = s.bucket
        |LEFT JOIN hc ON hc.bucket = s.bucket
        |CROSS JOIN tot
        |ORDER BY s.bucket""".stripMargin)),

    // A-mi: mutual information between return flag and line status —
    // the chiSquare shape (cell aggregate + two marginals + 1-row
    // total); ln runs on an exact integer-count ratio in both engines
    Gate("q_a_mi", (s, dir) =>
      graft.operators.Profiling.mutualInfo(
        t(s, dir, "lineitem"), "l_returnflag", "l_linestatus"),
      // mutual information: ln on the exact integer-count ratio, per-cell
      // round-9 terms into a DECIMAL sum
      Sql(() => """WITH cells AS (
        |  SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS o
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        |  GROUP BY 1, 2),
        |ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
        |cb AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
        |tot AS (SELECT SUM(o) AS n FROM cells)
        |SELECT
        |  ROUND(CAST(SUM(CAST(ROUND(
        |    (CAST(o AS DOUBLE) / n) *
        |    ln(CAST(o * n AS DOUBLE) / CAST(ra * cb AS DOUBLE)),
        |    9) AS DECIMAL(38,9))) AS DOUBLE), 6) AS mi_nats,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(MAX(n) AS BIGINT) AS n
        |FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot""".stripMargin)),

    // A-benford: first-digit audit of order totals — integer-side
    // digit extraction (scale-by-100, round, first decimal char), the
    // nine Benford shares as pre-rounded literals in both engines
    Gate("q_a_benford", (s, dir) =>
      graft.operators.Profiling.benfordDigits(
          t(s, dir, "orders"), "o_totalprice", scale = 2)
        .orderBy(col("digit")),
      // Benford: integer-side digit extraction; the nine expected shares
      // as generated pre-rounded literals (identical to the engine's)
      Sql(() => {
      val expVals = graft.operators.Profiling.benfordExpected.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, CAST($p AS DOUBLE))" }
        .mkString(", ")
      s"""WITH expd(digit, p_exp) AS (VALUES $expVals),
         |c AS (
         |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100.0, 0)
         |           AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         |    count(*) AS n
         |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
         |  GROUP BY 1),
         |tot AS (SELECT SUM(n) AS t FROM c)
         |SELECT digit, CAST(n AS BIGINT) AS n,
         |  ROUND(CAST(n AS DOUBLE) / t, 6) AS p_obs, p_exp,
         |  ROUND((CAST(n AS DOUBLE) - p_exp * t) *
         |        (CAST(n AS DOUBLE) - p_exp * t) / (p_exp * t), 6) AS chi2_term
         |FROM c JOIN expd USING (digit) CROSS JOIN tot
         |ORDER BY digit""".stripMargin
    })),

    // A-cuped: CUPED variance reduction — per-flag price means adjusted
    // by the quantity covariate; one variant-keyed aggregate + a
    // broadcast pooled-scalar fold, nothing else touches the data
    Gate("q_a_cuped", (s, dir) =>
      graft.operators.Experiment.cupedAdjust(
          tw(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
          "l_quantity")
        .orderBy(col("l_returnflag")),
      // CUPED: same decimal power sums, same fixed-order pooled formula
      Sql(() => """WITH v AS (
        |  SELECT l_returnflag,
        |    count(*) AS n,
        |    SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(38,6))) AS sx,
        |    SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(38,6))) AS sy,
        |    SUM(CAST(ROUND(l_quantity * l_extendedprice, 6) AS DECIMAL(38,6))) AS sxy,
        |    SUM(CAST(ROUND(l_quantity * l_quantity, 6) AS DECIMAL(38,6))) AS sxx,
        |    SUM(CAST(ROUND(l_extendedprice * l_extendedprice, 6) AS DECIMAL(38,6))) AS syy
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |  GROUP BY 1),
        |p AS (
        |  SELECT SUM(n) AS nn,
        |    CAST(SUM(sx) AS DOUBLE) AS tx, CAST(SUM(sy) AS DOUBLE) AS ty,
        |    CAST(SUM(sxy) AS DOUBLE) AS txy, CAST(SUM(sxx) AS DOUBLE) AS txx,
        |    CAST(SUM(syy) AS DOUBLE) AS tyy
        |  FROM v)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_y,
        |  ROUND(CAST(sy AS DOUBLE) / n -
        |    ((txy - tx * ty / nn) / (txx - tx * tx / nn)) *
        |    (CAST(sx AS DOUBLE) / n - tx / nn), 6) AS mean_y_adj,
        |  ROUND((txy - tx * ty / nn) / (txx - tx * tx / nn), 6) AS theta,
        |  ROUND(1.0 - (txy - tx * ty / nn) * (txy - tx * ty / nn) /
        |    ((txx - tx * tx / nn) * (tyy - ty * ty / nn)), 6) AS var_ratio
        |FROM v CROSS JOIN p ORDER BY l_returnflag""".stripMargin)),

    // A-ipw: observational ATE via per-stratum inverse-propensity
    // weighting — the IPW sums collapse to stratum aggregates, so one
    // stratum-keyed aggregate + a panel reduce; no per-row weights
    Gate("q_a_ipw", (s, dir) =>
      graft.operators.Experiment.ipwAte(
        t(s, dir, "lineitem")
          .withColumn("__treat", col("l_tax") > lit(0.04)),
        "__treat", "l_extendedprice", "l_returnflag"),
      // IPW: identical stratum aggregates, round-9 decimal IPW/ESS terms,
      // fixed-order closed forms
      Sql(() => """WITH s AS (
        |  SELECT l_returnflag AS x, count(*) AS n,
        |    SUM(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS n1,
        |    SUM(CAST(CASE WHEN l_tax > 0.04 THEN ROUND(l_extendedprice, 6)
        |      ELSE 0 END AS DECIMAL(38,6))) AS s1,
        |    SUM(CAST(CASE WHEN NOT (l_tax > 0.04) THEN
        |      ROUND(l_extendedprice, 6) ELSE 0 END AS DECIMAL(38,6))) AS s0
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_tax IS NOT NULL
        |  GROUP BY 1),
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN n1 > 0 AND n1 < n THEN n ELSE 0 END)
        |      AS BIGINT) AS nu,
        |    CAST(SUM(CASE WHEN n1 > 0 AND n1 < n THEN 0 ELSE 1 END)
        |      AS BIGINT) AS nex,
        |    SUM(CAST(CASE WHEN n1 > 0 AND n1 < n THEN
        |      ROUND(CAST(s1 AS DOUBLE) * CAST(n AS DOUBLE) /
        |        CAST(n1 AS DOUBLE), 9) ELSE 0 END AS DECIMAL(38,9))) AS w1,
        |    SUM(CAST(CASE WHEN n1 > 0 AND n1 < n THEN
        |      ROUND(CAST(s0 AS DOUBLE) * CAST(n AS DOUBLE) /
        |        CAST(n - n1 AS DOUBLE), 9) ELSE 0 END AS DECIMAL(38,9)))
        |      AS w0,
        |    CAST(SUM(CASE WHEN n1 > 0 AND n1 < n THEN n1 ELSE 0 END)
        |      AS BIGINT) AS tn1,
        |    SUM(CAST(CASE WHEN n1 > 0 AND n1 < n THEN s1 ELSE 0 END
        |      AS DECIMAL(38,6))) AS ts1,
        |    SUM(CAST(CASE WHEN n1 > 0 AND n1 < n THEN s0 ELSE 0 END
        |      AS DECIMAL(38,6))) AS ts0,
        |    SUM(CAST(CASE WHEN n1 > 0 AND n1 < n THEN
        |      ROUND(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) /
        |        CAST(n1 AS DOUBLE), 9) ELSE 0 END AS DECIMAL(38,9))) AS e1,
        |    SUM(CAST(CASE WHEN n1 > 0 AND n1 < n THEN
        |      ROUND(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) /
        |        CAST(n - n1 AS DOUBLE), 9) ELSE 0 END AS DECIMAL(38,9)))
        |      AS e0
        |  FROM s)
        |SELECT nu AS n_used, nex AS n_excluded_strata,
        |  ROUND(CAST(ts1 AS DOUBLE) / CAST(tn1 AS DOUBLE) -
        |    CAST(ts0 AS DOUBLE) / CAST(nu - tn1 AS DOUBLE), 6)
        |    AS naive_diff,
        |  ROUND((CAST(w1 AS DOUBLE) - CAST(w0 AS DOUBLE)) /
        |    CAST(nu AS DOUBLE), 6) AS ate,
        |  ROUND(CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE) /
        |    CAST(e1 AS DOUBLE), 6) AS ess_treated,
        |  ROUND(CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE) /
        |    CAST(e0 AS DOUBLE), 6) AS ess_control
        |FROM a""".stripMargin)),

    // A-did: 2×2 difference-in-differences — one (group, period) cell
    // aggregate, fixed-order IEEE on the four cell means
    Gate("q_a_did", (s, dir) =>
      graft.operators.Experiment.diffInDiffs(
        t(s, dir, "events")
          .withColumn("__treat", col("user_id") % 2 === 0)
          .withColumn("__post", col("ts") >=
            lit(1704067200000000000L + 15L * 86400L * 1000000000L)),
        "__treat", "__post", "value"),
      // DiD: identical 2×2 cell aggregate and fixed-order estimate
      Sql(() => """WITH c AS (
        |  SELECT (user_id % 2 = 0) AS t,
        |    (epoch_ns(ts) >= 1705363200000000000) AS p,
        |    count(*) AS n,
        |    SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS s
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |a AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    MAX(CASE WHEN NOT t AND NOT p THEN CAST(s AS DOUBLE) / n END)
        |      AS cpre,
        |    MAX(CASE WHEN NOT t AND p THEN CAST(s AS DOUBLE) / n END)
        |      AS cpost,
        |    MAX(CASE WHEN t AND NOT p THEN CAST(s AS DOUBLE) / n END)
        |      AS tpre,
        |    MAX(CASE WHEN t AND p THEN CAST(s AS DOUBLE) / n END) AS tpost
        |  FROM c)
        |SELECT nn AS n, ROUND(cpre, 6) AS mean_c_pre,
        |  ROUND(cpost, 6) AS mean_c_post, ROUND(tpre, 6) AS mean_t_pre,
        |  ROUND(tpost, 6) AS mean_t_post,
        |  ROUND((tpost - tpre) - (cpost - cpre), 6) AS did
        |FROM a""".stripMargin)),

    // A-msprt: always-valid sequential A/B test (mixture SPRT) — the
    // peeking-safe per-period readout. ONE (period, arm) aggregate over
    // data; cumulative sums + the running ln Λ envelope are windows over
    // the calendar-bounded day panel. Per-term round-6 decimal sums,
    // double divisions, shared τ²/α literals; ln's ulp absorbed by the
    // round-6 outputs.
    Gate("q_a_msprt", (s, dir) =>
      graft.operators.Experiment.msprt(
        t(s, dir, "events")
          .where(col("ts").isNotNull) // a null period would order differently per engine
          .withColumn("__treat", col("user_id") % 2 === 0)
          .withColumn("__day",
            floor((col("ts") - lit(1704067200000000000L)) /
              lit(86400000000000.0)).cast("long")),
        "__treat", "__day", "value", tauSq = 1.0, alpha = 0.05)
      .orderBy(col("period")),
      // mSPRT: identical (period, arm) decimal cells, identical ROWS
      // cumulative windows, identical double formula structure; ln ulp
      // absorbed by ROUND(,6); tau^2 = 1.0, alpha = 0.05 inlined
      Sql(() => """WITH cells AS (
        |  SELECT CAST(floor((epoch_ns(ts) - 1704067200000000000)
        |      / 86400000000000.0) AS BIGINT) AS period,
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS nt0,
        |    SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS nc0,
        |    SUM(CAST(CASE WHEN user_id % 2 = 0 THEN ROUND(value, 6)
        |      ELSE 0 END AS DECIMAL(38,6))) AS st0,
        |    SUM(CAST(CASE WHEN user_id % 2 <> 0 THEN ROUND(value, 6)
        |      ELSE 0 END AS DECIMAL(38,6))) AS sc0,
        |    SUM(CAST(CASE WHEN user_id % 2 = 0
        |      THEN ROUND(value, 6) * ROUND(value, 6)
        |      ELSE 0 END AS DECIMAL(38,6))) AS qt0,
        |    SUM(CAST(CASE WHEN user_id % 2 <> 0
        |      THEN ROUND(value, 6) * ROUND(value, 6)
        |      ELSE 0 END AS DECIMAL(38,6))) AS qc0
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL
        |  GROUP BY 1),
        |cum AS (
        |  SELECT period,
        |    SUM(nt0) OVER w AS nt, SUM(nc0) OVER w AS nc,
        |    CAST(SUM(st0) OVER w AS DOUBLE) AS st,
        |    CAST(SUM(sc0) OVER w AS DOUBLE) AS sc,
        |    CAST(SUM(qt0) OVER w AS DOUBLE) AS qt,
        |    CAST(SUM(qc0) OVER w AS DOUBLE) AS qc
        |  FROM cells
        |  WINDOW w AS (ORDER BY period
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |scored AS (
        |  SELECT period, nt, nc,
        |    CASE WHEN nt >= 1 AND nc >= 1 THEN
        |      st / CAST(nt AS DOUBLE) - sc / CAST(nc AS DOUBLE) END AS dd,
        |    CASE WHEN nt >= 2 AND nc >= 2 THEN
        |      (qt - st * st / CAST(nt AS DOUBLE)) / (CAST(nt AS DOUBLE) - 1.0)
        |        / CAST(nt AS DOUBLE) +
        |      (qc - sc * sc / CAST(nc AS DOUBLE)) / (CAST(nc AS DOUBLE) - 1.0)
        |        / CAST(nc AS DOUBLE) END AS vn
        |  FROM cum),
        |ll AS (
        |  SELECT period, nt, nc, dd,
        |    CASE WHEN nt >= 2 AND nc >= 2 AND vn > 0 THEN
        |      0.5 * ln(vn / (vn + 1.0)) +
        |        dd * dd * 1.0 / (2.0 * vn * (vn + 1.0))
        |    END AS lnlam
        |  FROM scored)
        |SELECT period, CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
        |  ROUND(dd, 6) AS delta, ROUND(lnlam, 6) AS ln_lambda,
        |  ROUND(MAX(lnlam) OVER w2, 6) AS ln_lambda_max,
        |  COALESCE(ROUND(MAX(lnlam) OVER w2, 6) >= ROUND(-ln(0.05), 6), false)
        |    AS reject
        |FROM ll
        |WINDOW w2 AS (ORDER BY period
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY period""".stripMargin)),

    // A-spearman: tie-averaged rank correlation with DISTRIBUTED ranks
    // (GlobalOrder.withPrefixSum — range shuffle + partition-sized
    // offsets, no single-partition rank window); doubled ranks keep
    // every sufficient statistic an exact integer
    Gate("q_a_spearman", (s, dir) =>
      graft.operators.Profiling.spearman(
        t(s, dir, "lineitem"), "l_quantity", "l_extendedprice"),
      // spearman: tie-averaged ranks via the window twin (2·rank + cnt − 1
      // doubles the .5-averages into exact integers), identical fixed-order
      // closed form
      Sql(() => """WITH c AS (
        |  SELECT l_quantity AS a, l_extendedprice AS b FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |r AS (
        |  SELECT
        |    2 * rank() OVER (ORDER BY a) + count(*) OVER (PARTITION BY a) - 1 AS ra,
        |    2 * rank() OVER (ORDER BY b) + count(*) OVER (PARTITION BY b) - 1 AS rb
        |  FROM c),
        |s AS (
        |  SELECT count(*) AS n,
        |    CAST(SUM(CAST(ra AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(rb AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ra AS DECIMAL(19,0)) * CAST(ra AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(rb AS DECIMAL(19,0)) * CAST(rb AS DECIMAL(19,0))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(ra AS DECIMAL(19,0)) * CAST(rb AS DECIMAL(19,0))) AS DOUBLE) AS sxy
        |  FROM r)
        |SELECT n,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
        |         (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS rho
        |FROM s""".stripMargin)),

    // A-catentropy: per-user behavioral diversity — Shannon entropy of
    // the event-type mix via H = ln n − (Σ c·ln c)/n (only the
    // (group, category) counts ever shuffle)
    Gate("q_a_cat_entropy", (s, dir) =>
      graft.operators.Profiling.categoricalEntropy(
          t(s, dir, "events"), "user_id", "event_type")
        .orderBy(col("user_id")),
      // categorical entropy: identical count relation + ln-of-integers
      Sql(() => """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c FROM events
        |  WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |g AS (
        |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_cats,
        |    CAST(SUM(CAST(ROUND(c * ln(CAST(c AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS s
        |  FROM c GROUP BY 1)
        |SELECT user_id, n, n_cats,
        |  ROUND(ln(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE), 6) AS entropy
        |FROM g ORDER BY user_id""".stripMargin)),

    // A-ols2: two-regressor OLS per group — Cramer's rule on the 3×3
    // Gram matrix from ONE aggregate of nine decimal-exact sums
    Gate("q_a_ols2", (s, dir) =>
      graft.operators.Profiling.groupOls2(
          tw(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", "l_discount", "l_extendedprice")
        .orderBy(col("l_returnflag")),
      // two-regressor OLS: identical Gram sums + cofactor expansion order
      Sql(() => """WITH g AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(ROUND(l_discount, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(l_quantity * l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(ROUND(l_quantity * l_discount, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(ROUND(l_discount * l_discount, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(ROUND(l_quantity * l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(ROUND(l_discount * l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_extendedprice IS NOT NULL
        |  GROUP BY 1),
        |d AS (
        |  SELECT *,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM g)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > 2 AND abs(det) > 1e-9 THEN ROUND(det0 / det, 6) END AS b0,
        |  CASE WHEN n > 2 AND abs(det) > 1e-9 THEN ROUND(det1 / det, 6) END AS b1,
        |  CASE WHEN n > 2 AND abs(det) > 1e-9 THEN ROUND(det2 / det, 6) END AS b2
        |FROM d ORDER BY l_returnflag""".stripMargin)),

    // A-joincard: sampling-based join-size estimate vs truth —
    // correlated KEY sampling on both sides (row sampling would
    // estimate fraction² of the pairs), scaled per-key count products
    Gate("q_a_joincard", (s, dir) => {
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      val est = graft.operators.Profiling.joinCardinalityEstimate(
        o, "o_orderkey", l, "l_orderkey", fraction = 0.125, salt = "jc1")
      val actual = o.select(col("o_orderkey").as("__k"))
        .join(l.select(col("l_orderkey").as("__k")), "__k")
        .agg(count(lit(1)).as("actual_pairs"))
      est.crossJoin(actual)
        .select(col("est_pairs"), col("actual_pairs"),
          round(col("est_pairs") / col("actual_pairs").cast("double"), 6)
            .as("err_ratio"))
    },
      // join cardinality: identical key sample + scaled count products
      Sql(() => """WITH sa AS (
        |  SELECT o_orderkey AS k, count(*) AS na FROM orders
        |  WHERE md5(CAST(o_orderkey AS VARCHAR) || 'jc1')
        |        < '20000000000000000000000000000000'
        |  GROUP BY 1),
        |sb AS (
        |  SELECT l_orderkey AS k, count(*) AS nb FROM lineitem
        |  WHERE md5(CAST(l_orderkey AS VARCHAR) || 'jc1')
        |        < '20000000000000000000000000000000'
        |  GROUP BY 1),
        |e AS (
        |  SELECT ROUND(COALESCE(CAST(SUM(CAST(na AS DECIMAL(19,0))
        |    * CAST(nb AS DECIMAL(19,0))) AS DOUBLE), 0.0) / 0.125, 6)
        |    AS est_pairs
        |  FROM sa JOIN sb USING (k)),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS actual_pairs
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT est_pairs, actual_pairs,
        |  ROUND(est_pairs / CAST(actual_pairs AS DOUBLE), 6) AS err_ratio
        |FROM e CROSS JOIN a""".stripMargin)),

    // A-mannwhitney: rank-sum two-sample test — tie-averaged ranks
    // from ONE distinct-value prefix-sum pass (no per-row rank join:
    // the rank-sum needs only Σ count_A(v)·avgrank(v)); doubled ranks
    // keep every statistic integer-exact
    Gate("q_a_mannwhitney", (s, dir) =>
      graft.operators.Profiling.mannWhitneyU(
        t(s, dir, "events"), "event_type", "value", "click", "purchase"),
      // Mann-Whitney: rank window twin of the prefix-sum formulation;
      // identical decimal statistics and fixed-order closed form
      Sql(() => """WITH c AS (
        |  SELECT event_type AS grp, value AS v FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
        |counts AS (
        |  SELECT v, SUM(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS ca,
        |    count(*) AS ct
        |  FROM c GROUP BY v),
        |pre AS (
        |  SELECT v, ca, ct,
        |    COALESCE(SUM(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS p
        |  FROM counts),
        |a AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n1, CAST(SUM(ct) AS BIGINT) AS nt,
        |    CAST(SUM(CAST(ca AS DECIMAL(38,0)) *
        |      CAST(2 * p + ct + 1 AS DECIMAL(19,0))) AS DOUBLE) AS r1d,
        |    CAST(SUM(CAST(ct AS DECIMAL(19,0)) * CAST(ct AS DECIMAL(19,0))
        |      * CAST(ct AS DECIMAL(19,0)) - CAST(ct AS DECIMAL(19,0)))
        |      AS DOUBLE) AS tie
        |  FROM pre)
        |SELECT n1, nt - n1 AS n2,
        |  (r1d - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0 AS u1,
        |  CASE WHEN CAST(n1 AS DOUBLE) * CAST(nt - n1 AS DOUBLE) / 12.0 *
        |         ((CAST(nt AS DOUBLE) + 1.0) - tie /
        |          (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0))) > 0
        |  THEN ROUND(
        |    ((r1d - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0))
        |     - CAST(n1 AS DOUBLE) * CAST(nt - n1 AS DOUBLE)) /
        |    (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(nt - n1 AS DOUBLE) / 12.0 *
        |      ((CAST(nt AS DOUBLE) + 1.0) - tie /
        |       (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0))))), 6)
        |  END AS z
        |FROM a""".stripMargin)),

    // A-ks: bin-free two-sample distribution test — both empirical
    // CDFs ride the distinct-value prefix sums, one max aggregate
    Gate("q_a_ks", (s, dir) =>
      graft.operators.Profiling.ksTest(
        t(s, dir, "events"), "event_type", "value", "click", "purchase"),
      // KS: window-cumulative CDF twin, identical round-9 gaps
      Sql(() => """WITH c AS (
        |  SELECT event_type AS grp, value AS v FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
        |counts AS (
        |  SELECT v,
        |    SUM(CASE WHEN grp = 'click' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN grp = 'purchase' THEN 1 ELSE 0 END) AS cb
        |  FROM c GROUP BY v),
        |cum AS (
        |  SELECT v, ca, cb,
        |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb,
        |    SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
        |  FROM counts)
        |SELECT CAST(MAX(na) AS BIGINT) AS n1, CAST(MAX(nb) AS BIGINT) AS n2,
        |  ROUND(MAX(ROUND(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE) -
        |    CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)), 9)), 6) AS ks_d
        |FROM cum""".stripMargin)),

    // A-auc: threshold-free ranking quality — ROC AUC via the
    // tie-averaged rank-sum identity; one distinct-score prefix-sum
    // pass, doubled ranks keep the rank-sum decimal-exact
    Gate("q_a_auc", (s, dir) =>
      graft.operators.Profiling.rocAuc(
        t(s, dir, "lineitem")
          .withColumn("__lab", col("l_returnflag") === lit("R")),
        "__lab", "l_extendedprice"),
      // AUC: identical prefix-sum rank machinery; doubled rank-sum
      // decimal-exact, closed form in fixed-order double
      Sql(() => """WITH c AS (
        |  SELECT (l_returnflag = 'R') AS y, l_extendedprice AS v
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        |counts AS (
        |  SELECT v, SUM(CASE WHEN y THEN 1 ELSE 0 END) AS ca, count(*) AS ct
        |  FROM c GROUP BY v),
        |pre AS (
        |  SELECT v, ca, ct,
        |    COALESCE(SUM(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS p
        |  FROM counts),
        |a AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS n1, CAST(SUM(ct) AS BIGINT) AS nt,
        |    CAST(SUM(CAST(ca AS DECIMAL(38,0)) *
        |      CAST(2 * p + ct + 1 AS DECIMAL(19,0))) AS DOUBLE) AS r1d
        |  FROM pre)
        |SELECT n1 AS n_pos, nt - n1 AS n_neg,
        |  CASE WHEN n1 > 0 AND n1 < nt THEN
        |    ROUND((r1d - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) /
        |      (2.0 * CAST(n1 AS DOUBLE) * CAST(nt - n1 AS DOUBLE)), 6)
        |  END AS auc,
        |  CASE WHEN n1 > 0 AND n1 < nt THEN
        |    ROUND(2.0 * ((r1d - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE)
        |      + 1.0)) /
        |      (2.0 * CAST(n1 AS DOUBLE) * CAST(nt - n1 AS DOUBLE))) - 1.0, 6)
        |  END AS gini
        |FROM a""".stripMargin)),

    // A-brier: Murphy calibration decomposition of a discrete
    // forecast (the 11-value discount column read as a probability) —
    // bin-keyed aggregate + broadcast total, round-9 decimal terms
    Gate("q_a_brier", (s, dir) =>
      graft.operators.Profiling.brierDecomposition(
        t(s, dir, "lineitem")
          .withColumn("__prob", col("l_discount") * lit(10.0))
          .withColumn("__lab", col("l_returnflag") === lit("R")),
        "__prob", "__lab"),
      // Brier: identical bin relation (the shared-double product key),
      // round-9 decimal term sums, integer-sum rates divided in double
      Sql(() => """WITH c AS (
        |  SELECT l_discount * 10.0 AS p,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
        |bins AS (
        |  SELECT p, count(*) AS n, SUM(y) AS s,
        |    SUM(CAST(ROUND((p - CAST(y AS DOUBLE)) * (p - CAST(y AS DOUBLE)),
        |      9) AS DECIMAL(38,9))) AS b
        |  FROM c GROUP BY p),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st,
        |    SUM(b) AS bt
        |  FROM bins),
        |terms AS (
        |  SELECT MIN(t.nt) AS nt, MIN(CAST(t.bt AS DOUBLE)) AS bt,
        |    MIN(CAST(t.st AS DOUBLE) / CAST(t.nt AS DOUBLE)) AS ybar,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(SUM(CAST(ROUND(CAST(n AS DOUBLE) *
        |      (p - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (p - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS rel,
        |    CAST(SUM(CAST(ROUND(CAST(n AS DOUBLE) *
        |      (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) -
        |       CAST(t.st AS DOUBLE) / CAST(t.nt AS DOUBLE)) *
        |      (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) -
        |       CAST(t.st AS DOUBLE) / CAST(t.nt AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) AS res
        |  FROM bins, tot t)
        |SELECT nt AS n, k AS n_bins,
        |  ROUND(bt / CAST(nt AS DOUBLE), 6) AS brier,
        |  ROUND(ybar * (1.0 - ybar), 6) AS uncertainty,
        |  ROUND(rel / CAST(nt AS DOUBLE), 6) AS reliability,
        |  ROUND(res / CAST(nt AS DOUBLE), 6) AS resolution
        |FROM terms""".stripMargin)),

    // A-conformal: split-conformal prediction-interval contract —
    // group-mean model on the odd-orderkey half, exact ⌈(n+1)(1−α)⌉
    // order statistic via the prefix-sum pass, coverage on the even
    // half; α=0.1
    Gate("q_a_conformal", (s, dir) =>
      graft.operators.Profiling.conformalCoverage(
        t(s, dir, "lineitem")
          .withColumn("__split", col("l_orderkey") % 2 === 1),
        "__split", "l_returnflag", "l_extendedprice", alpha = 0.1),
      // conformal: identical decimal-mean model, prefix-sum order
      // statistic, and pure-comparison coverage
      Sql(() => """WITH base AS (
        |  SELECT (l_orderkey % 2 = 1) AS cal, l_returnflag AS g,
        |    l_extendedprice AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |model AS (
        |  SELECT g, CAST(SUM(CAST(v AS DECIMAL(38,9))) AS DOUBLE)
        |    / count(*) AS pred
        |  FROM base WHERE cal GROUP BY g),
        |scored AS (
        |  SELECT b.cal, ABS(b.v - m.pred) AS r
        |  FROM base b JOIN model m ON b.g = m.g),
        |calcounts AS (
        |  SELECT r, count(*) AS ct FROM scored WHERE cal GROUP BY r),
        |pre AS (
        |  SELECT r, ct, COALESCE(SUM(ct) OVER (ORDER BY r ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
        |  FROM calcounts),
        |n AS (SELECT CAST(SUM(ct) AS BIGINT) AS ncal FROM calcounts),
        |kk AS (SELECT ncal,
        |    LEAST(ncal, CAST(CEIL((ncal + 1) * 0.9) AS BIGINT)) AS k
        |  FROM n),
        |q AS (SELECT MIN(r) AS q FROM pre, kk WHERE p + ct >= kk.k),
        |cov AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ntest,
        |    SUM(CASE WHEN s.r <= q.q THEN 1 ELSE 0 END) AS cvd
        |  FROM scored s, q WHERE NOT s.cal)
        |SELECT kk.ncal AS n_cal, cov.ntest AS n_test, kk.k AS k_rank,
        |  ROUND(q.q, 6) AS qhat,
        |  ROUND(CAST(cov.cvd AS DOUBLE) / CAST(cov.ntest AS DOUBLE), 6)
        |    AS coverage
        |FROM kk, q, cov""".stripMargin)),

    // A-theilsen: robust per-group trend slope — lower median of
    // pairwise slopes over a deterministic SIZE-CAPPED per-group
    // sample (the estimator is quadratic by definition; a fixed
    // FRACTION is not scale-safe — pair volume grows with corpus² —
    // while the cap pins the pair budget at C(64,2) per group forever,
    // the SURVEY §8.6f rule); pairs join group-keyed, median via one
    // rank window
    Gate("q_a_theilsen", (s, dir) => {
      val o = graft.operators.Sampling.groupCappedSample(
          t(s, dir, "orders"), "o_orderpriority", "o_orderkey",
          cap = 64, salt = "ts7")
        .select(col("o_orderpriority"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .as("mi"),
          col("o_totalprice"), col("o_orderkey"))
      graft.operators.Profiling.theilSen(o, "o_orderpriority", "mi",
          "o_totalprice", "o_orderkey")
        .orderBy(col("o_orderpriority"))
    },
      // Theil-Sen: identical two-phase size-capped per-group sample
      // (census threshold pre-filter, then rank <= cap), pair join, and
      // lower-median rank selection
      Sql(() => """WITH u AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
        |    o_totalprice,
        |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || 'ts7'), 1, 13))::BIGINT
        |      / 4503599627370496.0 AS uu
        |  FROM orders),
        |cs AS (SELECT o_orderpriority, count(*) AS gn FROM u GROUP BY 1),
        |s AS (
        |  SELECT * FROM (
        |    SELECT u.o_orderkey, u.o_orderpriority, u.mi, u.o_totalprice,
        |      row_number() OVER (PARTITION BY u.o_orderpriority
        |                         ORDER BY u.uu, u.o_orderkey) AS srn
        |    FROM u JOIN cs USING (o_orderpriority)
        |    WHERE cs.gn <= 64
        |       OR u.uu < 4.0 * 64.0 / CAST(cs.gn AS DOUBLE))
        |  WHERE srn <= 64),
        |p AS (
        |  SELECT a.o_orderpriority AS g, a.o_orderkey AS id1,
        |    b.o_orderkey AS id2,
        |    ROUND((b.o_totalprice - a.o_totalprice)
        |          / CAST(b.mi - a.mi AS DOUBLE), 9) AS slope
        |  FROM s a JOIN s b
        |    ON a.o_orderpriority = b.o_orderpriority
        |   AND a.o_orderkey < b.o_orderkey AND a.mi <> b.mi),
        |r AS (
        |  SELECT g, slope,
        |    row_number() OVER (PARTITION BY g ORDER BY slope, id1, id2) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM p)
        |SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n_pairs,
        |  slope AS slope_med
        |FROM r WHERE rn = (n + 1) // 2
        |ORDER BY o_orderpriority""".stripMargin)),

    // A-mode: per-group modal value (smallest-value tie break) — one
    // grouped count + one rank window over the distinct-value relation
    Gate("q_a_mode", (s, dir) =>
      graft.operators.Profiling.modeByGroup(
          t(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .orderBy(col("l_returnflag")),
      // mode: identical count + rank-1 selection
      Sql(() => """WITH c AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS n FROM lineitem
        |  WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY n DESC, l_quantity) AS rn
        |  FROM c)
        |SELECT l_returnflag, l_quantity AS mode, CAST(n AS BIGINT) AS n_mode
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin)),

    // X-ltv: cohort LTV curve — customers grouped by first-order
    // month, revenue by cohort age with a per-cohort cumulative
    // (decimal-exact through the window, cast at the edge)
    Gate("q_x_ltv", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("mi"),
        col("o_totalprice"))
      val first = o.groupBy(col("o_custkey")).agg(min(col("mi")).as("cohort"))
      val panel = o.join(first, "o_custkey")
        .groupBy(col("cohort"), (col("mi") - col("cohort")).as("age"))
        .agg(sum(col("o_totalprice").cast("decimal(38,2)")).as("__rev"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      panel.select(col("cohort"), col("age"),
          col("__rev").cast("double").as("rev"),
          sum(col("__rev")).over(w).cast("double").as("cum_rev"))
        .orderBy(col("cohort"), col("age"))
    },
      // LTV: identical cohort panel + per-cohort cumulative decimal sums
      Sql(() => """WITH o AS (
        |  SELECT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
        |    o_totalprice
        |  FROM orders),
        |f AS (SELECT o_custkey, min(mi) AS cohort FROM o GROUP BY 1),
        |panel AS (
        |  SELECT cohort, mi - cohort AS age,
        |    SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS rev_d
        |  FROM o JOIN f USING (o_custkey)
        |  GROUP BY 1, 2)
        |SELECT CAST(cohort AS INTEGER) AS cohort, CAST(age AS INTEGER) AS age,
        |  CAST(rev_d AS DOUBLE) AS rev,
        |  CAST(SUM(rev_d) OVER (PARTITION BY cohort ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS cum_rev
        |FROM panel ORDER BY cohort, age""".stripMargin))
  )
}
