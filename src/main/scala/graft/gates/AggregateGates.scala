package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Aggregations (SURVEY §2.4): group-by, grouping sets, pivots,
  * percentiles, sketches and differentially private releases. */
private[graft] object AggregateGates {
  val gates: Seq[Gate] = Seq(
    // A1: group-by + mean, exact decimal-sum mean (helper_methods.py:159)
    Gate("q_a1_group_mean", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
      Sql(() => """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A2 + A10: global scalar aggregate panel (helper_methods.py:332, main.py:38)
    Gate("q_a2_global_stats", (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        dsum(col("l_extendedprice")).as("sum_price"),
        davg(col("l_extendedprice")).as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price")),
      Sql(() => """SELECT COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin)),

    // A4 rewrite: all distinct counts in ONE aggregate job
    // (vs one job per column, helper_methods.py:60-61 — SURVEY §4.3)
    Gate("q_a4_distinct_counts", (s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_returnflag")).as("d_flag"),
        countDistinct(col("l_linestatus")).as("d_status"),
        countDistinct(col("l_partkey")).as("d_part")),
      Sql(() => """SELECT COUNT(DISTINCT l_returnflag) AS d_flag,
        |       COUNT(DISTINCT l_linestatus) AS d_status,
        |       COUNT(DISTINCT l_partkey) AS d_part
        |FROM lineitem""".stripMargin)),

    // A5: exact interpolated percentiles (approxQuantile with relErr=0,
    // helper_methods.py:70; both engines interpolate linearly)
    Gate("q_a5_percentiles", (s, dir) =>
      t(s, dir, "lineitem").selectExpr(
        "percentile(l_quantity, array(0.05D, 0.25D, 0.5D, 0.75D, 0.95D)) AS q")
        .selectExpr(
          "element_at(q, 1) AS p05", "element_at(q, 2) AS p25",
          "element_at(q, 3) AS p50", "element_at(q, 4) AS p75",
          "element_at(q, 5) AS p95"),
      Sql(() => """SELECT quantile_cont(l_quantity, 0.05) AS p05,
        |       quantile_cont(l_quantity, 0.25) AS p25,
        |       quantile_cont(l_quantity, 0.5)  AS p50,
        |       quantile_cont(l_quantity, 0.75) AS p75,
        |       quantile_cont(l_quantity, 0.95) AS p95
        |FROM lineitem""".stripMargin)),

    // A6: Pearson correlation (helper_methods.py:69), rounded — the moment
    // accumulation order differs between engines
    Gate("q_a6_corr", (s, dir) =>
      t(s, dir, "lineitem").agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(corr(col("l_discount"), col("l_tax")), 6).as("corr_disc_tax")),
      Sql(() => """SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |       ROUND(corr(l_discount, l_tax), 6) AS corr_disc_tax
        |FROM lineitem""".stripMargin)),

    // A8: frequency crosstab in long form (generate_report_figures.py:43-44)
    Gate("q_a8_crosstab", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("source")),
      Sql(() => """SELECT lang, source, COUNT(*) AS n FROM documents
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // A9: mean of a measure by group, exact (generate_report_figures.py:122)
    Gate("q_a9_group_means", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
        .orderBy(col("event_type")),
      Sql(() => """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A-rollup: hierarchical subtotals (SURVEY §2.4 "built-in if needed");
    // null group markers are coalesced to a sentinel so cross-engine NULL
    // ordering never matters
    Gate("q_a_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("n"), col("qty"))
        .orderBy(col("rf"), col("ls")),
      Sql(() => """SELECT COALESCE(l_returnflag, '(all)') AS rf,
        |       COALESCE(l_linestatus, '(all)') AS ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),

    // A-cube: full cross-dimensional subtotals
    Gate("q_a_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"), col("n"))
        .orderBy(col("rf"), col("ls")),
      Sql(() => """SELECT COALESCE(l_returnflag, '(all)') AS rf,
        |       COALESCE(l_linestatus, '(all)') AS ls,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),

    // A8-wide: static pivot (fixed value list keeps the schema static)
    Gate("q_a8_pivot", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O", "P"))
        .count()
        .na.fill(0L)
        .orderBy(col("l_returnflag")),
      Sql(() => """SELECT l_returnflag,
        |       CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS F,
        |       CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS O,
        |       CAST(COUNT(*) FILTER (WHERE l_linestatus = 'P') AS BIGINT) AS P
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A11: MAE/RMSE as pure SQL aggregates (helper_methods.py:346-369);
    // prediction is a deterministic synthetic column
    Gate("q_a11_reg_metrics", (s, dir) => {
      val d = col("l_quantity") * lit(1000.0) - col("l_extendedprice")
      tw(s, dir, "lineitem").agg(
        (dsum(abs(d)) / count(lit(1))).as("mae"),
        sqrt(dsum(d * d) / count(lit(1))).as("rmse"))
    },
      Sql(() => """SELECT CAST(SUM(CAST(ABS(l_quantity * 1000.0 - l_extendedprice) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mae,
        |       SQRT(CAST(SUM(CAST((l_quantity * 1000.0 - l_extendedprice) * (l_quantity * 1000.0 - l_extendedprice) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)) AS rmse
        |FROM lineitem""".stripMargin)),

    // A-gsets: GROUPING SETS — the generalized rollup/cube; Spark expands
    // to one Expand + one aggregate exchange, not one pass per set
    Gate("q_a_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("v_li_gsets")
      s.sql(
        """SELECT COALESCE(l_returnflag, '(all)') AS rf,
          |       COALESCE(l_linestatus, '(all)') AS ls,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS qty
          |FROM v_li_gsets
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
          |                        (l_returnflag, l_linestatus))
          |ORDER BY rf, ls""".stripMargin)
    },
      Sql(() => """SELECT COALESCE(l_returnflag, '(all)') AS rf,
        |       COALESCE(l_linestatus, '(all)') AS ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |                        (l_returnflag, l_linestatus))
        |ORDER BY rf, ls""".stripMargin)),

    // A-moments: mean/variance/skewness per group derived from DECIMAL
    // power sums (sum x, sum x², sum x³) — order-independent and
    // definition-neutral (Spark's skewness() and DuckDB's use different
    // bias corrections, so the gate computes the population moments from
    // raw sums identically in both engines)
    Gate("q_a_moments", (s, dir) => {
      val x = col("l_quantity")
      val n = count(x).cast("double")
      val s1 = sum(x.cast("decimal(38,6)")).cast("double")
      val s2 = sum((x * x).cast("decimal(38,6)")).cast("double")
      val s3 = sum((x * x * x).cast("decimal(38,6)")).cast("double")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(n.as("__n"), s1.as("__s1"), s2.as("__s2"), s3.as("__s3"))
        .select(col("l_returnflag"),
          round(col("__s1") / col("__n"), 6).as("mean"),
          round(col("__s2") / col("__n") -
            (col("__s1") / col("__n")) * (col("__s1") / col("__n")), 6)
            .as("variance"),
          round((col("__s3") / col("__n") -
              lit(3) * (col("__s1") / col("__n")) * (col("__s2") / col("__n")) +
              lit(2) * pow(col("__s1") / col("__n"), 3)) /
            pow(col("__s2") / col("__n") -
              (col("__s1") / col("__n")) * (col("__s1") / col("__n")), 1.5), 6)
            .as("skewness"))
        .orderBy(col("l_returnflag"))
    },
      // moments: identical power-sum formulation (population moments)
      Sql(() => """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(count(l_quantity) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s3
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  ROUND(s1 / n, 6) AS mean,
        |  ROUND(s2 / n - (s1 / n) * (s1 / n), 6) AS variance,
        |  ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * POW(s1 / n, 3))
        |        / POW(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness
        |FROM s ORDER BY l_returnflag""".stripMargin)),

    // A-median: exact interpolated percentiles per group — Spark's exact
    // `percentile` aggregate vs DuckDB's quantile_cont (same linear-
    // interpolation definition)
    Gate("q_a_group_median", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("med_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"))
        .orderBy(col("l_returnflag")),
      // group median: quantile_cont == Spark's exact percentile (linear
      // interpolation); ROUND(,6) absorbs the interpolation arithmetic
      Sql(() => """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A-hll: HLL sketch columns — build per-group distinct sketches,
    // UNION them later (hll_union_agg) instead of re-scanning: the
    // store-sketches/merge-anywhere pattern incremental 100 TB distinct
    // counts need. Estimates are exact at these cardinalities (HLL runs
    // in sparse/coupon mode far below its promotion threshold), so the
    // oracle is plain COUNT(DISTINCT).
    Gate("q_a_hll", (s, dir) => {
      val perSource = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(hll_sketch_agg(col("lang")).as("sk"))
      perSource
        .select(col("source"),
          hll_sketch_estimate(col("sk")).cast("bigint").as("n_langs"))
        .unionByName(perSource
          .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
            .cast("bigint").as("n_langs"))
          .select(lit("~all").as("source"), col("n_langs")))
        .orderBy(col("source"))
    },
      // HLL: exact at these cardinalities (sparse mode) → COUNT(DISTINCT);
      // '~all' sorts after every srcN name in both engines
      Sql(() => """SELECT source, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT '~all', CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |ORDER BY source""".stripMargin)),

    // A-kll: KLL quantile sketches through Spark's built-in kll_* functions
    // (DataSketches KllDoublesSketch) — the quantile member of the sketch
    // family (HLL distinct, CMS point-freq, MG top-k, Bloom membership):
    // store one ~KB sketch per group, merge for any wider scope, never
    // re-read rows. Exact while a sketch holds n <= k items: this slice
    // keeps every group and the merged union under k=1024 at the oracled
    // SFs, and inclusive-rank quantiles are then ceil(p*n)-th order
    // statistics — which is what the oracle computes; dyadic p keeps the
    // rank arithmetic float-exact in both engines. At sf0.1 the merged
    // '~all' union (n=2,326) is in estimation mode, whose compaction
    // offset is random, so its quantiles vary run to run there — that SF
    // is only timed. kll_sketch_get_quantile_double throws on an empty
    // sketch, so quantiles are guarded by n > 0 (an empty scope reads
    // null quantiles and n = 0); k outside [8, 65535] fails at analysis.
    Gate("q_a_kll", (s, dir) => {
      val slice = t(s, dir, "events")
        .where(col("event_id") % 43 === 0 && col("value").isNotNull)
      val perType = slice.groupBy(col("event_type"))
        .agg(kll_sketch_agg_double(col("value"), 1024).as("sk"))
      def quantile(p: Double) =
        when(kll_sketch_get_n_double(col("sk")) > 0,
          kll_sketch_get_quantile_double(col("sk"), lit(p)))
      def qs(df: DataFrame): DataFrame = df.select(col("scope"),
        kll_sketch_get_n_double(col("sk")).as("n"),
        quantile(0.25).as("p25"),
        quantile(0.5).as("p50"),
        quantile(0.75).as("p75"))
      qs(perType.select(col("event_type").as("scope"), col("sk")))
        .unionByName(qs(perType
          .agg(kll_merge_agg_double(col("sk"), 1024).as("sk"))
          .select(lit("~all").as("scope"), col("sk"))))
        .orderBy(col("scope"))
    },
      // KLL exact mode: inclusive-rank quantile = ceil(p*n)-th order stat
      Sql(() => """WITH s AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 43 = 0 AND value IS NOT NULL),
        |r AS (
        |  SELECT event_type AS scope, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM s),
        |g AS (
        |  SELECT '~all' AS scope, value,
        |    row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n
        |  FROM s),
        |u AS (SELECT * FROM r UNION ALL SELECT * FROM g)
        |SELECT scope, CAST(max(n) AS BIGINT) AS n,
        |  min(value) FILTER (WHERE rn >= ceil(0.25 * n)) AS p25,
        |  min(value) FILTER (WHERE rn >= ceil(0.5 * n)) AS p50,
        |  min(value) FILTER (WHERE rn >= ceil(0.75 * n)) AS p75
        |FROM u GROUP BY scope ORDER BY scope""".stripMargin)),

    // A-overlap: audience overlap from mergeable HLL sketches — distinct
    // clickers ∩ viewers via inclusion-exclusion (|A|+|B|−|A∪B|), the
    // store-sketches/merge-anywhere pattern: per-segment sketches build
    // once, ANY pairwise overlap derives by union — no re-scan, no
    // distinct-pair Expand. COUNT(DISTINCT) oracles it because the
    // sketch stays in exact coupon (LIST/SET) mode below ~2^(lgK−3)
    // distinct values: lgConfigK=18 pins that threshold at ~32k, 20×
    // the largest verified SF's 1.5k distinct users (the default lgK=12
    // leaves coupon mode near 3k — one fixture bump from divergence).
    Gate("q_a_hll_overlap", (s, dir) => {
      val sk = t(s, dir, "events")
        .where(col("event_type").isin("click", "view") &&
          col("user_id").isNotNull)
        .groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), 18).as("sk"))
        .select(col("event_type"),
          hll_sketch_estimate(col("sk")).cast("bigint").as("n"), col("sk"))
      sk.agg(
          max(when(col("event_type") === "click", col("n"))).as("n_click"),
          max(when(col("event_type") === "view", col("n"))).as("n_view"),
          hll_sketch_estimate(hll_union_agg(col("sk")))
            .cast("bigint").as("n_union"))
        .withColumn("n_overlap",
          col("n_click") + col("n_view") - col("n_union"))
    },
      // HLL overlap: sketches are exact at the fixture's user cardinality,
      // so inclusion-exclusion over exact distinct counts reproduces it
      Sql(() => """WITH a AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_click
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
        |b AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_view
        |  FROM events WHERE event_type = 'view' AND user_id IS NOT NULL),
        |u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_union
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL)
        |SELECT n_click, n_view, n_union,
        |  n_click + n_view - n_union AS n_overlap
        |FROM a, b, u""".stripMargin)),

    // A-cms: Count-Min sketch point estimates — bounded-memory "how
    // frequent is THIS item" (the dual of the Misra-Gries top-k), exactly
    // mergeable counter arrays. The 5-value event_type domain is
    // collision-free in the 1024-wide sketch (CountMinSpec asserts it),
    // so estimates are EXACT and the oracle is a plain filtered GROUP BY.
    Gate("q_a_cms", (s, dir) =>
      t(s, dir, "events")
        .agg(graft.functions.CountMin.estimates(
          col("event_type"), Seq("click", "purchase", "view"), 1024, 4).as("__e"))
        .select(explode(col("__e")).as("e"))
        .select(col("e.item").as("item"), col("e.est").as("est"))
        .orderBy(col("item")),
      // count-min: exact on the collision-free event_type domain, so the
      // oracle is the true count of each probe item
      Sql(() => """SELECT event_type AS item, CAST(count(*) AS BIGINT) AS est
        |FROM events WHERE event_type IN ('click', 'purchase', 'view')
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A-freq: heavy hitters via the Misra-Gries bounded-memory sketch —
    // at most `capacity` counters per partial buffer regardless of the
    // item domain, mergeable across partitions. capacity=32 > the
    // distinct event_type count, so the sketch is provably exact here and
    // the oracle is plain GROUP BY/ORDER BY/LIMIT.
    Gate("q_a_freq_items", (s, dir) =>
      t(s, dir, "events")
        .agg(graft.functions.FreqItems.freqItems(col("event_type"),
          capacity = 32, k = 5).as("top"))
        .select(posexplode(col("top")).as(Seq("pos", "hit")))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("hit.item").as("item"), col("hit.est").as("n"))
        .orderBy(col("rank")),
      // freq items: capacity > distinct(event_type), so the Misra-Gries
      // sketch is exact and the oracle is the plain exact top-k
      Sql(() => """SELECT CAST(rn AS INTEGER) AS rank, item, n FROM (
        |  SELECT event_type AS item, CAST(count(*) AS BIGINT) AS n,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type) AS rn
        |  FROM events GROUP BY 1)
        |WHERE rn <= 5 ORDER BY rank""".stripMargin)),

    // A-kmv: per-slice distinct-cardinality via the KMV bounded sketch
    // (k smallest distinct md5-60bit hashes; ≤k longs per group per
    // partition reach the exchange — the 100 TB shape where the customer
    // domain is billions and exact distinct IS the shuffle). k=48 <
    // per-priority distinct customers at every SF, so the estimator
    // branch (not the exact-below-k branch) is what hashes. The sketch is
    // a pure function of the distinct hash set, and both engines apply
    // the same IEEE long→double cast to h (rounds identically above
    // 2^53) and the same * / ops → DuckDB recomputes the k smallest per
    // slice with a window and lands bit-identical. The exact count rides
    // along as the accuracy context.
    Gate("q_a_kmv_slices", (s, dir) => {
      val sk = graft.operators.SetSketch
      val k = 48
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(sk.kmvSketch(sk.hash60(col("o_custkey")), k).as("__sk"),
          countDistinct(col("o_custkey")).cast("bigint").as("exact_distinct"))
        .select(col("priority"),
          size(col("__sk")).cast("int").as("n_sketch"),
          // guarded: ANSI element_at throws past the end on a below-k group
          when(size(col("__sk")) === k, element_at(col("__sk"), k))
            .as("kth_hash"),
          sk.estimateDistinct(col("__sk"), k).as("est_distinct"),
          col("exact_distinct"))
        .orderBy(col("priority"))
    },
      // KMV slices: the k smallest distinct md5-60bit hashes per priority
      // recomputed with a window; 47·2^60 is an exact double and the
      // long→double cast of h rounds IDENTICALLY in both engines (IEEE
      // round-to-nearest), so the estimate hashes bit-identical with NO
      // rounding
      Sql(() => """WITH h AS (
        |  SELECT DISTINCT o_orderpriority AS priority,
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders),
        |r AS (SELECT priority, h,
        |        row_number() OVER (PARTITION BY priority ORDER BY h) AS rn
        |      FROM h),
        |sk AS (SELECT priority, CAST(count(*) AS INTEGER) AS n_sketch,
        |              CAST(max(h) AS BIGINT) AS kth0
        |       FROM r WHERE rn <= 48 GROUP BY priority),
        |ex AS (SELECT o_orderpriority AS priority,
        |              CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        |       FROM orders GROUP BY 1)
        |SELECT sk.priority, sk.n_sketch,
        |       CASE WHEN sk.n_sketch = 48 THEN sk.kth0 END AS kth_hash,
        |       CASE WHEN sk.n_sketch < 48 THEN CAST(sk.n_sketch AS DOUBLE)
        |            ELSE 47.0 * 1152921504606846976.0 / CAST(sk.kth0 AS DOUBLE)
        |       END AS est_distinct,
        |       ex.exact_distinct
        |FROM sk JOIN ex USING (priority) ORDER BY priority""".stripMargin)),

    // A-kmv-overlap: the question HLL can't answer — how many customers
    // do two slices SHARE? Union of KMV sketches is exactly the sketch
    // of the union (closure), and shared membership inside the union
    // sketch estimates Jaccard, hence |A∩B|. Everything after the two
    // 1-row aggregates is map-side array math over k-element arrays; the
    // exact intersection (one distinct-key semi-join at fixture scale)
    // rides along as the accuracy context.
    Gate("q_a_kmv_overlap", (s, dir) => {
      val sk = graft.operators.SetSketch
      val k = 48
      val o = t(s, dir, "orders")
      def side(p: String, out: String) =
        o.filter(col("o_orderpriority") === p)
          .agg(sk.kmvSketch(sk.hash60(col("o_custkey")), k).as(out))
      def keys(p: String) =
        o.filter(col("o_orderpriority") === p).select(col("o_custkey")).distinct()
      val exact = keys("1-URGENT").join(keys("2-HIGH"), "o_custkey")
        .agg(count(lit(1)).cast("bigint").as("exact_intersect"))
      side("1-URGENT", "ska").crossJoin(side("2-HIGH", "skb")).crossJoin(exact)
        .select(
          sk.estimateDistinct(col("ska"), k).as("est_a"),
          sk.estimateDistinct(col("skb"), k).as("est_b"),
          sk.estimateDistinct(sk.unionSketch(col("ska"), col("skb"), k), k)
            .as("est_union"),
          sk.jaccardEstimate(col("ska"), col("skb"), k).as("jaccard_est"),
          sk.intersectionEstimate(col("ska"), col("skb"), k)
            .as("est_intersect"),
          col("exact_intersect"))
    },
      // KMV overlap: union sketch = k smallest of the two k-lists (exact
      // closure), Jaccard = shared membership inside it, intersection =
      // J · D(union); same integer operands, same IEEE ops, no rounding
      Sql(() => """WITH ha AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |hb AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders WHERE o_orderpriority = '2-HIGH'),
        |ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        |                      FROM ha) WHERE rn <= 48),
        |kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        |                      FROM hb) WHERE rn <= 48),
        |ku AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        |                      FROM (SELECT h FROM ka UNION SELECT h FROM kb))
        |       WHERE rn <= 48),
        |s AS (SELECT
        |  (SELECT count(*) FROM ka) AS na, (SELECT max(h) FROM ka) AS kka,
        |  (SELECT count(*) FROM kb) AS nb, (SELECT max(h) FROM kb) AS kkb,
        |  (SELECT count(*) FROM ku) AS nu, (SELECT max(h) FROM ku) AS kku,
        |  (SELECT count(*) FROM ku
        |   WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)) AS shared),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersect FROM
        |  (SELECT DISTINCT o_custkey FROM orders
        |   WHERE o_orderpriority = '1-URGENT') a
        |  JOIN (SELECT DISTINCT o_custkey FROM orders
        |        WHERE o_orderpriority = '2-HIGH') b USING (o_custkey))
        |SELECT
        |  CASE WHEN na < 48 THEN CAST(na AS DOUBLE)
        |       ELSE 47.0 * 1152921504606846976.0 / CAST(kka AS DOUBLE) END AS est_a,
        |  CASE WHEN nb < 48 THEN CAST(nb AS DOUBLE)
        |       ELSE 47.0 * 1152921504606846976.0 / CAST(kkb AS DOUBLE) END AS est_b,
        |  CASE WHEN nu < 48 THEN CAST(nu AS DOUBLE)
        |       ELSE 47.0 * 1152921504606846976.0 / CAST(kku AS DOUBLE) END AS est_union,
        |  CAST(shared AS DOUBLE) / CAST(nu AS DOUBLE) AS jaccard_est,
        |  (CAST(shared AS DOUBLE) / CAST(nu AS DOUBLE)) *
        |    (CASE WHEN nu < 48 THEN CAST(nu AS DOUBLE)
        |          ELSE 47.0 * 1152921504606846976.0 / CAST(kku AS DOUBLE) END)
        |    AS est_intersect,
        |  exact_intersect
        |FROM s, ex""".stripMargin)),

    // A-dp: Laplace-mechanism noisy count release — per-group
    // count + Lap(1/ε) with SEEDED noise (md5-52bit uniform → inverse
    // CDF), so reruns publish the same number and the oracle recomputes
    // it bit-for-bit (u and its affine terms are exact binary fractions;
    // only ln is libm and the round-6 output absorbs the ulp — the
    // haversine discipline). One keyed aggregate + map-side scalar math.
    Gate("q_a_dp_counts", (s, dir) =>
      graft.operators.Privacy.dpNoisyCounts(
          t(s, dir, "orders"), "o_orderpriority", eps = 0.5, salt = "dp-r8")
        .orderBy(col("o_orderpriority")),
      // DP noisy counts: identical seeded uniform (md5-13-hex / 2^52),
      // identical affine terms (exact binary fractions), ln ulp absorbed
      // by ROUND(,6); b = sensitivity/eps = 2.0 inlined
      Sql(() => """WITH g AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    ('0x' || substr(md5(
        |      COALESCE(o_orderpriority || ':dp-r8', 'dp-r8')), 1, 13))::BIGINT
        |      / 4503599627370496.0 AS u
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority,
        |  ROUND(n + (-2.0) * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END) *
        |    ln(GREATEST(1.0 - 2.0 * abs(u - 0.5), 2.220446049250313e-16)), 6)
        |    AS n_noisy,
        |  CAST(0.5 AS DOUBLE) AS epsilon
        |FROM g ORDER BY o_orderpriority""".stripMargin)),

    // A-dp-sums: Laplace noisy sum/mean release with CLAMPED sensitivity
    // — values clamp to [0, 300000] (the clamp DEFINES the sum's
    // sensitivity; without it the ε claim is false on one outlier), ε
    // split across the sum and count draws (independent salts), mean =
    // post-processing of the two ROUND-6 releases (shared-double IEEE
    // division → exact parity). One keyed aggregate + map-side noise.
    Gate("q_a_dp_sums", (s, dir) =>
      graft.operators.Privacy.dpNoisySums(
          t(s, dir, "orders"), "o_orderpriority", "o_totalprice",
          lo = 0.0, hi = 300000.0, eps = 1.0, salt = "dp9")
        .orderBy(col("o_orderpriority")),
      // DP noisy sums/means: identical clamp (CASE, not LEAST — decimal
      // LEAST degrades in DuckDB), round-6 decimal sum, identical seeded
      // uniforms per (group, statistic) salt, b_sum = 300000/(1/2) =
      // 600000, b_cnt = 2; mean divides the two ROUND-6 releases (shared
      // doubles) and rounds at the edge
      Sql(() => """WITH c AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN 0.0
        |         WHEN CAST(o_totalprice AS DOUBLE) > 300000.0 THEN 300000.0
        |         ELSE CAST(o_totalprice AS DOUBLE) END AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |g AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(v, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s,
        |    ('0x' || substr(md5(
        |      COALESCE(o_orderpriority || ':dp9:n', 'dp9:n')), 1, 13))::BIGINT
        |      / 4503599627370496.0 AS un,
        |    ('0x' || substr(md5(
        |      COALESCE(o_orderpriority || ':dp9:s', 'dp9:s')), 1, 13))::BIGINT
        |      / 4503599627370496.0 AS us
        |  FROM c GROUP BY 1),
        |rel AS (
        |  SELECT o_orderpriority, n,
        |    ROUND(n + (-2.0) * (CASE WHEN un >= 0.5 THEN 1.0 ELSE -1.0 END) *
        |      ln(GREATEST(1.0 - 2.0 * abs(un - 0.5), 2.220446049250313e-16)),
        |      6) AS n_noisy,
        |    ROUND(s + (-600000.0) * (CASE WHEN us >= 0.5 THEN 1.0 ELSE -1.0 END) *
        |      ln(GREATEST(1.0 - 2.0 * abs(us - 0.5), 2.220446049250313e-16)),
        |      6) AS sum_noisy
        |  FROM g)
        |SELECT o_orderpriority, n, n_noisy, sum_noisy,
        |  ROUND(sum_noisy /
        |    (CASE WHEN n_noisy < 1.0 THEN 1.0 ELSE n_noisy END), 6)
        |    AS mean_noisy,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM rel ORDER BY o_orderpriority""".stripMargin)),

    // A-dp-user: USER-level DP sums — per-user contribution bounding
    // BEFORE the keyed aggregate (first 3 orders per customer by
    // orderkey — the deterministic cap is what DEFINES the release's
    // sensitivity: Δsum = 3·300000, Δcount = 3; without it the ε claim
    // is false for any heavy customer). One per-user window + the same
    // single keyed aggregate and seeded Laplace release as q_a_dp_sums.
    Gate("q_a_dp_user", (s, dir) =>
      graft.operators.Privacy.dpUserSums(
          t(s, dir, "orders"), userCol = "o_custkey", orderCol = "o_orderkey",
          groupCol = "o_orderpriority", valueCol = "o_totalprice",
          maxPerUser = 3, lo = 0.0, hi = 300000.0, eps = 1.0, salt = "dpu10")
        .orderBy(col("o_orderpriority")),
      // user-level DP sums: identical per-user cap (row_number by orderkey,
      // keep 3), then the dp_sums release with sensitivity ×3
      // (b_sum = 3·300000/(1/2) = 1800000, b_cnt = 3/(1/2) = 6)
      Sql(() => """WITH capped AS (
        |  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS vv FROM (
        |    SELECT o_orderpriority, o_totalprice,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
        |        AS urn
        |    FROM orders WHERE CAST(o_totalprice AS DOUBLE) IS NOT NULL)
        |  WHERE urn <= 3),
        |c AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN vv < 0.0 THEN 0.0
        |         WHEN vv > 300000.0 THEN 300000.0
        |         ELSE vv END AS v
        |  FROM capped),
        |g AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(v, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s,
        |    ('0x' || substr(md5(
        |      COALESCE(o_orderpriority || ':dpu10:n', 'dpu10:n')), 1, 13))::BIGINT
        |      / 4503599627370496.0 AS un,
        |    ('0x' || substr(md5(
        |      COALESCE(o_orderpriority || ':dpu10:s', 'dpu10:s')), 1, 13))::BIGINT
        |      / 4503599627370496.0 AS us
        |  FROM c GROUP BY 1),
        |rel AS (
        |  SELECT o_orderpriority, n,
        |    ROUND(n + (-6.0) * (CASE WHEN un >= 0.5 THEN 1.0 ELSE -1.0 END) *
        |      ln(GREATEST(1.0 - 2.0 * abs(un - 0.5), 2.220446049250313e-16)),
        |      6) AS n_noisy,
        |    ROUND(s + (-1800000.0) * (CASE WHEN us >= 0.5 THEN 1.0 ELSE -1.0 END) *
        |      ln(GREATEST(1.0 - 2.0 * abs(us - 0.5), 2.220446049250313e-16)),
        |      6) AS sum_noisy
        |  FROM g)
        |SELECT o_orderpriority, n, n_noisy, sum_noisy,
        |  ROUND(sum_noisy /
        |    (CASE WHEN n_noisy < 1.0 THEN 1.0 ELSE n_noisy END), 6)
        |    AS mean_noisy,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM rel ORDER BY o_orderpriority""".stripMargin)),

    // A-dp-quantile: exponential-mechanism noisy MEDIAN release — the
    // rank-space mechanism (Laplace noise can't release quantiles; rank
    // sensitivity is 1). 64-cell domain, utility −|below − q·n|,
    // seeded Gumbel-max argmax (round-6 scores BEFORE the argmax — the
    // msprt discrete-output discipline), release = cell midpoint. One
    // (group, bin) keyed aggregate; panel math over group × 64 cells.
    Gate("q_a_dp_quantile", (s, dir) =>
      graft.operators.Privacy.dpNoisyQuantile(
          t(s, dir, "orders"), "o_orderpriority", "o_totalprice",
          q = 0.5, lo = 0.0, hi = 600000.0, bins = 64, eps = 1.0,
          salt = "dpq9")
        .orderBy(col("o_orderpriority")),
      // DP noisy quantile: identical clamp + 9375-wide binning, identical
      // exact rank utilities, identical seeded Gumbel (double-ln ulp
      // absorbed by the ROUND-6 score BEFORE the argmax), ties to the
      // lowest bin; release midpoints are exact multiples of 9375/2
      Sql(() => """WITH c AS (
        |  SELECT o_orderpriority AS g,
        |    LEAST(63, CAST(floor((CASE
        |      WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN 0.0
        |      WHEN CAST(o_totalprice AS DOUBLE) > 600000.0 THEN 600000.0
        |      ELSE CAST(o_totalprice AS DOUBLE) END) / 9375.0) AS BIGINT)) AS b
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |cells AS (SELECT g, b, CAST(count(*) AS BIGINT) AS cnt
        |          FROM c GROUP BY g, b),
        |tot AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM cells GROUP BY g),
        |ladder AS (
        |  SELECT t.g, t.n, CAST(r.range AS BIGINT) AS b
        |  FROM tot t CROSS JOIN range(0, 64) r),
        |panel AS (
        |  SELECT l.g, l.n, l.b, COALESCE(cells.cnt, 0) AS cnt
        |  FROM ladder l LEFT JOIN cells ON cells.g = l.g AND cells.b = l.b),
        |ranked AS (
        |  SELECT g, n, b,
        |    COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM panel),
        |sc AS (
        |  SELECT g, n, b,
        |    ROUND(1.0 * (-abs(CAST(below AS DOUBLE) - 0.5 * CAST(n AS DOUBLE)))
        |        / 2.0
        |      + (-ln(-ln(GREATEST(
        |          ('0x' || substr(md5(COALESCE(g || '|', '')
        |            || CAST(b AS VARCHAR)
        |            || ':dpq9'), 1, 13))::BIGINT / 4503599627370496.0,
        |          2.220446049250313e-16)))), 6) AS score
        |  FROM ranked)
        |SELECT g AS o_orderpriority, n, CAST(0.5 AS DOUBLE) AS q,
        |  b AS bin_released,
        |  ROUND((b + 0.5) * 9375.0, 6) AS value_released,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY g
        |        ORDER BY score DESC, b) AS rn FROM sc)
        |WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin)),

    // A-skyline: the (quantity, price) Pareto frontier of lineitem —
    // three-stage distributed reduction (per-x min, per-bucket scan,
    // broadcast cross-bucket filter); the oracle is the quadratic
    // dominance NOT EXISTS
    Gate("q_a_skyline", (s, dir) =>
      graft.operators.Skyline.skyline2d(
          t(s, dir, "lineitem"), "l_quantity", "l_extendedprice",
          bucketWidth = 5.0)
        .orderBy(col("l_quantity")),
      // skyline: the quadratic dominance NOT EXISTS (exact by definition)
      Sql(() => graft.operators.Skyline.oracleSql(
      "SELECT l_quantity, l_extendedprice FROM lineitem",
      "l_quantity", "l_extendedprice"))),

    // A-unpivot: wide-to-long reshape of the per-flag measure panel —
    // the relational melt (Spark's native unpivot; the pivot gate's
    // inverse), decimal-exact sums cast to double BEFORE the reshape
    Gate("q_a_unpivot", (s, dir) => {
      val wide = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast("decimal(38,6)")).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(38,6)")).cast("double")
            .as("sum_price"),
          sum(round(col("l_extendedprice") * col("l_discount"), 6)
            .cast("decimal(38,6)")).cast("double").as("sum_disc"))
      wide.unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "measure", "value")
        .orderBy(col("l_returnflag"), col("measure"))
    },
      // unpivot: the UNION ALL melt of the same decimal-exact wide panel
      Sql(() => """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * l_discount, 6)
        |      AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_price', sum_price FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
        |ORDER BY l_returnflag, measure""".stripMargin)),

    // A-trimmed: 10% trimmed mean per group — exact per-group
    // percentile bounds joined back (AQE broadcasts the group panel),
    // decimal-exact mean of the surviving band
    Gate("q_a_trimmed", (s, dir) => {
      val li = tw(s, dir, "lineitem")
      val bounds = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.1)").as("__lo"),
          expr("percentile(l_extendedprice, 0.9)").as("__hi"))
      li.join(bounds, "l_returnflag")
        .where(col("l_extendedprice") >= col("__lo") &&
          col("l_extendedprice") <= col("__hi"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"),
          round(sum(col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double") / count(lit(1)), 6).as("trimmed_mean"))
        .orderBy(col("l_returnflag"))
    },
      // trimmed mean: quantile_cont bounds + identical band filter
      Sql(() => """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.1) AS lo,
        |    quantile_cont(l_extendedprice, 0.9) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag AS l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
        |  ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |        / count(*), 6) AS trimmed_mean
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
        |WHERE l.l_extendedprice >= lo AND l.l_extendedprice <= hi
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)),

    // A-abc: ABC revenue-concentration classes per part — descending
    // contribution ranking via the distributed prefix sum (exact
    // decimal cents as integer weights), inclusive-share cuts
    Gate("q_a_abc", (s, dir) =>
      graft.operators.GlobalOrder.abcClassification(
          t(s, dir, "lineitem"), "l_partkey", "l_extendedprice")
        .orderBy(col("l_partkey")),
      // ABC: the window running share IS safe in the oracle; the engine
      // side ranks through the distributed prefix sum instead
      Sql(() => """WITH k AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |c AS (
        |  SELECT l_partkey, cents,
        |    ROUND(CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS DOUBLE) / CAST(SUM(cents) OVER () AS DOUBLE), 6)
        |      AS cum_share
        |  FROM k)
        |SELECT l_partkey, cents, cum_share,
        |  CASE WHEN cum_share <= 0.8 THEN 'A'
        |       WHEN cum_share <= 0.95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c ORDER BY l_partkey""".stripMargin)),

    // A-seqgaps: sequence-contiguity audit — per-order line numbers
    // with planted holes (line 2 of every 5th order dropped); one
    // grouped min/max/distinct aggregate, nothing per-gap
    Gate("q_a_seqgaps", (s, dir) =>
      graft.operators.Expectations.sequenceGaps(
          t(s, dir, "lineitem")
            .where(!(col("l_linenumber") === 2 && col("l_orderkey") % 5 === 0)),
          "l_orderkey", "l_linenumber")
        .orderBy(col("l_orderkey")),
      // sequence gaps: the same planted-hole filter + grouped arithmetic
      Sql(() => """WITH f AS (
        |  SELECT l_orderkey, l_linenumber FROM lineitem
        |  WHERE NOT (l_linenumber = 2 AND l_orderkey % 5 = 0)),
        |g AS (
        |  SELECT l_orderkey, min(l_linenumber) AS seq_min,
        |    max(l_linenumber) AS seq_max,
        |    CAST(count(DISTINCT l_linenumber) AS BIGINT) AS n_present
        |  FROM f GROUP BY 1)
        |SELECT l_orderkey, seq_min, seq_max, n_present,
        |  CAST(seq_max - seq_min + 1 - n_present AS BIGINT) AS n_missing
        |FROM g WHERE seq_max - seq_min + 1 - n_present > 0
        |ORDER BY l_orderkey""".stripMargin))
  )
}
