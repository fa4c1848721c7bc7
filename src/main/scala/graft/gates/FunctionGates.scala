package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import graft.operators.Calibration
import Shared._

/** Scalar-function battery (SURVEY §2.8) and the UDF surface
  * (SURVEY §2.9). */
private[graft] object FunctionGates {
  // the isotonic fit q_f_isotonic and q_f_calibrate share, once per sfDir
  private val isoFit = new PerDir[DataFrame, Calibration.IsoFit](
    (lineitem, _) => Calibration.fitDiscountIsotonic(lineitem))

  val gates: Seq[Gate] = Seq(
    // F1 concat_ws, F2 regexp_replace, F3 substring, F4 cast, F5 when,
    // F6 sin (rounded), F7 arithmetic incl. integer div/mod on epoch nanos,
    // F8 lit, F9 isin, F11 alias, F12 comparisons — one per-row battery
    Gate("q_f_expr_battery", (s, dir) =>
      tw(s, dir, "events").select(
        col("event_id"),
        concat_ws("_", col("user_id"), col("event_type")).as("uid"),
        regexp_replace(col("props"), "[^0-9]", "").as("digits"),
        substring(col("event_type"), 1, 2).as("et2"),
        col("value").cast("int").as("val_int"),
        when(col("value").isNull, "null")
          .when(col("value") < 50, "low")
          .when(col("value") < 150, "mid")
          .otherwise("high").as("bucket"),
        expr("CAST((ts DIV 60000000000) % 1440 AS INT)").as("minute_of_day"),
        round(sin(lit(2 * math.Pi) *
          expr("CAST((ts DIV 60000000000) % 1440 AS INT)") / lit(1440.0)), 6)
          .as("minute_sin"),
        (col("value") % 100.0).as("val_mod"),
        lit(1).as("one"),
        col("event_type").isin("signup", "error").as("is_sig"))
        .orderBy(col("event_id")),
      Sql(() => """SELECT event_id,
        |       CONCAT_WS('_', user_id, event_type) AS uid,
        |       REGEXP_REPLACE(props, '[^0-9]', '', 'g') AS digits,
        |       SUBSTRING(event_type, 1, 2) AS et2,
        |       CAST(TRUNC(value) AS INTEGER) AS val_int,
        |       CASE WHEN value IS NULL THEN 'null'
        |            WHEN value < 50 THEN 'low'
        |            WHEN value < 150 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        |       CAST((epoch_ns(ts) // 60000000000) % 1440 AS INTEGER) AS minute_of_day,
        |       ROUND(SIN(2 * PI() * ((epoch_ns(ts) // 60000000000) % 1440) / 1440.0), 6) AS minute_sin,
        |       value % 100.0 AS val_mod,
        |       1 AS one,
        |       event_type IN ('signup', 'error') AS is_sig
        |FROM events ORDER BY event_id""".stripMargin)),

    // F1 composite key on its own (dataset_utils.py:131-134)
    Gate("q_f1_unique_id", (s, dir) =>
      tw(s, dir, "orders")
        .select(col("o_orderkey"),
          concat_ws("_", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
            .as("unique_id"))
        .orderBy(col("o_orderkey")),
      Sql(() => """SELECT o_orderkey,
        |       CONCAT_WS('_', o_orderkey, o_custkey, o_orderstatus) AS unique_id
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // F-json: semi-structured extraction from the props JSON column
    // (get_json_object path expression + typed cast + aggregation)
    Gate("q_f_json", (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
      Sql(() => """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |       MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // F-array: explode/collect round trip — per-user sorted distinct event
    // types joined to a string (string output: array renderings differ
    // between engines' dataframe bridges)
    Gate("q_f_array_agg", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(concat_ws(",", sort_array(collect_set(col("event_type"))))
          .as("types"))
        .orderBy(col("user_id")),
      Sql(() => """SELECT user_id,
        |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // F-date: year/month extraction from a timestamp column
    Gate("q_f_date_parts", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).as("y"), month(col("l_shipdate")).as("m"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("y"), col("m")),
      Sql(() => """SELECT CAST(YEAR(l_shipdate) AS INTEGER) AS y,
        |       CAST(MONTH(l_shipdate) AS INTEGER) AS m,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // U1: the reference's Python time-of-day UDF as a registered Scala UDF
    // (custom_features.py:7-36); oracle is the equivalent CASE expression —
    // proves UDF output matches the native path
    Gate("q_u1_udf_tod", (s, dir) => {
      graft.operators.Features.registerTimeOfDayUdf(s)
      tw(s, dir, "events")
        .withColumn("h", expr("CAST((ts DIV 3600000000000) % 24 AS INT)"))
        .withColumn("tod", call_udf("categorize_time", col("h")))
        .groupBy(col("tod")).agg(count(lit(1)).as("n"))
        .orderBy(col("tod"))
    },
      Sql(() => """SELECT CASE WHEN h BETWEEN 5 AND 11 THEN 'morning'
        |            WHEN h BETWEEN 12 AND 18 THEN 'afternoon'
        |            WHEN h BETWEEN 19 AND 23 THEN 'evening'
        |            WHEN h BETWEEN 0 AND 4 THEN 'night'
        |            ELSE 'unknown' END AS tod,
        |       COUNT(*) AS n
        |FROM (SELECT CAST((epoch_ns(ts) // 3600000000000) % 24 AS INTEGER) AS h FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // F-resample: time-series regularization — per-user daily grid between
    // first and last observation, observed buckets carry the exact mean,
    // gaps forward-fill from the latest preceding bucket (key-partitioned
    // window; grid generation distributes with the key)
    Gate("q_f_resample", (s, dir) =>
      graft.operators.TimeSeries.resampleFill(
          t(s, dir, "events"), "user_id", "ts", "value",
          bucketWidth = 86400L * 1000 * 1000 * 1000)
        .orderBy(col("user_id"), col("bucket")),
      // resample: same grid/fill formulation — integer epoch-nanos floor
      // division for buckets, decimal-exact bucket means, LAST_VALUE IGNORE
      // NULLS running fill
      Sql(() => """WITH obs AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS bucket,
        |         CAST(count(value) AS BIGINT) AS n_obs,
        |         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |           / count(value) AS v_obs
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket
        |  FROM (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        |        FROM obs GROUP BY 1)),
        |j AS (
        |  SELECT s.user_id, s.bucket,
        |         COALESCE(o.n_obs, 0) AS n_obs, o.v_obs
        |  FROM spine s LEFT JOIN obs o
        |    ON s.user_id = o.user_id AND s.bucket = o.bucket)
        |SELECT user_id, bucket, n_obs, v_obs,
        |  LAST_VALUE(v_obs IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM j ORDER BY user_id, bucket""".stripMargin)),

    // F-hof: higher-order array functions — filter/exists/transform+
    // aggregate over the token array, all integer-exact
    Gate("q_f_hof", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          split(trim(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_toks"),
          size(filter(col("toks"),
            tok => length(tok) > 4)).as("n_long"),
          array_contains(col("toks"), "the").as("has_the"),
          expr("aggregate(transform(toks, x -> length(x)), 0, (a, x) -> a + x)")
            .as("sum_tok_chars"))
        .orderBy(col("doc_id")),
      // HOF battery: list_filter / list_contains / list_transform+list_sum
      Sql(() => """SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_toks,
        |  CAST(len(list_filter(toks, x -> length(x) > 4)) AS INTEGER) AS n_long,
        |  list_contains(toks, 'the') AS has_the,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS INTEGER) AS sum_tok_chars
        |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // F-decay: exponentially time-decayed per-key stats (feature-store
    // freshness) — per-row weight map-side (round-9 exp into DECIMAL
    // sums), ONE grouped aggregate; refreshing to a newer asOf is a
    // constant rescale of the stored sums, the mergeable-state algebra.
    Gate("q_f_decay", (s, dir) =>
      graft.operators.Decay.decayedStats(
          t(s, dir, "events"), "event_type", col("ts"), "value",
          halfLifeDays = 7.0, asOfNs = 1706745600000000000L)
        .orderBy(col("event_type")),
      // decayed stats: identical per-row round-9 weight into DECIMAL sums
      Sql(() => """WITH w AS (
        |  SELECT event_type, value,
        |    ROUND(EXP(LN(0.5) *
        |      (CAST(1706745600000000000 - epoch_ns(ts) AS DOUBLE) / 86400e9)
        |      / 7.0), 9) AS w
        |  FROM events
        |  WHERE ts IS NOT NULL
        |    AND epoch_ns(ts) <= 1706745600000000000)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(ROUND(w * value, 9) AS DECIMAL(38,9)))
        |    AS DOUBLE), 6) AS decayed_sum,
        |  ROUND(CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE), 6)
        |    AS decayed_n
        |FROM w GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // F-target-enc: leave-one-out target encoding — high-cardinality
    // categorical → leakage-safe mean label of the category's OTHER
    // rows; one grouped stats aggregate + AQE-broadcast join back +
    // 1-row global fallback scalar.
    Gate("q_f_target_enc", (s, dir) =>
      graft.operators.TargetEncoding.looEncode(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          "o_custkey", "o_totalprice")
        .select(col("o_orderkey"), col("o_custkey"), col("encoded"))
        .orderBy(col("o_orderkey")),
      // LOO target encoding: identical stats join (null-safe) + global
      // fallback; sums decimal, divisions double
      Sql(() => """WITH stats AS (
        |  SELECT o_custkey AS cat, COUNT(o_totalprice) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT COUNT(o_totalprice) AS gn,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS gs
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  ROUND(CASE
        |    WHEN n - (CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END) > 0
        |    THEN (s - COALESCE(o_totalprice, 0.0)) /
        |         (n - CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END)
        |    ELSE gs / gn END, 6) AS encoded
        |FROM orders JOIN stats ON o_custkey IS NOT DISTINCT FROM cat, g
        |ORDER BY o_orderkey""".stripMargin)),

    // F-scaling: per-group feature-scaling battery — z-score from
    // decimal power sums, min-max, and p05/p95 winsorize, all scaled
    // within the row's own l_returnflag group by the FUSED variant:
    // one stats aggregate + one AQE-broadcast join covers all three
    // (chaining the single ops re-scans the input once per op)
    Gate("q_f_scaling", (s, dir) => {
      val fs = graft.operators.FeatureScaling
      val d = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      fs.scaleAll(d, "l_returnflag", "l_quantity",
          zOut = "z", mmOut = "mm", clipOut = "clipped")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("z"), col("mm"), col("clipped"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // fixture — order by the derived columns too, so any remaining
        // ties are between identical rows
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("z"), col("mm"))
    },
      // feature scaling: identical power-sum z-score, min-max, and
      // quantile_cont winsorize per group
      Sql(() => """WITH st AS (
        |  SELECT l_returnflag,
        |    CAST(count(l_quantity) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2,
        |    MIN(l_quantity) AS lo, MAX(l_quantity) AS hi,
        |    quantile_cont(l_quantity, 0.05) AS plo,
        |    quantile_cont(l_quantity, 0.95) AS phi
        |  FROM lineitem GROUP BY l_returnflag),
        |st2 AS (
        |  SELECT l_returnflag, lo, hi, plo, phi, s1 / n AS mean,
        |    CASE WHEN n > 1 THEN sqrt((s2 - s1 * s1 / n) / (n - 1.0)) END AS sd
        |  FROM st)
        |SELECT l_orderkey, l_linenumber,
        |  ROUND((l_quantity - mean) / (CASE WHEN sd > 0 THEN sd END), 6) AS z,
        |  ROUND(CAST(l_quantity - lo AS DOUBLE) /
        |        (CASE WHEN hi > lo THEN CAST(hi - lo AS DOUBLE) END), 6) AS mm,
        |  ROUND(GREATEST(plo, LEAST(phi, CAST(l_quantity AS DOUBLE))), 6) AS clipped
        |FROM lineitem JOIN st2 USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber, z, mm""".stripMargin)),

    // F-qnorm: quantile normalization of event values across event
    // types — rank window + rank-keyed reference mean + join back
    Gate("q_f_qnorm", (s, dir) =>
      graft.operators.FeatureScaling.quantileNormalize(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "event_type", "value", tieCol = "event_id")
        .select(col("event_id"), col("qnorm"))
        .orderBy(col("event_id")),
      // quantile normalization: identical rank window + rank-mean join
      Sql(() => """WITH ranked AS (
        |  SELECT event_id, event_type, value, row_number() OVER (
        |    PARTITION BY event_type ORDER BY value, event_id) AS rk
        |  FROM events WHERE value IS NOT NULL),
        |ref AS (
        |  SELECT rk,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |      / count(*) AS ref
        |  FROM ranked GROUP BY rk)
        |SELECT event_id, ROUND(ref, 6) AS qnorm
        |FROM ranked JOIN ref USING (rk) ORDER BY event_id""".stripMargin)),

    // F-curve: piecewise-linear calibration — map-side interpolation
    // between equally-spaced knot literals (both engines fold the same
    // ladder), edge clamping at the grid boundaries
    Gate("q_f_curve", (s, dir) =>
      graft.operators.FeatureScaling.piecewiseLinear(
          t(s, dir, "events").select("event_id", "value"),
          // step 50 and 0.1-multiple knot gaps keep every blend a
          // ≤5-decimal terminating value (2-decimal inputs × 2 ÷ 100 ×
          // 0.1k) — round-6 never meets a half boundary in either engine
          "value", x0 = 0.0, step = 50.0,
          ys = Seq(0.0, 0.2, 0.3, 0.5, 0.6, 0.8, 0.9, 1.0, 1.0, 1.0))
        .select(col("event_id"), col("calibrated"))
        .orderBy(col("event_id")),
      // calibration curve: identical knot ladder + clamped blend
      Sql(() => {
      val ys = Seq(0.0, 0.2, 0.3, 0.5, 0.6, 0.8, 0.9, 1.0, 1.0, 1.0)
      val arr = ys.mkString("[", ", ", "]")
      s"""SELECT event_id,
         |  CASE WHEN value IS NULL THEN NULL ELSE
         |    ROUND(ROUND(
         |      list_extract($arr, LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS INTEGER), 0), ${ys.size - 2}) + 1)
         |      + (list_extract($arr, LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS INTEGER), 0), ${ys.size - 2}) + 2)
         |         - list_extract($arr, LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS INTEGER), 0), ${ys.size - 2}) + 1))
         |        * LEAST(GREATEST((value - (0.0 + CAST(LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 50.0) AS INTEGER), 0), ${ys.size - 2}) AS DOUBLE) * 50.0)) / 50.0, 0.0), 1.0), 9), 6)
         |  END AS calibrated
         |FROM events ORDER BY event_id""".stripMargin
    })),

    // F-isotonic: PAV calibration repair of the discrete forecast (the
    // q_a_brier panel) — one bin aggregate is the data-scale pass, the
    // exact-integer PAV runs driver-side on the config-sized panel
    Gate.fitted("q_f_isotonic", "p" -> "DOUBLE", "n" -> "BIGINT",
        "rate_raw" -> "DOUBLE", "rate_iso" -> "DOUBLE")((s, dir) => {
      val fit = isoFit(t(s, dir, "lineitem"), dir)
      fit -> Calibration.isotonicTable(s, fit)
    })(
      // isotonic: bins + raw rates recomputed independently; the PAV
      // fit joins in as dump-time literals (spec-gated solve)
      Calibration.isotonicOracleSql(_)),

    // F-calibrate: APPLY side of the isotonic fit — per-row map-side
    // step-function lookup (literal threshold/rate arrays, no join) of
    // a score the fit never saw, then a (score, score_iso) census
    Gate.fitted("q_f_calibrate", "score" -> "DOUBLE", "score_iso" -> "DOUBLE",
        "n" -> "BIGINT")((s, dir) => {
      val lineitem = t(s, dir, "lineitem")
      val fit = isoFit(lineitem, dir)
      fit -> Calibration.calibrateCensus(lineitem, fit)
    })(
      // calibrate-apply: fitted map as VALUES; the step lookup is
      // recomputed independently as a correlated last-threshold subquery
      Calibration.calibrateOracleSql(_)),

    // F-impute: per-entity mean imputation of planted nulls — the
    // group mean computed in the same window pass that fills (no
    // join); entities with no observed value keep null
    Gate("q_f_impute", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      val v = when(col("event_id") % 7 === 0, lit(null))
        .otherwise(col("value"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), v.as("v"))
        .select(col("event_id"),
          coalesce(col("v"),
            round(sum(col("v").cast("decimal(38,6)")).over(w)
              .cast("double") / count(col("v")).over(w), 6)).as("v_filled"))
        .orderBy(col("event_id"))
    },
      // imputation: identical per-entity mean fill
      Sql(() => """WITH e AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT event_id,
        |  COALESCE(v, ROUND(
        |    CAST(SUM(CAST(v AS DECIMAL(38,6))) OVER (PARTITION BY user_id)
        |      AS DOUBLE) / count(v) OVER (PARTITION BY user_id), 6))
        |    AS v_filled
        |FROM e ORDER BY event_id""".stripMargin)),

    // F-cdf: exact global empirical CDF — distinct-value counts through
    // the distributed prefix-sum (range shuffle + partition-sized
    // offsets; the grand total is free from the counting pass), never
    // a single-partition running-sum window
    Gate("q_f_cdf", (s, dir) =>
      graft.operators.GlobalOrder.exactCdf(
          t(s, dir, "lineitem"), "l_extendedprice")
        .orderBy(col("l_extendedprice")),
      // exact CDF: the window running sum IS safe in the oracle (DuckDB
      // runs single-node anyway); the engine side never builds one
      Sql(() => """WITH c AS (
        |  SELECT l_extendedprice AS v, count(*) AS n FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |t AS (SELECT SUM(n) AS total FROM c),
        |cum AS (
        |  SELECT v, n,
        |    SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |                 AND CURRENT ROW) AS cum_n
        |  FROM c)
        |SELECT v AS l_extendedprice, CAST(n AS BIGINT) AS n,
        |  CAST(cum_n AS BIGINT) AS cum_n,
        |  ROUND(CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cdf
        |FROM cum CROSS JOIN t ORDER BY l_extendedprice""".stripMargin))
  )
}
