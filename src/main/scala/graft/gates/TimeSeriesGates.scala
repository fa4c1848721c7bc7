package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Time-series operators: rolling stats, anomaly scores,
  * forecasts and backtests. */
private[graft] object TimeSeriesGates {
  val gates: Seq[Gate] = Seq(
    // T-anomaly: rolling z-score outliers per user — ONE key-partitioned
    // window computes rolling count/Σv/Σv² in a single pass; variance
    // from the computational formula over decimal-exact sums
    Gate("q_t_anomaly", (s, dir) =>
      graft.operators.TimeSeries.rollingAnomaly(
          t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
          "user_id", "ts", "value", tieCol = "event_id",
          lookback = 10, zThresh = 2.0, minObs = 4)
        .select(col("event_id"), col("n_prev"), col("z"), col("is_anomaly"))
        .orderBy(col("event_id")),
      // rolling anomaly: identical ROWS frame, per-term ROUND into decimal
      // sums, computational-formula variance in DOUBLE, IEEE sqrt
      Sql(() => """WITH b AS (
        |  SELECT event_id, value,
        |    count(value) OVER w AS n,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_id, CAST(n AS BIGINT) AS n_prev,
        |    CASE WHEN n >= 4 AND (s2 - s1 * s1 / n) / (n - 1) > 0
        |         THEN ROUND((value - s1 / n)
        |                    / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6)
        |         END AS z
        |  FROM b)
        |SELECT event_id, n_prev, z,
        |       COALESCE(abs(z) > 2.0, FALSE) AS is_anomaly
        |FROM z ORDER BY event_id""".stripMargin)),

    // T-twap: per-user time-weighted value average — each observation
    // weighted by its holding interval (lead window on the session
    // shuffle); the irregular-series mean
    Gate("q_t_twap", (s, dir) =>
      graft.operators.TimeSeries.timeWeightedAvg(
          t(s, dir, "events"), "user_id", "ts", "value", tieCol = "event_id")
        .orderBy(col("user_id")),
      // TWAP: identical lead-window holding intervals (epoch-ns integers),
      // round-6 weighted terms into DECIMAL sums, division in DOUBLE
      Sql(() => """WITH d AS (
        |  SELECT user_id, value,
        |    LEAD(epoch_ns(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_ns(ts) AS dur
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(dur) AS BIGINT) AS total_span,
        |  ROUND(CAST(SUM(CAST(ROUND(value * dur, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |        / CAST(SUM(dur) AS DOUBLE), 6) AS twap
        |FROM d WHERE dur IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // T-cusum: Page's one-sided CUSUM drift scores per user — the
    // max(0,·) recursion evaluated as running-sum-minus-running-min
    // (two incremental O(1)/row frames on ONE user-keyed window), never
    // a sequential scan
    Gate("q_t_cusum", (s, dir) =>
      graft.operators.TimeSeries.cusum(
          t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
          "user_id", "ts", "value", tieCol = "event_id",
          target = 150.0, slack = 10.0, threshold = 400.0)
        .select(col("event_id"), col("cusum_pos"), col("cusum_neg"),
          col("is_alarm"))
        .orderBy(col("event_id")),
      // CUSUM: the identical running-sum / running-min window pair — the
      // max(0,·) recursion's reflection identity, decimal-exact
      Sql(() => """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |    SUM(CAST(ROUND(value - 150.0 - 10.0, 6) AS DECIMAL(38,6))) OVER w AS cp,
        |    SUM(CAST(ROUND(150.0 - value - 10.0, 6) AS DECIMAL(38,6))) OVER w AS cn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (
        |  -- LEAST over DECIMAL(38,6) silently degrades to DOUBLE in
        |  -- DuckDB (and via a non-correctly-rounded conversion); the
        |  -- CASE keeps the whole clamp in exact decimal
        |  SELECT event_id,
        |    CAST(cp - (CASE WHEN MIN(cp) OVER w2 < CAST(0 AS DECIMAL(38,6))
        |               THEN MIN(cp) OVER w2
        |               ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS cusum_pos,
        |    CAST(cn - (CASE WHEN MIN(cn) OVER w2 < CAST(0 AS DECIMAL(38,6))
        |               THEN MIN(cn) OVER w2
        |               ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS cusum_neg
        |  FROM c
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, cusum_pos, cusum_neg,
        |       (cusum_pos > 400.0 OR cusum_neg > 400.0) AS is_alarm
        |FROM s ORDER BY event_id""".stripMargin)),

    // T-ewma: truncated-window EWMA smoothing per user — `lookback`
    // O(1) lag reads on one user-keyed window; the geometric weights
    // ship as pre-rounded literals to BOTH engines (no pow() surface)
    Gate("q_t_ewma", (s, dir) =>
      graft.operators.TimeSeries.ewmaSmooth(
          t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
          "user_id", "ts", "value", tieCol = "event_id",
          alpha = 0.3, lookback = 5)
        .select(col("event_id"), col("ewma"))
        .orderBy(col("event_id")),
      // EWMA: the same lag ladder with the same pre-rounded weight
      // literals (generated so both engines consume identical constants)
      Sql(() => {
      val ws = graft.operators.TimeSeries.ewmaWeights(0.3, 5)
      val lags = ws.indices
        .map(j => s"lag(value, $j) OVER w AS v$j").mkString(",\n    ")
      // DECIMAL(28,9) with a per-step re-cast, mirroring the engine:
      // both engines grow precision by one per `+` and silently degrade
      // past 38 (Spark truncates scale to 6, DuckDB goes DOUBLE), so
      // every addition folds back to (28,9) — exact for bounded sums
      val z = "CAST(0 AS DECIMAL(28,9))"
      def chain(pieces: Seq[String]): String =
        pieces.reduce((a, b) => s"CAST($a + $b AS DECIMAL(28,9))")
      val terms = chain(ws.zipWithIndex.map { case (w, j) =>
        s"COALESCE(CAST(ROUND(v$j * $w, 9) AS DECIMAL(28,9)), $z)"
      })
      val mass = chain(ws.zipWithIndex.map { case (w, j) =>
        s"COALESCE(CASE WHEN v$j IS NOT NULL THEN CAST($w AS DECIMAL(28,9)) END, $z)"
      })
      s"""WITH l AS (
         |  SELECT event_id,
         |    $lags
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT event_id,
         |  CASE WHEN ($mass) > $z
         |       THEN ROUND(CAST(($terms) AS DOUBLE) /
         |                  CAST(($mass) AS DOUBLE), 6) END AS ewma
         |FROM l ORDER BY event_id""".stripMargin
    })),

    // T-acf: per-user autocorrelation at lags 1..3 — all lead reads in
    // ONE key-partitioned window pass, inline posexplode fan-out, one
    // (key, lag) aggregate; integer-exact decimal sufficient statistics
    Gate("q_t_acf", (s, dir) =>
      graft.operators.TimeSeries.autocorrelation(
          t(s, dir, "events").select("event_id", "user_id", "ts", "value"),
          "user_id", "ts", "value", tieCol = "event_id", maxLag = 3)
        .orderBy(col("user_id"), col("lag_k")),
      // ACF: the same lead ladder + UNION fan-out, identical decimal
      // sufficient statistics and fixed-order double assembly
      Sql(() => """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts, value FROM events),
        |l AS (
        |  SELECT user_id, value AS x,
        |    lead(value, 1) OVER w AS y1,
        |    lead(value, 2) OVER w AS y2,
        |    lead(value, 3) OVER w AS y3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (
        |  SELECT user_id, CAST(1 AS INTEGER) AS lag_k, x, y1 AS y FROM l
        |  UNION ALL SELECT user_id, 2, x, y2 FROM l
        |  UNION ALL SELECT user_id, 3, x, y3 FROM l),
        |a AS (
        |  SELECT user_id, lag_k, count(*) AS n_pairs,
        |    CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        |  FROM p WHERE x IS NOT NULL AND y IS NOT NULL
        |  GROUP BY user_id, lag_k)
        |SELECT user_id, lag_k, n_pairs,
        |  CASE WHEN n_pairs >= 2
        |        AND CAST(n_pairs AS DOUBLE) * sxx - sx * sx > 0
        |        AND CAST(n_pairs AS DOUBLE) * syy - sy * sy > 0
        |  THEN ROUND((CAST(n_pairs AS DOUBLE) * sxy - sx * sy) /
        |    sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
        |         (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 6) END AS acf
        |FROM a ORDER BY user_id, lag_k""".stripMargin)),

    // T-interp: per-user linear interpolation of planted nulls — two
    // incremental frames on one window (running last before / running
    // first after), never a neighbor self-join
    Gate("q_t_interp", (s, dir) =>
      graft.operators.TimeSeries.interpolate(
          t(s, dir, "events").select(col("event_id"), col("user_id"),
            col("ts"),
            when(col("event_id") % 7 === 0, lit(null))
              .otherwise(col("value")).as("value")),
          "user_id", "ts", "value", tieCol = "event_id")
        .select(col("event_id"), col("v_interp"))
        .orderBy(col("event_id")),
      // interpolation: the same two incremental frames (running last
      // before / running first after) and fixed-order double blend
      Sql(() => """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS ts,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |w AS (
        |  SELECT event_id, v, ts,
        |    last_value(v IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
        |      OVER wb AS pt,
        |    first_value(v IGNORE NULLS) OVER wa AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
        |      OVER wa AS nt
        |  FROM e
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wa AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |         ROUND(pv + (nv - pv) *
        |           (CAST(ts - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)), 6)
        |       WHEN pv IS NOT NULL THEN pv
        |       ELSE nv END AS v_interp
        |FROM w ORDER BY event_id""".stripMargin)),

    // T-seasonal: (day-of-week, hour) baseline + residual — a
    // 168-cell broadcast profile joined back map-side; calendar parts
    // from the epoch-nano BIGINT by integer division only
    Gate("q_t_seasonal", (s, dir) =>
      graft.operators.TimeSeries.seasonalBaseline(
          t(s, dir, "events"), "event_id", "ts", "value")
        .orderBy(col("event_id")),
      // seasonal: integer-only calendar parts off epoch nanos
      // (1970-01-01 was a Thursday), decimal-exact cell means
      Sql(() => """WITH e AS (
        |  SELECT event_id, value AS v,
        |    CAST(((epoch_ns(ts) // 86400000000000) + 4) % 7 AS INTEGER) AS dow,
        |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS INTEGER) AS "hour"
        |  FROM events),
        |p AS (
        |  SELECT dow, "hour",
        |    ROUND(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / count(v), 6)
        |      AS baseline
        |  FROM e GROUP BY dow, "hour")
        |SELECT e.event_id, e.dow, e."hour", e.v, p.baseline,
        |  ROUND(e.v - p.baseline, 6) AS residual
        |FROM e JOIN p USING (dow, "hour") ORDER BY event_id""".stripMargin)),

    // T-concurrency: sweep-line peak overlap of 30-minute activity
    // intervals — the +1/−1 delta stream summed through the
    // distributed prefix sum (the textbook global running sum is a
    // single-partition window; this never builds one); half-open
    // semantics (ends apply before starts at equal instants)
    Gate("q_t_concurrency", (s, dir) =>
      graft.operators.Intervals.peakConcurrency(
        t(s, dir, "events").select(col("ts").as("s_ts"),
          (col("ts") + 1800000000000L).as("e_ts"), col("event_id")),
        "s_ts", "e_ts", "event_id"),
      // concurrency: the global running sum IS safe in the oracle
      // (DuckDB is single-node); identical half-open sweep order
      Sql(() => """WITH d AS (
        |  SELECT epoch_ns(ts) AS t, 1 AS dd, event_id AS i FROM events
        |  UNION ALL
        |  SELECT epoch_ns(ts) + 1800000000000, -1, event_id FROM events),
        |r AS (
        |  SELECT SUM(dd) OVER (ORDER BY t, dd, i ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS run
        |  FROM d)
        |SELECT CAST((SELECT count(*) FROM events) AS BIGINT) AS n_intervals,
        |  CAST(MAX(run) AS BIGINT) AS peak
        |FROM r""".stripMargin)),

    // T-drawdown: per-user max drawdown — running decimal sum + its
    // running max in one window pass (the cusum regime), deepest
    // peak-to-trough per key
    Gate("q_t_drawdown", (s, dir) =>
      graft.operators.TimeSeries.maxDrawdown(
          t(s, dir, "events"), "user_id", "ts", "value", "event_id")
        .orderBy(col("user_id")),
      // drawdown: identical running sum + running max + (28,6) re-cast
      // (a (38,6)−(38,6) would hit the precision cap in both engines)
      Sql(() => """WITH c AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ts, value FROM events
        |  WHERE value IS NOT NULL),
        |r AS (
        |  SELECT user_id, event_id, ts,
        |    SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) OVER w AS cum
        |  FROM c
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT user_id, cum,
        |    MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM r)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
        |  CAST(MAX(CAST(peak AS DECIMAL(28,6)) - CAST(cum AS DECIMAL(28,6)))
        |    AS DOUBLE) AS max_drawdown
        |FROM m GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // T-growth: user growth curve — new users per first-active hour,
    // cumulative via the distributed prefix sum (no bounded-window
    // whitelist needed)
    Gate("q_t_growth", (s, dir) => {
      val firstSeen = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 3600000000000").as("period"))
        .groupBy(col("user_id")).agg(min(col("period")).as("period"))
      val panel = firstSeen.groupBy(col("period"))
        .agg(count(lit(1)).as("new_users"))
      graft.operators.GlobalOrder.withPrefixSum(panel, Seq("period"),
          "new_users", "prev_total")
        .select(col("period"), col("new_users"),
          (col("prev_total") + col("new_users")).as("cum_users"))
        .orderBy(col("period"))
    },
      // growth curve: identical first-hour panel + window cumulative
      Sql(() => """WITH fd AS (
        |  SELECT user_id, min(epoch_ns(ts) // 3600000000000) AS period
        |  FROM events GROUP BY 1),
        |p AS (SELECT period, CAST(count(*) AS BIGINT) AS new_users
        |      FROM fd GROUP BY 1)
        |SELECT period, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY period ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM p ORDER BY period""".stripMargin)),

    // T-dau: daily + trailing-7-day active users — distinct (day, user)
    // reduction, bounded ×7 map-side expansion, one day-keyed distinct
    // count; no range join, no per-day rescan
    Gate("q_t_dau", (s, dir) =>
      graft.operators.Cohort.activeUsers(
          t(s, dir, "events"), "user_id",
          expr("ts div 86400000000000"), window = 7)
        .orderBy(col("day")),
      // DAU/WAU: identical distinct reduction + ×7 expansion
      Sql(() => """WITH du AS (
        |  SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |        FROM du GROUP BY 1),
        |ex AS (SELECT day + r.range AS day2, user_id
        |       FROM du CROSS JOIN range(0, 7) r),
        |ra AS (SELECT day2 AS day,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS rolling_active
        |       FROM ex GROUP BY 1)
        |SELECT d.day, d.dau, ra.rolling_active
        |FROM dau d JOIN ra USING (day)
        |ORDER BY day""".stripMargin)),

    // T-islands: gaps-and-islands interval coalescing — 30-minute
    // activity windows per user merged into maximal covered spans; one
    // key window (running max end + running sum of starts), no
    // interval self-join
    Gate("q_t_islands", (s, dir) =>
      graft.operators.Intervals.coalesceIntervals(
          t(s, dir, "events").select(col("user_id"), col("ts").as("s_ts"),
            (col("ts") + 1800000000000L).as("e_ts"), col("event_id")),
          "user_id", "s_ts", "e_ts", "event_id")
        .orderBy(col("user_id"), col("island")),
      // islands: identical running-max-end marks + running-sum numbering
      Sql(() => """WITH iv AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS s_ts,
        |    epoch_ns(ts) + 1800000000000 AS e_ts
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, s_ts, e_ts,
        |    CASE WHEN max(e_ts) OVER wb IS NULL
        |          OR s_ts > max(e_ts) OVER wb THEN 1 ELSE 0 END AS nw
        |  FROM iv
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY s_ts, e_ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |i AS (
        |  SELECT user_id, s_ts, e_ts,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY s_ts, e_ts, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS island
        |  FROM m)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  min(s_ts) AS span_start, max(e_ts) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_intervals
        |FROM i GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin)),

    // T-forecast: seasonal-naive backtest — (dow, hour) profile fit on
    // the even half, MAE/bias scored on the odd half; the mandatory
    // forecasting baseline as one broadcast join + one aggregate
    Gate("q_t_forecast", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.TimeSeries.seasonalForecastBacktest(
        ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 === 1),
        "event_id", "ts", "value")
    },
      // seasonal backtest: identical profile fit + scored join
      Sql(() => """WITH tr AS (
        |  SELECT CAST(((epoch_ns(ts) // 86400000000000) + 4) % 7 AS INTEGER) AS dow,
        |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS INTEGER) AS "hour",
        |    value AS v
        |  FROM events WHERE event_id % 2 = 0),
        |p AS (
        |  SELECT dow, "hour",
        |    ROUND(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / count(v), 6)
        |      AS baseline
        |  FROM tr GROUP BY dow, "hour"),
        |te AS (
        |  SELECT CAST(((epoch_ns(ts) // 86400000000000) + 4) % 7 AS INTEGER) AS dow,
        |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS INTEGER) AS "hour",
        |    value AS v
        |  FROM events WHERE event_id % 2 = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_scored,
        |  ROUND(CAST(SUM(CAST(ROUND(abs(v - baseline), 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) / count(*), 6) AS mae,
        |  ROUND(CAST(SUM(CAST(ROUND(v - baseline, 6) AS DECIMAL(38,6)))
        |    AS DOUBLE) / count(*), 6) AS bias
        |FROM te JOIN p USING (dow, "hour")""".stripMargin)),

    // T-backtest: rolling-origin CV of the three forecasting baselines
    // (last value / seasonal-naive / expanding mean) over daily buckets
    // — one bucket aggregate is the only data-scale pass; every window
    // runs over the calendar-bounded period panel
    Gate("q_t_backtest", (s, dir) =>
      graft.operators.TimeSeries.rollingOriginBacktest(
        t(s, dir, "events"), "ts", "value",
        anchorNanos = 1704067200000000000L,
        widthNanos = 86400L * 1000000000L, season = 7, k = 10),
      // rolling-origin backtest: identical bucket aggregate, panel
      // windows, and per-model round-9 decimal |error| sums
      Sql(() => """WITH per AS (
        |  SELECT (epoch_ns(ts) - 1704067200000000000) // 86400000000000
        |      AS p,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |      AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND ts IS NOT NULL
        |    AND epoch_ns(ts) >= 1704067200000000000
        |  GROUP BY 1),
        |b AS (
        |  SELECT p.p, p.y,
        |    LAG(p.y) OVER (ORDER BY p.p) AS lastv,
        |    CAST(SUM(CAST(p.y AS DECIMAL(28,6))) OVER (ORDER BY p.p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS DOUBLE) AS cs,
        |    COUNT(*) OVER (ORDER BY p.p ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) AS cn,
        |    s.y AS seas
        |  FROM per p LEFT JOIN per s ON s.p = p.p - 7),
        |mx AS (SELECT MAX(p) AS maxp FROM per),
        |f AS (SELECT b.* FROM b, mx WHERE b.p > mx.maxp - 10)
        |SELECT * FROM (
        |  SELECT 'expanding_mean' AS model,
        |    CAST(count(*) AS BIGINT) AS n_scored,
        |    ROUND(CAST(SUM(CAST(ROUND(ABS(y - cs / CAST(cn AS DOUBLE)), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS mae
        |  FROM f WHERE cn > 0
        |  UNION ALL
        |  SELECT 'last_value', CAST(count(*) AS BIGINT),
        |    ROUND(CAST(SUM(CAST(ROUND(ABS(y - lastv), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6)
        |  FROM f WHERE lastv IS NOT NULL
        |  UNION ALL
        |  SELECT 'seasonal_naive', CAST(count(*) AS BIGINT),
        |    ROUND(CAST(SUM(CAST(ROUND(ABS(y - seas), 9)
        |      AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6)
        |  FROM f WHERE seas IS NOT NULL)
        |ORDER BY model""".stripMargin)),

    // T-rollcorr: rolling correlation of value vs the JSON prop series
    // — six windowed sufficient statistics as differences of inclusive
    // running decimal sums (the rollingAnomaly O(1)/row rewrite; a
    // bounded ROWS frame would rebuild its buffer every row)
    Gate("q_t_rollcorr", (s, dir) =>
      graft.operators.TimeSeries.rollingCorrelation(
          t(s, dir, "events").select(col("event_id"), col("user_id"),
            col("ts"), col("value"),
            get_json_object(col("props"), "$.k").cast("double").as("k_val")),
          "user_id", "ts", "event_id", "value", "k_val",
          lookback = 8, minObs = 4)
        .select(col("event_id"), col("n_win"), col("corr"))
        .orderBy(col("event_id")),
      // rolling correlation: the direct bounded frame IS safe in the
      // oracle (decimal frame sums are order-exact, so they equal the
      // engine's running-sum differences bit for bit)
      Sql(() => """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS ts, value AS x,
        |    CAST(json_extract(props, '$.k') AS DOUBLE) AS y
        |  FROM events),
        |b AS (
        |  SELECT event_id,
        |    SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 ELSE 0 END)
        |      OVER w AS n,
        |    CAST(SUM(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN ROUND(x, 6) ELSE 0 END AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN ROUND(y, 6) ELSE 0 END AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN ROUND(x * y, 6) ELSE 0 END AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN ROUND(x * x, 6) ELSE 0 END AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CASE WHEN x IS NOT NULL AND y IS NOT NULL
        |      THEN ROUND(y * y, 6) ELSE 0 END AS DECIMAL(38,6))) OVER w AS DOUBLE) AS syy
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT event_id, CAST(n AS BIGINT) AS n_win,
        |  CASE WHEN n >= 4
        |        AND CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |        AND CAST(n AS DOUBLE) * syy - sy * sy > 0
        |  THEN ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
        |         (CAST(n AS DOUBLE) * syy - sy * sy)), 6) END AS corr
        |FROM b ORDER BY event_id""".stripMargin)),

    // T-mom: month-over-month revenue growth — calendar-bounded month
    // panel (≤ a few dozen rows by domain), decimal-exact monthly sums,
    // growth ratio in double; the global lag window runs over the
    // BOUNDED panel, never the fact table
    Gate("q_t_mom", (s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(sum(col("o_totalprice").cast("decimal(38,2)")).cast("double")
          .as("rev"))
      val w = Window.orderBy(col("y"), col("m"))
      monthly
        .select(col("y"), col("m"), col("rev"),
          round((col("rev") - lag(col("rev"), 1).over(w)) /
            lag(col("rev"), 1).over(w), 6).as("growth"))
        .orderBy(col("y"), col("m"))
    },
      // month-over-month: the same bounded month panel + lag ratio
      Sql(() => """WITH mo AS (
        |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT y, m, rev,
        |  ROUND((rev - lag(rev) OVER w) / lag(rev) OVER w, 6) AS growth
        |FROM mo
        |WINDOW w AS (ORDER BY y, m)
        |ORDER BY y, m""".stripMargin))
  )
}
