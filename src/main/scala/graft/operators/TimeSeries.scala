package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series resampling and gap-filling over event tables.
  *
  * The reference's data model is batch-only, but any telemetry/metrics
  * corpus at 100 TB needs regularization to a fixed grid before windowed
  * features (the events fixture carries irregular per-user event times).
  * Everything here is expressed per-key:
  *
  *  - bucket assignment is a map-side integer division;
  *  - the per-key grid is generated with `sequence()` off a per-key
  *    min/max aggregate — the spine explode is distributed by key, no
  *    driver-side range materialization;
  *  - forward fill is `last(_, ignoreNulls)` over a key-partitioned
  *    running window — bounded by the key's own rows, never a global sort.
  *
  * At cluster scale the only shuffles are the per-key aggregate and the
  * window partition — both on the series key, both AQE-coalescible.
  */
object TimeSeries {

  /** Resample `df` onto a fixed `bucketWidth` grid per `keyCol` and
    * forward-fill buckets with no observations.
    *
    * `tsCol` must be an integral epoch column (the fixture's nanos-as-long
    * timestamps); `bucketWidth` is in the same unit. Observed buckets carry
    * the exact mean of `valCol` (decimal-accumulated, order-independent);
    * empty buckets take the latest preceding bucket's mean (null until the
    * key's first observed value — there is nothing to fill from).
    *
    * Output: (key, bucket, n_obs, v_obs, v_filled) — one row per grid cell
    * between the key's first and last observation inclusive.
    */
  def resampleFill(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, bucketWidth: Long): DataFrame = {
    Reserved.guard("resampleFill", df, "__v", "__b0", "__b1")
    require(keyCol != "bucket" && valCol != "bucket" && tsCol != "bucket",
      "resampleFill emits a `bucket` column — rename the input's `bucket` first")
    // integer division — `/` on longs is DOUBLE division in Spark, and an
    // epoch-nanos value (~1.7e18) exceeds double's 2^53 integer range, so
    // bucket boundaries would shift by rounding
    val bucket = expr(s"`$tsCol` div ${bucketWidth}L")
    val obs = df
      .select(col(keyCol), bucket.as("bucket"), col(valCol).as("__v"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(
        count(col("__v")).as("n_obs"),
        (sum(col("__v").cast("decimal(38,6)")).cast("double") /
          count(col("__v"))).as("v_obs"))
    // per-key grid: one sequence per key spanning its observed range —
    // the explode fans out on the key, so grid generation is distributed
    val spine = obs
      .groupBy(col(keyCol))
      .agg(min(col("bucket")).as("__b0"), max(col("bucket")).as("__b1"))
      .select(col(keyCol),
        explode(sequence(col("__b0"), col("__b1"))).as("bucket"))
    val fill = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(obs, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("v_obs"),
        last(col("v_obs"), ignoreNulls = true).over(fill).as("v_filled"))
  }

  /** Rolling z-score anomaly detection per series key — each observation
    * scored against the mean/stddev of its previous `lookback`
    * observations (ROWS frame ending at 1 PRECEDING: the current point
    * never smooths its own baseline). The streaming-telemetry outlier
    * primitive, batch-expressed.
    *
    * Scale shape: ONE key-partitioned window (the same shuffle a running
    * sum needs) computes rolling count/Σv/Σv² in a single pass; the
    * z-score is per-row arithmetic on those three numbers. No global
    * sort, no self-join, state bounded by `lookback` rows per task.
    *
    * The bounded frame is NOT evaluated as a sliding aggregate — Spark's
    * `SlidingWindowFunctionFrame` rebuilds the whole buffer every time
    * the frame moves (aggregates can't retract), making a ROWS
    * [-lookback, -1] sum O(lookback) PER ROW. Instead the rolling sums
    * are differences of running cumulative sums:
    *   Σ v over [t-lookback, t-1]  =  cum(t-1) − cum(t-1-lookback)
    * where `cum` is the inclusive running sum
    * (`UnboundedPrecedingWindowFunctionFrame`, incremental O(1)/row) and
    * the two endpoints are `lag` reads (offset frames, O(1)). DECIMAL
    * addition/subtraction is exact, so the difference is bit-identical
    * to the direct frame sum — the oracle contract is unchanged. The
    * 100M-event probe: 101.7 s (sliding frame) → O(1)/row independent
    * of `lookback`.
    *
    * Cross-engine reproducibility: the rolling sums accumulate per-term
    * ROUND(v,6) / ROUND(v²,6) as DECIMAL(38,6) (order-invariant, exact);
    * mean and variance derive in DOUBLE from those exact sums via the
    * computational formula `(Σv² − (Σv)²/n) / (n−1)`; `sqrt` is
    * IEEE-exact; the z rounds to 6. Rows with fewer than `minObs`
    * predecessors — or a degenerate (≤ 0, i.e. cancellation-noise)
    * variance — get a null z and are never flagged.
    *
    * Output: input key/order columns + (`n_prev`, `z`, `is_anomaly`).
    */
  def rollingAnomaly(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, tieCol: String, lookback: Int = 10,
      zThresh: Double = 3.0, minObs: Int = 4): DataFrame = {
    require(lookback >= minObs && minObs >= 2,
      s"need lookback >= minObs >= 2, got lookback=$lookback minObs=$minObs")
    Reserved.guard("rollingAnomaly", df, "__n", "__s1", "__s2", "__cn", "__c1", "__c2",
      "n_prev", "z", "is_anomaly")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valCol)
    val zero = lit(0).cast("decimal(38,6)")
    // inclusive running sums (incremental frame) …
    val withCums = df.select(col(keyCol), col(tsCol), col(tieCol), v,
      sum(when(v.isNotNull, 1L).otherwise(0L)).over(run).as("__cn"),
      sum(round(v, 6).cast("decimal(38,6)")).over(run).as("__c1"),
      sum(round(v * v, 6).cast("decimal(38,6)")).over(run).as("__c2"))
    // … differenced at lag 1 and lag lookback+1 give the exact
    // [-lookback, -1] frame sums without a sliding-frame rebuild
    val withSums = withCums.select(col(keyCol), col(tsCol), col(tieCol), v,
      (coalesce(lag(col("__cn"), 1).over(ord), lit(0L)) -
        coalesce(lag(col("__cn"), lookback + 1).over(ord), lit(0L))).as("__n"),
      (coalesce(lag(col("__c1"), 1).over(ord), zero) -
        coalesce(lag(col("__c1"), lookback + 1).over(ord), zero))
        .cast("double").as("__s1"),
      (coalesce(lag(col("__c2"), 1).over(ord), zero) -
        coalesce(lag(col("__c2"), lookback + 1).over(ord), zero))
        .cast("double").as("__s2"))
    val mean = col("__s1") / col("__n")
    val variance = (col("__s2") - col("__s1") * col("__s1") / col("__n")) /
      (col("__n") - lit(1))
    val z = when(col("__n") >= minObs && variance > 0,
      round((v - mean) / sqrt(variance), 6))
    withSums.select(col(keyCol), col(tsCol), col(tieCol), v,
      col("__n").as("n_prev"), z.as("z"),
      coalesce(abs(z) > zThresh, lit(false)).as("is_anomaly"))
  }

  /** Per-key time-weighted average — each observation weighted by how
    * long it remained current (until the key's next observation): the
    * billing/position/telemetry mean for irregular series, where the
    * arithmetic mean over-weights chatty periods.
    *
    *   TWAP = Σ vᵢ·(tᵢ₊₁ − tᵢ) / Σ (tᵢ₊₁ − tᵢ)
    *
    * The key's LAST observation has no holding interval and drops out
    * (a caller wanting a closing horizon appends a sentinel row).
    *
    * Scale shape: one key-partitioned lead window (the sessionization
    * shuffle) + one per-key aggregate. `tsCol` must be integral epoch
    * units; weighted terms round to 6 into DECIMAL sums and the final
    * division runs in DOUBLE.
    */
  /** One-sided CUSUM change-point scores per series key (Page 1954):
    * the classic drift detector
    *
    *   S⁺_t = max(0, S⁺_{t-1} + (x_t − target − slack))
    *   S⁻_t = max(0, S⁻_{t-1} − (x_t − target) − slack)
    *
    * with an alarm when either side exceeds `threshold`.
    *
    * The recursion is NOT evaluated recursively — max(0, ·) resets are
    * the running-minimum identity: with d_t = x_t − target − slack and
    * C_t = Σ_{j≤t} d_j,
    *
    *   S⁺_t = C_t − min(0, min_{j≤t} C_j)
    *
    * so the whole detector is one key-partitioned window computing a
    * running sum and a running min (both incremental O(1)/row frames),
    * exactly the [[rollingAnomaly]] regime — no sliding-frame rebuild,
    * no sequential scan. Deviations round to 6 into DECIMAL running
    * sums (order-exact); min/greatest comparisons happen ON the
    * decimals; only the reported scores cast to DOUBLE.
    *
    * Output: key/order cols + (`cusum_pos`, `cusum_neg`, `is_alarm`).
    */
  def cusum(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
      tieCol: String, target: Double, slack: Double,
      threshold: Double): DataFrame = {
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    Reserved.guard("cusum", df, "__dp", "__dn", "__cp", "__cn", "cusum_pos",
      "cusum_neg", "is_alarm")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val zero = lit(0).cast("decimal(38,6)")
    val v = col(valCol)
    val withCums = df.select(col(keyCol), col(tsCol), col(tieCol), v,
      sum(round(v - lit(target) - lit(slack), 6).cast("decimal(38,6)"))
        .over(run).as("__cp"),
      sum(round(lit(target) - v - lit(slack), 6).cast("decimal(38,6)"))
        .over(run).as("__cn"))
    val sPos = (col("__cp") -
      least(zero, min(col("__cp")).over(run))).cast("double")
    val sNeg = (col("__cn") -
      least(zero, min(col("__cn")).over(run))).cast("double")
    withCums.select(col(keyCol), col(tsCol), col(tieCol), v,
      sPos.as("cusum_pos"), sNeg.as("cusum_neg"),
      (sPos > threshold || sNeg > threshold).as("is_alarm"))
  }

  /** Windowed EWMA smoothing per series key: each point smoothed over
    * its own plus the previous `lookback − 1` observations with
    * geometric weights α(1−α)^j, renormalized over the visible window
    * (so warm-up rows are proper weighted means, not biased-low ones).
    *
    * The exact infinite-history EWMA recursion needs either a
    * sequential scan or pow() ratios that overflow at partition length;
    * the truncated window keeps the operator one key-partitioned
    * window of `lookback` O(1) `lag` reads — and since (1−α)^j for the
    * FIXED window is a handful of constants, both engines consume the
    * same pre-rounded weight literals ([[ewmaWeights]]), leaving no
    * cross-engine pow() surface. Per-term products round to 9 into a
    * DECIMAL sum; the final normalize divides in DOUBLE.
    *
    * Output: key/order cols + `ewma`.
    */
  def ewmaSmooth(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, tieCol: String, alpha: Double,
      lookback: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, s"need 0 < alpha < 1, got $alpha")
    require(lookback >= 1 && lookback <= 64,
      s"need 1 <= lookback <= 64, got $lookback")
    require(!df.columns.contains("ewma"),
      "ewmaSmooth emits an `ewma` column — rename the input's first")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val ws = ewmaWeights(alpha, lookback)
    val v = col(valCol)
    // lag(v, j) is null past the partition start — weighted terms and
    // weight mass both skip missing history via the null-propagating sum.
    // DECIMAL(28,9), NOT (38,9): both engines grow precision by one per
    // `+` and silently degrade past 38 (Spark truncates the scale to 6,
    // DuckDB converts to DOUBLE) — 28 gives the whole chain headroom to
    // stay exact, which is the operator's entire cross-engine contract
    val terms = ws.zipWithIndex.map { case (wj, j) =>
      round(lag(v, j).over(ord) * lit(wj), 9).cast("decimal(28,9)")
    }
    val mass = ws.zipWithIndex.map { case (wj, j) =>
      when(lag(v, j).over(ord).isNotNull, lit(wj).cast("decimal(28,9)"))
    }
    val z9 = lit(0).cast("decimal(28,9)")
    // each step re-casts to (28,9): sums are bounded (≤ lookback·|v|max
    // with sub-1 weights), so the cast is exact and the chain can never
    // creep up to the precision cap no matter how long `lookback` is
    def chain(cols: Seq[Column]): Column =
      cols.reduce((a, b) =>
        (coalesce(a, z9) + coalesce(b, z9)).cast("decimal(28,9)"))
    val tsum = chain(terms)
    val msum = chain(mass)
    // msum = 0 (a null value with no visible history) yields null, not
    // 0/0 — NaN formatting is not a cross-engine surface worth having
    df.select(col(keyCol), col(tsCol), col(tieCol), v,
      when(msum > z9,
        round(tsum.cast("double") / msum.cast("double"), 6)).as("ewma"))
  }

  /** The fixed weight ladder α(1−α)^j, j = 0 until lookback, each
    * pre-rounded to 9 — the literals BOTH engines consume. */
  def ewmaWeights(alpha: Double, lookback: Int): Seq[Double] =
    (0 until lookback).map(j =>
      BigDecimal(alpha * math.pow(1 - alpha, j))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** Per-key autocorrelation function at lags 1..`maxLag` — the
    * seasonality/persistence diagnostic (is a series mean-reverting?
    * does it echo at lag 7?). Each lag's coefficient is the Pearson
    * correlation of the paired series (x_t, x_{t+k}) over the rows
    * where both exist — the "sample ACF of the overlapping segments"
    * formulation, which needs no full-series mean and therefore stays
    * a single aggregate.
    *
    * Scale shape: ONE key-partitioned window computes all `maxLag`
    * lead reads in a single pass (shared frame, O(maxLag)/row); an
    * inline posexplode fans the (lag, x, y) pairs out and one
    * (key, lag) aggregate finishes — two shuffles total, both on the
    * series key, no self-join of the series against itself.
    *
    * Cross-engine reproducibility: x, y, x², y², x·y each round to 6
    * into DECIMAL(38,6) sums (order-exact); the correlation assembles
    * in DOUBLE with a fixed parenthesization mirrored in the oracle;
    * `sqrt` is IEEE-exact; output rounds to 6. Degenerate lags (n < 2
    * pairs or zero variance on either side) yield a null `acf`.
    *
    * Output: (key, lag_k, n_pairs, acf).
    */
  def autocorrelation(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, tieCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64,
      s"need 1 <= maxLag <= 64, got $maxLag")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val v = col(valCol)
    val d6 = (c: Column) => round(c, 6).cast("decimal(38,6)")
    // window expressions can't sit under a Generate — materialize the
    // lead ladder as columns first, then explode the (lag, x, y) structs
    val leads = df.select(Seq(col(keyCol), v.as("__x")) ++
      (1 to maxLag).map(k => lead(v, k).over(ord).as(s"__y$k")): _*)
    val pairs = (1 to maxLag).map(k =>
      struct(lit(k).as("lag_k"), col("__x").as("x"), col(s"__y$k").as("y")))
    val exploded = leads
      .select(col(keyCol), explode(array(pairs: _*)).as("__p"))
      .select(col(keyCol), col("__p.lag_k").as("lag_k"),
        col("__p.x").as("x"), col("__p.y").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
    val agg = exploded.groupBy(col(keyCol), col("lag_k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(d6(col("x"))).cast("double").as("__sx"),
        sum(d6(col("y"))).cast("double").as("__sy"),
        sum(d6(col("x") * col("x"))).cast("double").as("__sxx"),
        sum(d6(col("y") * col("y"))).cast("double").as("__syy"),
        sum(d6(col("x") * col("y"))).cast("double").as("__sxy"))
    val n = col("n_pairs").cast("double")
    val varX = n * col("__sxx") - col("__sx") * col("__sx")
    val varY = n * col("__syy") - col("__sy") * col("__sy")
    val cov = n * col("__sxy") - col("__sx") * col("__sy")
    agg.select(col(keyCol), col("lag_k"), col("n_pairs"),
      when(col("n_pairs") >= 2 && varX > 0 && varY > 0,
        round(cov / sqrt(varX * varY), 6)).as("acf"))
  }

  /** Per-key linear interpolation of missing values — each null gets
    * the straight line between its nearest non-null neighbors in event
    * time (the pandas `interpolate(method='time')` contract); a null
    * run before the first observation back-fills from the next value,
    * one after the last forward-fills from the previous, and a key
    * with no observations at all stays null.
    *
    * Scale shape: ONE key-partitioned window evaluated with two frames
    * (running last over the preceding rows, running first over the
    * following rows) — both incremental, no sliding rebuild, no
    * self-join to find neighbors.
    *
    * Cross-engine reproducibility: the interpolation weight is a DOUBLE
    * ratio of epoch-tick DIFFERENCES (small integers — never the raw
    * ~1.7e18 nano values, which exceed double's exact range); the
    * blend `v0 + (v1 − v0)·w` is fixed-order double math rounded to 6.
    *
    * Output: key/order cols + `v` + `v_interp`.
    */
  def interpolate(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, tieCol: String): DataFrame = {
    require(!df.columns.contains("v_interp"),
      "interpolate emits `v_interp` — rename the input's first")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val before = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valCol)
    val obsTs = when(v.isNotNull, col(tsCol))
    val prevV = last(v, ignoreNulls = true).over(before)
    val prevT = last(obsTs, ignoreNulls = true).over(before)
    val nextV = first(v, ignoreNulls = true).over(after)
    val nextT = first(obsTs, ignoreNulls = true).over(after)
    val w = (col(tsCol) - prevT).cast("double") /
      (nextT - prevT).cast("double")
    val interp = when(v.isNotNull, v)
      .when(prevV.isNotNull && nextV.isNotNull,
        round(prevV + (nextV - prevV) * w, 6))
      .when(prevV.isNotNull, prevV)
      .otherwise(nextV)
    df.select(col(keyCol), col(tsCol), col(tieCol), v,
      interp.as("v_interp"))
  }

  /** Calendar-seasonal baseline and residual: each observation scored
    * against the exact mean of its (day-of-week, hour-of-day) cell —
    * the standard first pass at telemetry seasonality (deseasonalized
    * residuals feed [[rollingAnomaly]]/[[cusum]] far better than raw
    * values do).
    *
    * Scale shape: the baseline is one global aggregate onto at most
    * 168 cells — a broadcast-sized profile joined back map-side; no
    * window, no per-key state. Calendar parts derive from the
    * epoch-nano BIGINT by integer division only (the +4 offset puts
    * epoch day 0, a Thursday, at dow 4 — the 0 = Sunday convention),
    * so there is no timezone or double surface anywhere.
    *
    * Output: idCol + (dow, hour, v, baseline, residual), baseline the
    * decimal-exact cell mean rounded to 6, residual = round(v −
    * baseline, 6).
    */
  def seasonalBaseline(df: DataFrame, idCol: String, tsCol: String,
      valCol: String): DataFrame = {
    Reserved.guard("seasonalBaseline", df, "dow", "hour", "baseline", "residual")
    val parts = calendarParts(df, idCol, tsCol, valCol)
    parts.join(broadcast(seasonalProfile(parts)), Seq("dow", "hour"))
      .select(col(idCol), col("dow"), col("hour"), col("v"),
        col("baseline"), round(col("v") - col("baseline"), 6).as("residual"))
  }

  private def calendarParts(df: DataFrame, idCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val day = 86400000000000L
    val hour = 3600000000000L
    df.select(col(idCol), col(valCol).as("v"),
      ((expr(s"`$tsCol` div ${day}L") + 4) % 7).cast("int").as("dow"),
      (expr(s"`$tsCol` div ${hour}L") % 24).cast("int").as("hour"))
  }

  private def seasonalProfile(parts: DataFrame): DataFrame =
    parts.groupBy(col("dow"), col("hour"))
      .agg(round(sum(col("v").cast("decimal(38,6)")).cast("double") /
        count(col("v")), 6).as("baseline"))

  /** Seasonal-naive forecast backtest: fit the (dow, hour) profile on
    * `train`, score it on `test` — the mandatory baseline any real
    * forecasting model must beat, and the cheapest honest answer to
    * "how predictable is this metric". Test cells absent from the
    * training profile drop (nothing to predict with).
    *
    * Scale shape: one training aggregate onto ≤ 168 cells, broadcast
    * back over the test side, one global error aggregate. Errors
    * round to 6 into DECIMAL sums; MAE/bias divide in DOUBLE.
    *
    * Output: one row (n_scored, mae, bias). */
  def seasonalForecastBacktest(train: DataFrame, test: DataFrame,
      idCol: String, tsCol: String, valCol: String): DataFrame = {
    val profile = seasonalProfile(calendarParts(train, idCol, tsCol, valCol))
    calendarParts(test, idCol, tsCol, valCol)
      .join(broadcast(profile), Seq("dow", "hour"))
      .agg(count(lit(1)).as("n_scored"),
        round(sum(round(abs(col("v") - col("baseline")), 6)
            .cast("decimal(38,6)")).cast("double") / count(lit(1)), 6)
          .as("mae"),
        round(sum(round(col("v") - col("baseline"), 6)
            .cast("decimal(38,6)")).cast("double") / count(lit(1)), 6)
          .as("bias"))
  }

  /** Rolling correlation of two aligned series per key — each point's
    * Pearson correlation over the window of its last `lookback`
    * observations (inclusive): the co-movement monitor (price pairs,
    * metric coupling, sensor agreement) whose regime changes matter
    * more than the global coefficient.
    *
    * Scale shape: the [[rollingAnomaly]] rewrite — the six windowed
    * sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are differences
    * of INCLUSIVE running sums read back at lag `lookback`, so cost is
    * O(1)/row regardless of `lookback` (a direct bounded ROWS frame
    * would rebuild its buffer every row). DECIMAL running sums make
    * the differences exact, so results are bit-identical to the
    * direct-frame formulation the oracle uses.
    *
    * Rows where either side is null contribute nothing to any sum
    * (and don't count toward n). Windows with n < `minObs` or a
    * degenerate variance on either side yield a null `corr`.
    *
    * Output: key/order cols + (n_win, corr).
    */
  def rollingCorrelation(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, xCol: String, yCol: String, lookback: Int,
      minObs: Int = 3): DataFrame = {
    require(lookback >= minObs && minObs >= 2,
      s"need lookback >= minObs >= 2, got lookback=$lookback minObs=$minObs")
    Reserved.guard("rollingCorrelation", df, "n_win", "corr", "__cn", "__cx", "__cy", "__cxy",
      "__cxx", "__cyy")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = col(xCol); val y = col(yCol)
    val both = x.isNotNull && y.isNotNull
    val zero = lit(0).cast("decimal(38,6)")
    def d6(c: Column) = when(both, round(c, 6)).otherwise(lit(0))
      .cast("decimal(38,6)")
    val withCums = df.select(col(keyCol), col(tsCol), col(tieCol), x, y,
      sum(when(both, 1L).otherwise(0L)).over(run).as("__cn"),
      sum(d6(x)).over(run).as("__cx"),
      sum(d6(y)).over(run).as("__cy"),
      sum(d6(x * y)).over(run).as("__cxy"),
      sum(d6(x * x)).over(run).as("__cxx"),
      sum(d6(y * y)).over(run).as("__cyy"))
    // inclusive window of the last `lookback` rows = cum(t) − cum(t−lookback)
    def win(c: String): Column =
      (col(c) - coalesce(lag(col(c), lookback).over(ord), zero))
        .cast("double")
    val withSums = withCums.select(col(keyCol), col(tsCol), col(tieCol),
      (col("__cn") - coalesce(lag(col("__cn"), lookback).over(ord), lit(0L)))
        .as("n_win"),
      win("__cx").as("__sx"), win("__cy").as("__sy"),
      win("__cxy").as("__sxy"), win("__cxx").as("__sxx"),
      win("__cyy").as("__syy"))
    val n = col("n_win").cast("double")
    val varX = n * col("__sxx") - col("__sx") * col("__sx")
    val varY = n * col("__syy") - col("__sy") * col("__sy")
    val cov = n * col("__sxy") - col("__sx") * col("__sy")
    withSums.select(col(keyCol), col(tsCol), col(tieCol), col("n_win"),
      when(col("n_win") >= minObs && varX > 0 && varY > 0,
        round(cov / sqrt(varX * varY), 6)).as("corr"))
  }

  /** Per-key maximum drawdown: the deepest peak-to-trough fall of the
    * running cumulative sum — the risk metric for P&L/values series,
    * and a change-magnitude summary for any accumulating signal.
    *
    * Scale shape: one key window computing the running DECIMAL sum and
    * its running max in the same pass (both incremental O(1)/row
    * frames — the [[cusum]] regime), then one per-key max aggregate.
    * Peak minus current stays decimal (exact) until the output cast.
    *
    * Output: (key, n_obs, max_drawdown) — 0 for monotone series. */
  def maxDrawdown(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, tieCol: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sum(round(col(valCol), 6).cast("decimal(38,6)")).over(run)
    df.where(col(valCol).isNotNull)
      .select(col(keyCol), cum.as("__cum"),
        max(cum).over(run).as("__peak"))
      .groupBy(col(keyCol))
      // re-cast to (28,6) before subtracting: a (38,6)−(38,6) would hit
      // the precision cap (Spark truncates scale, DuckDB goes DOUBLE)
      .agg(count(lit(1)).as("n_obs"),
        max(col("__peak").cast("decimal(28,6)") -
          col("__cum").cast("decimal(28,6)")).cast("double")
          .as("max_drawdown"))
  }

  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    df.select(col(keyCol), col(tsCol), col(valCol),
        (lead(col(tsCol), 1).over(w) - col(tsCol)).as("__dur"))
      .where(col("__dur").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("__dur")).as("total_span"),
        round(
          sum(round(col(valCol) * col("__dur"), 6).cast("decimal(38,6)"))
            .cast("double") /
          sum(col("__dur")).cast("double"), 6).as("twap"))
  }

  /** Rolling-origin backtest of the three mandatory forecasting
    * baselines — last observed value, seasonal naive (lag `season`
    * periods), expanding mean of all history — each scored on the last
    * `k` observed periods with strictly-earlier data only (the
    * time-series cross-validation protocol; the single fit/score split
    * [[seasonalForecastBacktest]] measures one fold, this measures the
    * frontier a deployed forecaster actually walks).
    *
    * Period basis is OBSERVED periods: the series aggregates to
    * `(ts − anchor) div width` buckets (decimal value sums — exact
    * doubles), lag-1 means the previous observed period, and the
    * seasonal base joins on exact period index p−season (a gap yields
    * no forecast — the row is skipped for that model, counted in
    * `n_scored`). `anchor` must lower-bound every timestamp (integer
    * div vs floor at negatives — enforced) and `widthNanos` must be
    * positive (a zero width fails the `div`, a negative one buckets
    * backwards — both rejected up front).
    *
    * Scale shape: the data-scale pass is the one bucket aggregate; all
    * windows/joins run over the calendar-bounded period panel (≤ span
    * ÷ width rows — config-sized for any fixed retention), so the
    * single-partition panel window is the q_t_mom shape, not a keyed
    * data window.
    *
    * Output: one row per model — (`model`, `n_scored`, `mae`), MAE
    * from round-9 decimal |error| sums divided in DOUBLE, round 6. */
  def rollingOriginBacktest(df: DataFrame, tsCol: String, valCol: String,
      anchorNanos: Long, widthNanos: Long, season: Int, k: Int): DataFrame = {
    require(season >= 1 && k >= 1, s"need season, k >= 1: $season/$k")
    require(widthNanos > 0, s"need widthNanos > 0: $widthNanos")
    val per = df
      .where(col(valCol).isNotNull && col(tsCol).isNotNull &&
        col(tsCol) >= lit(anchorNanos))
      .groupBy(expr(s"CAST((`$tsCol` - ${anchorNanos}L) div " +
        s"${widthNanos}L AS BIGINT)").as("__p"))
      .agg(sum(round(col(valCol), 6).cast("decimal(38,6)")).as("__s"))
      .select(col("__p"), col("__s").cast("double").as("__y"))
    val w = Window.orderBy(col("__p"))
    val hist = Window.orderBy(col("__p"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val maxP = per.agg(max(col("__p")).as("__maxp"))
    val base = per
      .withColumn("__last", lag(col("__y"), 1).over(w))
      .withColumn("__cs", sum(col("__y").cast("decimal(28,6)")).over(hist)
        .cast("double"))
      .withColumn("__cn", count(lit(1)).over(hist))
      .join(per.select((col("__p") + season).as("__p"),
        col("__y").as("__seas")), Seq("__p"), "left")
      .crossJoin(broadcast(maxP))
      .where(col("__p") > col("__maxp") - k)
    def maeRow(model: String, pred: Column): DataFrame =
      base.where(pred.isNotNull)
        .agg(count(lit(1)).as("n_scored"),
          round(sum(round(abs(col("__y") - pred), 9)
              .cast("decimal(38,9)")).cast("double") / count(lit(1)), 6)
            .as("mae"))
        .select(lit(model).as("model"), col("n_scored"), col("mae"))
    maeRow("expanding_mean", when(col("__cn") > 0,
        col("__cs") / col("__cn").cast("double")))
      .unionByName(maeRow("last_value", col("__last")))
      .unionByName(maeRow("seasonal_naive", col("__seas")))
      .orderBy(col("model"))
  }
}
