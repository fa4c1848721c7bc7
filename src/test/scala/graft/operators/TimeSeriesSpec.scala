package graft.operators
// (rollingAnomaly coverage appended below)

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Resample + forward-fill semantics: grid coverage, gap fill, null heads. */
class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def fill(rows: Seq[(String, Long, java.lang.Double)]) =
    TimeSeries.resampleFill(
      rows.toDF("k", "ts", "v"), "k", "ts", "v", bucketWidth = 10L)
      .orderBy("k", "bucket")
      .collect()

  test("grid spans first..last bucket per key and fills gaps forward") {
    val out = fill(Seq(
      ("a", 5L, Double.box(1.0)),   // bucket 0
      ("a", 12L, Double.box(2.0)),  // bucket 1
      ("a", 45L, Double.box(8.0)),  // bucket 4 — gap at 2, 3
      ("b", 71L, Double.box(7.0)))) // single-point key: one bucket
    val a = out.filter(_.getString(0) == "a")
    assert(a.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(a.map(r => Option(r.get(4)).map(_.asInstanceOf[Double])).toSeq ==
      Seq(Some(1.0), Some(2.0), Some(2.0), Some(2.0), Some(8.0)))
    assert(a.map(_.getLong(2)).toSeq == Seq(1L, 1L, 0L, 0L, 1L))
    val b = out.filter(_.getString(0) == "b")
    assert(b.map(_.getLong(1)).toSeq == Seq(7L))
    assert(b.head.getDouble(4) == 7.0)
  }

  test("observed buckets average their rows; empty v_obs stays null") {
    val out = fill(Seq(
      ("a", 1L, Double.box(1.0)), ("a", 9L, Double.box(3.0)), // same bucket
      ("a", 25L, Double.box(5.0))))
    val byBucket = out.map(r => r.getLong(1) ->
      (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(byBucket(0L) == (2L, Some(2.0))) // mean of 1 and 3
    assert(byBucket(1L) == (0L, None))      // gap: no observation recorded
    assert(byBucket(2L) == (1L, Some(5.0)))
  }

  test("null values hold the grid open but never fill") {
    val out = fill(Seq(
      ("c", 5L, null),                      // bucket 0: observed row, null value
      ("c", 25L, Double.box(3.0))))         // bucket 2
    val filled = out.map(r => Option(r.get(4)).map(_.asInstanceOf[Double])).toSeq
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
    assert(filled == Seq(None, None, Some(3.0))) // nothing to fill from yet
  }

  // ───────────────────── rollingAnomaly ─────────────────────

  private def anomalies(rows: Seq[(String, Long, Long, Double)],
      zThresh: Double = 3.0) =
    TimeSeries.rollingAnomaly(rows.toDF("k", "ts", "id", "v"),
        "k", "ts", "v", tieCol = "id", lookback = 5,
        zThresh = zThresh, minObs = 4)
      .orderBy("k", "ts").collect()

  test("a spike after a stable baseline is flagged; the baseline is not") {
    // 6 steady points around 10 (small jitter so variance > 0), then 100
    val rows = Seq(10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 100.0).zipWithIndex
      .map { case (v, i) => ("k", i.toLong, i.toLong, v) }
    val out = anomalies(rows)
    assert(out.last.getAs[Boolean]("is_anomaly"))
    assert(out.init.forall(!_.getAs[Boolean]("is_anomaly")))
    // the frame excludes the current row: baseline of the spike is ~10
    assert(out.last.getAs[Double]("z") > 50.0)
  }

  test("warm-up rows (fewer than minObs predecessors) get null z") {
    val rows = (0 until 6).map(i => ("k", i.toLong, i.toLong, i * 1.0))
    val out = anomalies(rows)
    assert(out.take(4).forall(_.isNullAt(out.head.fieldIndex("z"))))
    assert(out.drop(4).forall(!_.isNullAt(out.head.fieldIndex("z"))))
    assert(out.map(_.getAs[Long]("n_prev")).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("a constant baseline (zero variance) never divides by zero") {
    val rows = (0 until 6).map(i => ("k", i.toLong, i.toLong, 5.0)) :+
      (("k", 6L, 6L, 50.0))
    val out = anomalies(rows)
    // variance 0 → z null, not NaN/Inf; flag stays false
    assert(out.forall(r => r.isNullAt(r.fieldIndex("z")) ||
      !r.getAs[Double]("z").isNaN))
    assert(!out.last.getAs[Boolean]("is_anomaly") &&
      out.last.isNullAt(out.last.fieldIndex("z")))
  }

  test("timeWeightedAvg weights by holding interval, drops the last row") {
    // k: value 10 held 1..5 (4 units), 20 held 5..6 (1 unit) → 12.0;
    // the closing 20 at ts=6 has no interval; singleton key drops out
    val rows = Seq(("k", 1L, 1L, 10.0), ("k", 5L, 2L, 20.0),
      ("k", 6L, 3L, 30.0), ("solo", 9L, 4L, 7.0)).toDF("k", "ts", "id", "v")
    val got = TimeSeries.timeWeightedAvg(rows, "k", "ts", "v", "id")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map("k" -> ((2L, 5L, (10.0 * 4 + 20.0 * 1) / 5))))
  }

  test("keys are scored independently") {
    val quiet = (0 until 6).map(i => ("a", i.toLong, i.toLong, 10.0 + (i % 2) * 0.2))
    val loud = (0 until 6).map(i => ("b", i.toLong, (100 + i).toLong, 1000.0 + (i % 2) * 20))
    val out = anomalies(quiet ++ loud :+ (("a", 9L, 9L, 12.0)), zThresh = 2.0)
    // a's modest 12.0 is a big z on a's tight baseline; b's own points are not
    val aLast = out.filter(_.getString(0) == "a").last
    assert(aLast.getAs[Boolean]("is_anomaly"))
    assert(out.filter(_.getString(0) == "b").forall(!_.getAs[Boolean]("is_anomaly")))
  }

  // ───────────────────── cusum ─────────────────────

  test("cusum matches the sequential max(0,·) recursion exactly") {
    val vals = Seq(10.0, 14.0, 9.0, 30.0, 31.0, 29.0, 8.0, 2.0, 3.0, 11.0)
    val rows = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, i.toLong, v) }
    val out = TimeSeries.cusum(rows.toDF("k", "ts", "id", "v"),
        "k", "ts", "v", "id", target = 10.0, slack = 2.0, threshold = 20.0)
      .orderBy("ts").collect()
    // reference: the literal per-row recursion
    var sp = 0.0; var sn = 0.0
    val expected = vals.map { v =>
      sp = math.max(0.0, sp + (v - 10.0 - 2.0))
      sn = math.max(0.0, sn + (10.0 - v - 2.0))
      (sp, sn, sp > 20.0 || sn > 20.0)
    }
    val got = out.map(r => (r.getAs[Double]("cusum_pos"),
      r.getAs[Double]("cusum_neg"), r.getAs[Boolean]("is_alarm"))).toSeq
    assert(got == expected)
  }

  test("cusum scores keys independently and resets at zero") {
    val rows = Seq(("a", 0L, 0L, 100.0), ("a", 1L, 1L, 100.0),
      ("b", 0L, 2L, 0.0), ("b", 1L, 3L, 0.0))
    val out = TimeSeries.cusum(rows.toDF("k", "ts", "id", "v"),
        "k", "ts", "v", "id", target = 50.0, slack = 0.0, threshold = 75.0)
      .orderBy("k", "ts").collect()
    // a drifts high: 50, 100 (alarm at row 2); b drifts low symmetrically
    assert(out.map(_.getAs[Double]("cusum_pos")).toSeq == Seq(50.0, 100.0, 0.0, 0.0))
    assert(out.map(_.getAs[Double]("cusum_neg")).toSeq == Seq(0.0, 0.0, 50.0, 100.0))
    assert(out.map(_.getAs[Boolean]("is_alarm")).toSeq ==
      Seq(false, true, false, true))
  }

  // ───────────────────── ewmaSmooth ─────────────────────

  test("ewma matches the renormalized truncated weighting") {
    val vals = Seq(10.0, 20.0, 30.0, 40.0)
    val rows = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, i.toLong, v) }
    val out = TimeSeries.ewmaSmooth(rows.toDF("k", "ts", "id", "v"),
        "k", "ts", "v", "id", alpha = 0.5, lookback = 3)
      .orderBy("ts").collect().map(_.getAs[Double]("ewma")).toSeq
    val w = TimeSeries.ewmaWeights(0.5, 3) // 0.5, 0.25, 0.125
    def ref(vs: Seq[Double]): Double = {
      val pairs = vs.reverse.zip(w)
      pairs.map { case (v, wj) => v * wj }.sum / pairs.map(_._2).sum
    }
    val expected = Seq(ref(Seq(10.0)), ref(Seq(10.0, 20.0)),
      ref(Seq(10.0, 20.0, 30.0)), ref(Seq(20.0, 30.0, 40.0)))
    out.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-6) }
  }

  test("ewma warm-up rows renormalize over visible history only") {
    val rows = Seq(("k", 0L, 0L, 7.0))
    val out = TimeSeries.ewmaSmooth(rows.toDF("k", "ts", "id", "v"),
      "k", "ts", "v", "id", alpha = 0.3, lookback = 5).collect()
    // a single point's smoothed value is itself (weights renormalize)
    assert(math.abs(out.head.getAs[Double]("ewma") - 7.0) < 1e-6)
  }

  // ───────────────────── autocorrelation ─────────────────────

  test("acf: a linear series is perfectly autocorrelated at every lag") {
    // x_t = t → the (x_t, x_{t+k}) pairs are exactly collinear
    val rows = (1 to 12).map(i => ("k", i.toLong, i.toLong, i.toDouble))
    val out = TimeSeries.autocorrelation(rows.toDF("k", "ts", "id", "v"),
        "k", "ts", "v", "id", maxLag = 3)
      .orderBy("lag_k").collect()
    assert(out.map(_.getAs[Int]("lag_k")).toSeq == Seq(1, 2, 3))
    assert(out.map(_.getAs[Long]("n_pairs")).toSeq == Seq(11L, 10L, 9L))
    out.foreach(r => assert(math.abs(r.getAs[Double]("acf") - 1.0) < 1e-6))
  }

  test("acf: an alternating series is anti-correlated at lag 1, " +
      "correlated at lag 2; degenerate lags go null") {
    val vals = Seq(1.0, -1.0, 1.0, -1.0, 1.0, -1.0)
    val rows = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, i.toLong, v) }
    val out = TimeSeries.autocorrelation(rows.toDF("k", "ts", "id", "v"),
        "k", "ts", "v", "id", maxLag = 2)
      .orderBy("lag_k").collect()
    assert(math.abs(out(0).getAs[Double]("acf") + 1.0) < 1e-6)
    assert(math.abs(out(1).getAs[Double]("acf") - 1.0) < 1e-6)
    // a constant series has zero variance on both sides → null
    val const = (1 to 5).map(i => ("c", i.toLong, i.toLong, 3.0))
    val cOut = TimeSeries.autocorrelation(const.toDF("k", "ts", "id", "v"),
      "k", "ts", "v", "id", maxLag = 1).collect()
    assert(cOut.forall(_.isNullAt(cOut.head.fieldIndex("acf"))))
  }

  // ───────────────────── interpolate ─────────────────────

  test("interpolate: time-weighted blend between neighbors, edge fills") {
    val rows = Seq[(String, Long, Long, java.lang.Double)](
      ("k", 0L, 0L, null),             // before first obs → back-fill 10
      ("k", 10L, 1L, Double.box(10.0)),
      ("k", 14L, 2L, null),            // 40% of the way 10 → 20 → 14.0
      ("k", 20L, 3L, Double.box(20.0)),
      ("k", 30L, 4L, null),            // after last obs → forward-fill 20
      ("z", 5L, 5L, null))             // key with no obs at all → null
    val out = TimeSeries.interpolate(rows.toDF("k", "ts", "id", "v"),
        "k", "ts", "v", "id")
      .orderBy("id").collect()
    def vi(i: Int): Option[Double] =
      Option(out(i).getAs[java.lang.Double]("v_interp")).map(_.doubleValue)
    assert(vi(0).contains(10.0))
    assert(vi(1).contains(10.0))
    assert(vi(2).contains(14.0))
    assert(vi(3).contains(20.0))
    assert(vi(4).contains(20.0))
    assert(vi(5).isEmpty)
  }

  // ───────────────────── rollingCorrelation ─────────────────────

  test("rolling correlation tracks the window's local relationship") {
    // first 4 points move together, next 4 move oppositely: with
    // lookback 4 the windows become pure ±1 once homogeneous
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 4.0, 3.0, 2.0)
    val ys = Seq(1.0, 2.0, 3.0, 4.0, 3.0, 4.0, 5.0, 6.0)
    val rows = xs.zip(ys).zipWithIndex.map { case ((x, y), i) =>
      ("k", i.toLong, i.toLong, x, y) }
    val out = TimeSeries.rollingCorrelation(
        rows.toDF("k", "ts", "id", "x", "y"),
        "k", "ts", "id", "x", "y", lookback = 4, minObs = 3)
      .orderBy("ts").collect()
    def corr(i: Int): Option[Double] =
      Option(out(i).getAs[java.lang.Double]("corr")).map(_.doubleValue)
    assert(out.map(_.getAs[Long]("n_win")).toSeq ==
      Seq(1L, 2L, 3L, 4L, 4L, 4L, 4L, 4L))
    assert(corr(0).isEmpty && corr(1).isEmpty)          // below minObs
    assert(math.abs(corr(3).get - 1.0) < 1e-6)          // aligned window
    assert(math.abs(corr(7).get + 1.0) < 1e-6)          // inverted window
  }

  test("rolling correlation: null on either side drops the pair") {
    val rows = Seq[(String, Long, Long, java.lang.Double, java.lang.Double)](
      ("k", 0L, 0L, Double.box(1.0), Double.box(1.0)),
      ("k", 1L, 1L, Double.box(2.0), null),
      ("k", 2L, 2L, Double.box(3.0), Double.box(3.0)),
      ("k", 3L, 3L, Double.box(4.0), Double.box(4.0)))
    val out = TimeSeries.rollingCorrelation(rows.toDF("k", "ts", "id", "x", "y"),
        "k", "ts", "id", "x", "y", lookback = 4, minObs = 3)
      .orderBy("ts").collect()
    assert(out.map(_.getAs[Long]("n_win")).toSeq == Seq(1L, 1L, 2L, 3L))
    assert(math.abs(out(3).getAs[Double]("corr") - 1.0) < 1e-6)
  }

  // ───────────────────── maxDrawdown ─────────────────────

  test("max drawdown is the deepest peak-to-trough fall; 0 when monotone") {
    // cum: 5, 8, 2, 6, 1 → peak-to-trough: 8→1 = 7
    val vals = Seq(5.0, 3.0, -6.0, 4.0, -5.0)
    val rows = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, i.toLong, v) } ++
      Seq(("up", 0L, 9L, 1.0), ("up", 1L, 10L, 2.0))
    val got = TimeSeries.maxDrawdown(rows.toDF("k", "ts", "id", "v"),
        "k", "ts", "v", "id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got("k") == (5L, 7.0))
    assert(got("up") == (2L, 0.0))
  }

  // ───────────────────── seasonalBaseline ─────────────────────

  test("seasonal backtest scores test rows against the train profile") {
    val hour = 3600000000000L
    // train: hour-0 mean 10, hour-1 mean 20; test hits hour-0 with 13
    // and hour-1 with 14 → MAE (3+6)/2, bias (3−6)/2; hour-2 test row
    // has no trained cell → dropped
    val train = Seq((1L, 0L, 8.0), (2L, 1L, 12.0), (3L, hour, 20.0))
      .toDF("id", "ts", "v")
    val test = Seq((4L, 2L, 13.0), (5L, hour + 1, 14.0),
      (6L, 2 * hour, 99.0)).toDF("id", "ts", "v")
    val out = TimeSeries.seasonalForecastBacktest(train, test, "id", "ts", "v")
      .head()
    assert(out.getAs[Long]("n_scored") == 2L)
    assert(out.getAs[Double]("mae") == 4.5)
    assert(out.getAs[Double]("bias") == -1.5)
  }

  test("seasonal baseline is the cell mean; residuals center the cell") {
    val hour = 3600000000000L
    // two observations in hour-0 Thursday, one in hour-1 Thursday
    val rows = Seq((1L, 0L * hour, 10.0), (2L, 0L * hour + 1, 30.0),
      (3L, 1L * hour, 5.0))
    val out = TimeSeries.seasonalBaseline(rows.toDF("id", "ts", "v"),
        "id", "ts", "v")
      .orderBy("id").collect()
    assert(out.map(_.getAs[Int]("dow")).toSeq == Seq(4, 4, 4)) // Thursday
    assert(out.map(_.getAs[Int]("hour")).toSeq == Seq(0, 0, 1))
    assert(out.map(_.getAs[Double]("baseline")).toSeq == Seq(20.0, 20.0, 5.0))
    assert(out.map(_.getAs[Double]("residual")).toSeq == Seq(-10.0, 10.0, 0.0))
  }

  test("rollingOriginBacktest: hand-solved trend series") {
    import spark.implicits._
    // y(p) = p+1 for p = 0..9; season=3, k=2 → score p ∈ {8, 9}:
    // last_value errs 1,1 → 1.0; seasonal errs 3,3 → 3.0;
    // expanding mean preds 4.5, 5.0 → errs 3.5+... → (4.5+5)/2 = 4.75
    val rows = (0 to 9).map(p => (p.toLong, (p + 1).toDouble))
      .toDF("ts", "value")
    val got = TimeSeries.rollingOriginBacktest(rows, "ts", "value",
        anchorNanos = 0L, widthNanos = 1L, season = 3, k = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_scored"), r.getAs[Double]("mae")))).toMap
    assert(got("last_value") == (2L, 1.0))
    assert(got("seasonal_naive") == (2L, 3.0))
    assert(got("expanding_mean") == (2L, 4.75))
  }

  test("rollingOriginBacktest: observed-period lag across gaps") {
    import spark.implicits._
    // periods 0,1,2,4 (gap at 3); k=1 scores p=4 only: last observed
    // period is 2 (pred 3, err 2); seasonal s=2 needs p=2 (pred 3,
    // err 2); expanding mean (1+2+3)/3 = 2 (err 3)
    val rows = Seq((0L, 1.0), (1L, 2.0), (2L, 3.0), (4L, 5.0))
      .toDF("ts", "value")
    val got = TimeSeries.rollingOriginBacktest(rows, "ts", "value",
        anchorNanos = 0L, widthNanos = 1L, season = 2, k = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_scored"), r.getAs[Double]("mae")))).toMap
    assert(got("last_value") == (1L, 2.0))
    assert(got("seasonal_naive") == (1L, 2.0))
    assert(got("expanding_mean") == (1L, 3.0))
  }

  test("rollingOriginBacktest rejects a zero or negative period width") {
    import spark.implicits._
    val rows = Seq((0L, 1.0), (1L, 2.0)).toDF("ts", "value")
    for (width <- Seq(0L, -1L)) {
      val e = intercept[IllegalArgumentException](
        TimeSeries.rollingOriginBacktest(rows, "ts", "value",
          anchorNanos = 0L, widthNanos = width, season = 1, k = 1))
      assert(e.getMessage.contains(s"widthNanos > 0: $width"))
    }
  }
}
