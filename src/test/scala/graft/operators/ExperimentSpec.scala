package graft.operators

import graft.SparkSpec

/** CUPED semantics: expectation preserved, variance explained by the
  * covariate removed, degenerate covariate handled. */
class ExperimentSpec extends SparkSpec {
  import spark.implicits._

  test("adjustment corrects a finite-sample covariate imbalance") {
    // near-randomized: a drew the odd X values, b the even ones — a
    // 1-unit accidental X̄ gap. Y = X + 5·1{a}: the raw gap reads 4,
    // the CUPED-adjusted gap recovers the true effect ≈ 5.
    val rows =
      (1 to 50).map(i => ("a", (2 * i - 1).toDouble, (2 * i - 1) + 5.0)) ++
      (1 to 50).map(i => ("b", (2 * i).toDouble, (2 * i).toDouble))
    val out = Experiment.cupedAdjust(rows.toDF("v", "x", "y"), "v", "y", "x")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("mean_y"), r.getAs[Double]("mean_y_adj"))).toMap
    val rawGap = out("a")._1 - out("b")._1
    val adjGap = out("a")._2 - out("b")._2
    assert(math.abs(rawGap - 4.0) < 1e-6) // biased by the X̄ imbalance
    assert(math.abs(adjGap - 5.0) < 0.05) // the true effect
  }

  test("theta is cov/var and var_ratio is 1 - rho^2") {
    // Y perfectly linear in X → theta = slope, var_ratio ≈ 0
    val rows = (1 to 40).map(i => ("v", i.toDouble, 3.0 * i + 7))
    val r = Experiment.cupedAdjust(rows.toDF("v", "x", "y"), "v", "y", "x")
      .head()
    assert(math.abs(r.getAs[Double]("theta") - 3.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("var_ratio")) < 1e-6)
  }

  test("grand mean of adjusted values equals the raw grand mean") {
    val rows = (1 to 30).map(i =>
      (if (i % 2 == 0) "a" else "b", (i % 7).toDouble, (i % 5 + i % 3).toDouble))
    val out = Experiment.cupedAdjust(rows.toDF("v", "x", "y"), "v", "y", "x")
      .collect()
    val n = out.map(_.getAs[Long]("n")).sum.toDouble
    val raw = out.map(r => r.getAs[Double]("mean_y") * r.getAs[Long]("n")).sum / n
    val adj = out.map(r => r.getAs[Double]("mean_y_adj") * r.getAs[Long]("n")).sum / n
    assert(math.abs(raw - adj) < 1e-5) // θ·Σ n_v·(x̄_v − x̄) = 0
  }

  test("ipwAte: hand-solved confounded strata, positivity exclusion") {
    import spark.implicits._
    // stratum a: treated {10,12}, control {8} (e=2/3);
    // stratum b: treated {4}, control {2,2,2} (e=1/4);
    // stratified/IPW ATE = (3/7)·3 + (4/7)·2 = 17/7; naive = 26/3 − 3.5
    // stratum c is all-treated → excluded (positivity)
    val rows = Seq(
      ("a", true, 10.0), ("a", true, 12.0), ("a", false, 8.0),
      ("b", true, 4.0), ("b", false, 2.0), ("b", false, 2.0),
      ("b", false, 2.0),
      ("c", true, 99.0))
      .toDF("x", "t", "y")
    val r = Experiment.ipwAte(rows, "t", "y", "x").head()
    assert(r.getAs[Long]("n_used") == 7L)
    assert(r.getAs[Long]("n_excluded_strata") == 1L)
    assert(r.getAs[Double]("ate") == 2.428571)        // 17/7
    assert(r.getAs[Double]("naive_diff") == 5.166667) // confounded up
    assert(r.getAs[Double]("ess_treated") == 2.390244)  // 49/20.5
    assert(r.getAs[Double]("ess_control") == 3.418605)  // 49/(43/3)
  }

  test("diffInDiffs: hand-solved 2x2 cells") {
    import spark.implicits._
    val rows = Seq(
      (false, false, 1.0), (false, false, 1.0),
      (false, true, 2.0),
      (true, false, 3.0),
      (true, true, 7.0), (true, true, 7.0))
      .toDF("t", "p", "y")
    val r = Experiment.diffInDiffs(rows, "t", "p", "y").head()
    assert(r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("mean_c_pre") == 1.0)
    assert(r.getAs[Double]("mean_c_post") == 2.0)
    assert(r.getAs[Double]("mean_t_pre") == 3.0)
    assert(r.getAs[Double]("mean_t_post") == 7.0)
    assert(r.getAs[Double]("did") == 3.0)
  }

  // ─────────────── mSPRT always-valid sequential test ───────────────

  test("msprt: null effect stays accepted, planted effect eventually rejects") {
    // 40 periods × 200 obs/arm; deterministic pseudo-noise from the id
    def corpus(uplift: Double) = spark.range(0, 16000).selectExpr(
        "id % 40 AS period", "(id DIV 40) % 2 = 0 AS treat",
        // hash-derived noise in [0, 1)
        "(abs(hash(id)) % 1000) / 1000.0 AS u")
      .selectExpr("period", "treat",
        s"u + CASE WHEN treat THEN $uplift ELSE 0.0 END AS y")
    val nullRun = Experiment.msprt(corpus(0.0), "treat", "period", "y",
      tauSq = 1.0, alpha = 0.05).orderBy("period").collect()
    assert(nullRun.forall(!_.getAs[Boolean]("reject")),
      "null effect must never reject at alpha=0.05 on this draw")
    val effectRun = Experiment.msprt(corpus(0.5), "treat", "period", "y",
      tauSq = 1.0, alpha = 0.05).orderBy("period").collect()
    assert(effectRun.last.getAs[Boolean]("reject"),
      "a 0.5 uplift over U(0,1) noise must reject by period 40")
    // the envelope is monotone and the rejection is absorbing
    val maxes = effectRun.map(_.getAs[Double]("ln_lambda_max"))
    assert(maxes.sliding(2).forall(p => p(0) <= p(1) + 1e-9))
    val firstReject = effectRun.indexWhere(_.getAs[Boolean]("reject"))
    assert(effectRun.drop(firstReject).forall(_.getAs[Boolean]("reject")))
  }

  test("msprt: degenerate periods (arm below 2 obs) yield null ln_lambda, no reject") {
    val df = Seq(
      (0L, true, 1.0), (0L, false, 2.0), // 1 obs/arm at period 0
      (1L, true, 1.5), (1L, false, 2.5)) // cumulative: 2/arm at period 1
      .toDF("period", "treat", "y")
    val out = Experiment.msprt(df, "treat", "period", "y", 1.0, 0.05)
      .orderBy("period").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("ln_lambda")))
    assert(!out(0).getAs[Boolean]("reject"))
  }

  test("msprt rejects invalid tau/alpha") {
    val df = Seq((0L, true, 1.0)).toDF("period", "treat", "y")
    assertThrows[IllegalArgumentException] {
      Experiment.msprt(df, "treat", "period", "y", 0.0, 0.05)
    }
    assertThrows[IllegalArgumentException] {
      Experiment.msprt(df, "treat", "period", "y", 1.0, 1.5)
    }
  }
}
