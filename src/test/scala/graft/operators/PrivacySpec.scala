package graft.operators

import graft.SparkSpec

/** k-anonymity / l-diversity audit: violation selection, null QI
  * groups, passing groups absent. */
class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("flags small groups and low-diversity groups, skips passing ones") {
    val df = Seq(
      // group (a,x): 3 rows, 3 distinct sensitive → passes both
      ("a", "x", 1.0), ("a", "x", 2.0), ("a", "x", 3.0),
      // group (a,y): 1 row → k fails (and l with l=2)
      ("a", "y", 9.0),
      // group (b,x): 3 rows but ONE sensitive value → l fails only
      ("b", "x", 7.0), ("b", "x", 7.0), ("b", "x", 7.0))
      .toDF("qi1", "qi2", "s")
    val out = Privacy.kAnonymityAudit(df, Seq("qi1", "qi2"), "s", k = 2, l = 2)
      .orderBy("qi1", "qi2").collect()
    val got = out.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getBoolean(4), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      ("a", "y", 1L, 1L, false, false),
      ("b", "x", 3L, 1L, true, false)))
  }

  test("null quasi-identifier values form their own auditable group") {
    val df = Seq[(java.lang.Long, Double)]((null, 1.0), (1L, 2.0), (1L, 3.0))
      .toDF("qi", "s")
    val out = Privacy.kAnonymityAudit(df, Seq("qi"), "s", k = 2, l = 1)
      .collect()
    assert(out.length == 1 && out.head.isNullAt(0) &&
      out.head.getLong(1) == 1L)
  }

  // ─────────────── DP noisy-count release ───────────────

  test("dp release is deterministic per (group, salt) and salt-sensitive") {
    val df = spark.range(0, 1000)
      .selectExpr("CAST(id % 7 AS STRING) AS g")
    def release(salt: String) =
      Privacy.dpNoisyCounts(df, "g", eps = 0.5, salt = salt)
        .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    val a = release("s1"); val b = release("s1"); val c = release("s2")
    assert(a.toSeq == b.toSeq)          // rerun publishes the SAME numbers
    assert(a.toSeq != c.toSeq)          // a new salt is a new mechanism draw
    assert(a.forall { case (_, v) => math.abs(v - 1000.0 / 7) < 80 })
  }

  test("seeded noise is Laplace(b)-shaped: median |x| near b·ln2, mean near 0") {
    import org.apache.spark.sql.functions._
    val b = 2.0
    val noise = spark.range(0, 10000).toDF("g")
      .select(Privacy.laplaceNoise(col("g"), "spec", b).as("x"))
      .collect().map(_.getDouble(0))
    val mean = noise.sum / noise.length
    val medAbs = noise.map(math.abs).sorted.apply(noise.length / 2)
    assert(math.abs(mean) < 0.15, s"mean $mean")
    assert(math.abs(medAbs - b * math.log(2.0)) < 0.15, s"medianAbs $medAbs")
  }

  // ─────────────── DP noisy sums/means ───────────────

  test("dp sums: clamping bounds an outlier's contribution (the ε claim)") {
    // one group with a 1e9 outlier: clamped to hi=100, the released sum
    // must sit near the clamped total (max |Laplace| at b=200 is
    // 200·52·ln2 ≈ 7.2e3 under the seeded 52-bit uniform), nowhere near 1e9
    val df = (Seq.fill(99)(50.0) :+ 1e9).map(("g1", _)).toDF("g", "v")
    val out = Privacy.dpNoisySums(df, "g", "v", lo = 0.0, hi = 100.0,
      eps = 1.0, salt = "clamp-spec").head()
    val clampedTotal = 99 * 50.0 + 100.0
    assert(math.abs(out.getAs[Double]("sum_noisy") - clampedTotal) < 1e4,
      s"outlier leaked through the clamp: ${out.getAs[Double]("sum_noisy")}")
  }

  test("dp sums: deterministic rerun, independent sum/count draws, mean is post-processing") {
    val df = spark.range(0, 2000)
      .selectExpr("CAST(id % 5 AS STRING) AS g", "CAST(id % 97 AS DOUBLE) AS v")
    def release(salt: String) =
      Privacy.dpNoisySums(df, "g", "v", lo = 0.0, hi = 100.0, eps = 1.0,
        salt = salt).orderBy("g").collect()
    val a = release("s1"); val b = release("s1"); val c = release("s2")
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.map(_.toSeq).toSeq != c.map(_.toSeq).toSeq)
    a.foreach { r =>
      val n = r.getAs[Long]("n").toDouble
      // the count release and the sum release use DIFFERENT seeded
      // draws: count noise at b=2 stays within ±75, and the released
      // count must not be exact (noise actually applied)
      assert(math.abs(r.getAs[Double]("n_noisy") - n) < 75)
      assert(r.getAs[Double]("n_noisy") != n)
      // mean is pure post-processing of the two ROUND-6 releases
      val want = BigDecimal(r.getAs[Double]("sum_noisy") /
          math.max(r.getAs[Double]("n_noisy"), 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("mean_noisy") == want)
    }
  }

  test("dp sums: small-group mean release floors its denominator at 1") {
    // groups of size 1: n_noisy can land below 1 (or negative); the
    // mean must divide by the floored denominator, never blow up
    val df = (0 until 40).map(i => (s"g$i", 10.0)).toDF("g", "v")
    val out = Privacy.dpNoisySums(df, "g", "v", 0.0, 10.0, 1.0, "floor-spec")
      .collect()
    assert(out.exists(_.getAs[Double]("n_noisy") < 1.0),
      "fixture must exercise the floor branch")
    out.foreach { r =>
      val denom = math.max(r.getAs[Double]("n_noisy"), 1.0)
      val want = BigDecimal(r.getAs[Double]("sum_noisy") / denom)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("mean_noisy") == want)
    }
  }

  // ─────────────── user-level DP (contribution bounding) ───────────────

  test("dp user sums: the per-user cap bounds a heavy user (the user-level ε claim)") {
    import spark.implicits._
    // one user with 500 rows of 100 + nine 1-row users of 10: uncapped
    // sum 50,090; capped (3/user) sum 3·100 + 9·10 = 390. At eps=10 the
    // Laplace scale is b_sum = 3·100/5 = 60 (max |x| = 60·52·ln2 ≈ 2.2e3)
    // — the release must sit near the CAPPED total, nowhere near 50k
    val rows = (0 until 500).map(i => ("u0", i, "g1", 100.0)) ++
      (1 to 9).map(u => (s"u$u", 1000 + u, "g1", 10.0))
    val out = Privacy.dpUserSums(rows.toDF("user", "ord", "g", "v"),
      "user", "ord", "g", "v", maxPerUser = 3,
      lo = 0.0, hi = 100.0, eps = 10.0, salt = "u-spec").head()
    assert(out.getAs[Long]("n") == 12L,
      s"cap must keep 3 rows of u0 + 9 singles, got n=${out.getAs[Long]("n")}")
    assert(math.abs(out.getAs[Double]("sum_noisy") - 390.0) < 2500,
      s"heavy user leaked past the cap: ${out.getAs[Double]("sum_noisy")}")
  }

  test("dp user sums: the cap keeps the FIRST rows by orderCol, deterministically") {
    import spark.implicits._
    // u0's first 3 rows by ord are 5.0; later rows are 2000.0 — a cap
    // that picked any other rows would release a sum thousands off
    val rows = (0 until 3).map(i => ("u0", i, "g", 5.0)) ++
      (3 until 40).map(i => ("u0", i, "g", 2000.0))
    val df = rows.toDF("user", "ord", "g", "v")
    def release() = Privacy.dpUserSums(df, "user", "ord", "g", "v",
      maxPerUser = 3, lo = 0.0, hi = 2000.0, eps = 1000.0, salt = "first3")
      .head()
    val out = release()
    // b_sum = 3·2000/500 = 12 → max |noise| ≈ 12·52·ln2 ≈ 433
    assert(math.abs(out.getAs[Double]("sum_noisy") - 15.0) < 500,
      s"cap did not keep the first-by-ord rows: ${out.getAs[Double]("sum_noisy")}")
    assert(release().toSeq == out.toSeq) // rerun publishes the same number
  }

  test("dp user sums rejects an invalid cap") {
    import spark.implicits._
    val df = Seq(("u", 1, "g", 1.0)).toDF("user", "ord", "g", "v")
    intercept[IllegalArgumentException] {
      Privacy.dpUserSums(df, "user", "ord", "g", "v", maxPerUser = 0,
        0.0, 1.0, 1.0, "s")
    }
  }

  test("dp user sums fails loudly on a TIED order key (nondeterministic cap)") {
    import spark.implicits._
    // u0 has 4 rows but ord=2 twice — reruns/task retries could keep
    // either tied row, so the release would not be reproducible. The
    // check runs PRE-cap: with maxPerUser=2 only ONE of the tied pair
    // would survive the cap, so a post-cap distinctness check passes —
    // this is exactly the boundary-tie case the validation must catch.
    val df = Seq(("u0", 1, "g", 1.0), ("u0", 2, "g", 2.0),
      ("u0", 2, "g", 3.0), ("u0", 4, "g", 4.0)).toDF("user", "ord", "g", "v")
    val e = intercept[IllegalArgumentException] {
      Privacy.dpUserSums(df, "user", "ord", "g", "v", maxPerUser = 2,
        0.0, 10.0, 1.0, "s")
    }
    assert(e.getMessage.contains("tied order key"))
  }

  test("dp user sums fails loudly on a NULL order key") {
    import spark.implicits._
    val df = Seq(("u0", Some(1), "g", 1.0), ("u0", None, "g", 2.0))
      .toDF("user", "ord", "g", "v")
    val e = intercept[IllegalArgumentException] {
      Privacy.dpUserSums(df, "user", "ord", "g", "v", maxPerUser = 2,
        0.0, 10.0, 1.0, "s")
    }
    assert(e.getMessage.contains("NULL order key"))
  }

  test("dp user sums fails fast on a non-integral order key type") {
    import spark.implicits._
    // a string (or double/decimal) key casts to long lossily — distinct
    // keys can collapse or null out, silently voiding the deterministic
    // cap; the API must reject the TYPE before touching any data
    val df = Seq(("u0", "2021-01-01", "g", 1.0)).toDF("user", "ord", "g", "v")
    val e = intercept[IllegalArgumentException] {
      Privacy.dpUserSums(df, "user", "ord", "g", "v", maxPerUser = 2,
        0.0, 10.0, 1.0, "s")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("dp user sums: a unique non-null integral key still releases (contract intact)") {
    import spark.implicits._
    val df = Seq(("u0", 1, "g", 1.0), ("u0", 2, "g", 2.0),
      ("u1", 1, "g", 3.0)).toDF("user", "ord", "g", "v")
    // ord unique PER USER (not globally) is the contract — u0 and u1
    // sharing ord=1 must NOT trip the (user, ord) keyed check
    val out = Privacy.dpUserSums(df, "user", "ord", "g", "v",
      maxPerUser = 2, 0.0, 10.0, 1000.0, "s").head()
    assert(out.getAs[Long]("n") == 3L)
  }

  // ─────────────── DP noisy quantile (exponential mechanism) ───────────────

  test("dp quantile: high-epsilon release lands at the true median cell") {
    // 10k values uniform on [0, 100): true median 50; at eps=50 the
    // utility term dominates every Gumbel draw (score gap between the
    // best and second-best cell is eps/2 = 25 per unit rank error,
    // Gumbel spread is O(1)) — the mechanism must pick the median cell
    val df = spark.range(0, 10000)
      .selectExpr("'g' AS g", "CAST((id * 37) % 100 AS DOUBLE) AS v")
    val out = Privacy.dpNoisyQuantile(df, "g", "v", q = 0.5,
      lo = 0.0, hi = 100.0, bins = 50, eps = 50.0, salt = "acc").head()
    val released = out.getAs[Double]("value_released")
    assert(math.abs(released - 50.0) <= 2.0,
      s"high-eps median release drifted: $released")
    assert(out.getAs[Long]("n") == 10000L)
  }

  test("dp quantile: deterministic rerun, salt-sensitive, q respected") {
    val df = spark.range(0, 5000)
      .selectExpr("CAST(id % 3 AS STRING) AS g",
        "CAST((id * 13) % 200 AS DOUBLE) AS v")
    def release(salt: String, q: Double) =
      Privacy.dpNoisyQuantile(df, "g", "v", q, 0.0, 200.0, 64, 20.0, salt)
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getAs[Double]("value_released")))
    val a = release("s1", 0.5); val b = release("s1", 0.5)
    assert(a.toSeq == b.toSeq)
    // at high eps the q=0.9 release must sit well above the q=0.1 one
    val lo = release("s1", 0.1); val hi = release("s1", 0.9)
    lo.zip(hi).foreach { case ((g1, vLo), (g2, vHi)) =>
      assert(g1 == g2 && vHi > vLo + 100.0,
        s"group $g1: q=0.9 release $vHi vs q=0.1 $vLo")
    }
  }

  test("dp quantile rejects invalid q / bins / bounds / salt") {
    val df = Seq(("a", 1.0)).toDF("g", "v")
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisyQuantile(df, "g", "v", 0.0, 0.0, 1.0, 8, 1.0, "x")
    }
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisyQuantile(df, "g", "v", 0.5, 0.0, 1.0, 1, 1.0, "x")
    }
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisyQuantile(df, "g", "v", 0.5, 1.0, 1.0, 8, 1.0, "x")
    }
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisyQuantile(df, "g", "v", 0.5, 0.0, 1.0, 8, 1.0, "")
    }
  }

  test("dp sums rejects invalid bounds / epsilon / empty salt") {
    val df = Seq(("a", 1.0)).toDF("g", "v")
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisySums(df, "g", "v", 5.0, 5.0, 1.0, "x")
    }
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisySums(df, "g", "v", 0.0, 5.0, 0.0, "x")
    }
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisySums(df, "g", "v", 0.0, 5.0, 1.0, "")
    }
  }

  test("dp release rejects invalid epsilon / sensitivity / empty salt") {
    val df = Seq("a").toDF("g")
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisyCounts(df, "g", eps = 0.0, salt = "x")
    }
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisyCounts(df, "g", eps = 1.0, salt = "x", sensitivity = 0.0)
    }
    assertThrows[IllegalArgumentException] {
      Privacy.dpNoisyCounts(df, "g", eps = 1.0, salt = "")
    }
  }

  test("dp user sums: validate=false skips the keyed check but releases identically") {
    import spark.implicits._
    val df = Seq(("u0", 1, "g", 1.0), ("u0", 2, "g", 2.0),
      ("u1", 1, "g", 3.0)).toDF("user", "ord", "g", "v")
    val strict = Privacy.dpUserSums(df, "user", "ord", "g", "v",
      maxPerUser = 2, 0.0, 10.0, 1.0, "s").collect().toSeq
    val fast = Privacy.dpUserSums(df, "user", "ord", "g", "v",
      maxPerUser = 2, 0.0, 10.0, 1.0, "s", validate = false).collect().toSeq
    assert(strict == fast) // the escape hatch changes cost, never values
    // ...and with validate=false a TIED key does NOT raise at build time
    // (the caller took responsibility for the contract upstream)
    val tied = Seq(("u0", 2, "g", 1.0), ("u0", 2, "g", 2.0))
      .toDF("user", "ord", "g", "v")
    Privacy.dpUserSums(tied, "user", "ord", "g", "v",
      maxPerUser = 1, 0.0, 10.0, 1.0, "s", validate = false) // no throw
    // the TYPE check stays unconditional: it is free and its failure
    // mode (lossy cast) is silent even for upstream-validated callers
    val str = Seq(("u0", "x", "g", 1.0)).toDF("user", "ord", "g", "v")
    val e = intercept[IllegalArgumentException] {
      Privacy.dpUserSums(str, "user", "ord", "g", "v",
        maxPerUser = 1, 0.0, 10.0, 1.0, "s", validate = false)
    }
    assert(e.getMessage.contains("integral"))
  }
}
