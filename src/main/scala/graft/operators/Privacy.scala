package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Re-identification risk audits — the privacy gate a dataset passes
  * before release or training: k-anonymity (every quasi-identifier
  * combination is shared by ≥ k records) and l-diversity (each
  * combination carries ≥ l distinct sensitive values, so membership in
  * a group doesn't disclose the attribute). The structured-data
  * complement to the text-side PII scrubbing.
  *
  * Scale shape: ONE aggregate keyed on the quasi-identifier columns
  * computing group size and distinct-sensitive count together; the
  * output is restricted to VIOLATING groups, so result size is bounded
  * by the risk surface, not the table.
  */
object Privacy {

  /** Groups failing k-anonymity (n < k) or l-diversity
    * (distinct sensitive < l). Output: quasiCols +
    * (n, n_sensitive, k_ok, l_ok). Null QI values form their own
    * groups (a null combination is as linkable as any other). */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Int, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2, got $k")
    require(l >= 1, s"l must be >= 1, got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .select(quasiCols.map(col) ++ Seq(
        col("n"), col("n_sensitive"),
        (col("n") >= k).as("k_ok"),
        (col("n_sensitive") >= l).as("l_ok")): _*)
      .where(!col("k_ok") || !col("l_ok"))
  }

  // ───────────────────── differential-privacy release ─────────────────────

  /** Laplace-mechanism noisy group counts — the release shape a privacy
    * team actually ships: per-group `count + Lap(sensitivity/ε)` with the
    * EXACT count never leaving the job.
    *
    * Noise is SEEDED, not sampled: per group,
    * `u = md5₅₂(group ‖ salt) / 2^52 ∈ [0,1)` and the Laplace
    * inverse-CDF `x = −b · sgn(u−½) · ln(1 − 2|u−½|)` with
    * `b = sensitivity/ε`. Determinism is what makes the release
    * reproducible (reruns/backfills publish the SAME number — a fresh
    * draw per run would let an observer average the noise away) and
    * what lets the DuckDB oracle recompute it bit-for-bit. The salt
    * plays the key role: it must stay secret and never be reused across
    * releases of the same statistic, exactly like a DP seed.
    *
    * Scale shape: one keyed aggregate; the noise is map-side scalar math
    * over the group relation. Cross-engine parity: u, u−½, 1−2|u−½| are
    * all exact binary fractions; only `ln` is libm (±1 ulp) and the
    * round-6 output absorbs it (the q_j_haversine discipline).
    *
    * Output: groupCol, `n_noisy` (round-6 double, can be negative —
    * consumers clamp, the mechanism must not), `epsilon`. */
  def dpNoisyCounts(df: DataFrame, groupCol: String, eps: Double,
      salt: String, sensitivity: Double = 1.0): DataFrame = {
    require(eps > 0, s"epsilon must be positive, got $eps")
    require(sensitivity > 0, s"sensitivity must be positive, got $sensitivity")
    require(salt.nonEmpty, "salt (the release seed) must be non-empty")
    val b = sensitivity / eps
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"))
      .select(col(groupCol),
        round(col("__n") + laplaceNoise(col(groupCol), salt, b), 6)
          .as("n_noisy"),
        lit(eps).as("epsilon"))
  }

  /** Laplace-mechanism noisy sums and means with CLAMPED sensitivity —
    * the release shape for numeric statistics (counts alone rarely
    * satisfy a release request). Per group over non-null values:
    *
    *   - values clamp to `[lo, hi]` FIRST (clamping bounds each row's
    *     contribution, which is what defines the sum's sensitivity —
    *     without it a single outlier row makes the mechanism's ε claim
    *     false);
    *   - `sum_noisy` = Σ clamped + Lap(max(|lo|,|hi|) / (ε/2));
    *   - `n_noisy`   = n + Lap(1 / (ε/2));
    *   - `mean_noisy` = sum_noisy / max(n_noisy, 1) — pure
    *     POST-PROCESSING of the two released numbers (costs no extra ε;
    *     the max(·,1) floor keeps a small-group release finite).
    *
    * The ε budget splits evenly across the two queries (sum + count) by
    * sequential composition. Noise is SEEDED per (group, statistic) —
    * the salt decorrelates the two draws (`salt:s` / `salt:n`) so the
    * released pair doesn't share noise, and reruns publish identical
    * numbers (see [[dpNoisyCounts]]).
    *
    * Scale shape: ONE keyed aggregate (count + round-6 decimal sum of
    * clamped values); noise and the mean are map-side scalar math over
    * the group relation. Cross-engine parity: clamping via CASE-style
    * comparisons on shared doubles, decimal sum cast to double, noisy
    * sum/count ROUND-6 FIRST and the mean divides the two rounded
    * releases (shared-double IEEE), rounded 6 at the edge.
    *
    * Output: groupCol, `n`, `n_noisy`, `sum_noisy`, `mean_noisy`
    * (noisy values round-6 double, can be negative — consumers clamp,
    * the mechanism must not), `epsilon`. The exact `n` column is for
    * the GATE's accuracy context only — a real release must drop it. */
  def dpNoisySums(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, eps: Double, salt: String): DataFrame =
    noisySumsRelease(df, groupCol, valueCol, lo, hi, eps, salt, sensMult = 1.0)

  /** USER-level DP noisy sums/means — [[dpNoisySums]] is row-level (one
    * row in or out moves the sum by one clamp); a real training-data
    * release protects USERS, who contribute MANY rows. The standard
    * recipe (Wilson et al. 2020, "Differentially Private SQL") bounds
    * each user's contribution FIRST, and the cap is what DEFINES the
    * release's sensitivity:
    *
    *   - keep at most `maxPerUser` rows per `userCol` — the FIRST rows
    *     by `orderCol`, which must be an INTEGRAL, UNIQUE, NON-NULL key
    *     per user (the cap must be deterministic or the release isn't
    *     reproducible) — all three ENFORCED, not just documented: type
    *     at build time, ties/nulls by a keyed validation aggregate
    *     (one eager pass; `validate = false` skips it for callers that
    *     enforce the key contract upstream);
    *   - after the cap, adding/removing one user changes at most
    *     `maxPerUser` rows ANYWHERE in the group vector, so the L1
    *     sensitivity of the summed release is
    *     `maxPerUser · max(|lo|, |hi|)` and of the count release
    *     `maxPerUser` — the Laplace scales multiply accordingly;
    *   - everything downstream (clamp, ε split across sum+count, seeded
    *     per-(group, statistic) noise, round-6 mean post-processing) is
    *     exactly [[dpNoisySums]].
    *
    * Scale shape: ONE per-user row_number window (keyed by user — full
    * parallelism across users; this is the idiom TopKWindowRewrite
    * bounds when it applies) + the same single keyed aggregate. Without
    * the cap the ε claim is FALSE for any user with many rows — the
    * noise would have to scale with the heaviest user's row count. */
  def dpUserSums(df: DataFrame, userCol: String, orderCol: String,
      groupCol: String, valueCol: String, maxPerUser: Int,
      lo: Double, hi: Double, eps: Double, salt: String,
      validate: Boolean = true): DataFrame = {
    require(maxPerUser >= 1, s"maxPerUser must be >= 1, got $maxPerUser")
    // the cap is deterministic ONLY under an integral, unique, non-null
    // order key: a string/double/decimal key would cast(long) to null or
    // truncate (collapsing distinct keys onto one sentinel), and a tied
    // or null key lets reruns/task retries keep DIFFERENT rows — the DP
    // sensitivity bound still holds, but the documented
    // reproducible-release contract is silently voided. Fail loudly on
    // all three: the type at build time, ties/nulls with one keyed
    // validation aggregate over the cap's input (checking PRE-cap
    // catches ties AT the cap boundary, where exactly one of the tied
    // pair would survive and a post-cap distinctness check passes).
    val odt = df.schema(orderCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(odt),
      s"orderCol '$orderCol' must be an integral type — got " +
        s"${odt.catalogString}, whose cast to long is lossy, making the " +
        "per-user cap (and thus the DP release) nondeterministic")
    val inRows = df.where(col(valueCol).cast("double").isNotNull)
    // the ties/nulls check is one eager keyed aggregate over the input —
    // the right default for a privacy API (fail loudly beats a
    // nondeterministic release), but an extra full pass on EVERY call;
    // callers that enforce the key contract upstream (e.g. the order key
    // is a storage-level primary key, or one release loop re-caps the
    // same validated input) pass validate=false to keep the hot path
    // one-pass. The TYPE check above stays unconditional (it's free).
    if (validate) {
      val badKey = inRows
        .groupBy(col(userCol).as("__u"), col(orderCol).as("__o"))
        .agg(count(lit(1)).as("__c"))
        .where(col("__c") > 1 || col("__o").isNull)
        .limit(1).collect()
      require(badKey.isEmpty, {
        val r = badKey.head
        val what = if (r.isNullAt(1)) "a NULL order key" else s"a tied order key (${r.get(1)})"
        s"orderCol '$orderCol' must be unique and non-null per ($userCol) — " +
          s"found $what for user ${r.get(0)}: the per-user cap (and thus the " +
          "DP release) would be nondeterministic across reruns/retries"
      })
    }
    // the coalesce proves the order key non-null to the optimizer
    // (validation above proves it to us), so the cap window is
    // TopKWindowRewrite's ASC "first k" shape (bounded heap, k rows per
    // user per partition at the exchange)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(coalesce(col(orderCol).cast("long"), lit(Long.MaxValue)))
    val capped = inRows
      .withColumn("__urn", row_number().over(w))
      .where(col("__urn") <= maxPerUser)
      .drop("__urn")
    noisySumsRelease(capped, groupCol, valueCol, lo, hi, eps, salt,
      sensMult = maxPerUser.toDouble)
  }

  /** Shared Laplace sum/count/mean release body; `sensMult` is the
    * per-unit contribution bound (1 = row-level, `maxPerUser` =
    * user-level after capping). */
  private def noisySumsRelease(df: DataFrame, groupCol: String,
      valueCol: String, lo: Double, hi: Double, eps: Double, salt: String,
      sensMult: Double): DataFrame = {
    require(eps > 0, s"epsilon must be positive, got $eps")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    require(salt.nonEmpty, "salt (the release seed) must be non-empty")
    val bSum = sensMult * math.max(math.abs(lo), math.abs(hi)) / (eps / 2.0)
    val bCnt = sensMult / (eps / 2.0)
    val v = col(valueCol).cast("double")
    // clamp with when-chains, not least/greatest: DuckDB's LEAST over
    // mixed decimal/double degrades non-correctly-rounded (round-5 trap)
    val clamped = when(v < lit(lo), lit(lo))
      .when(v > lit(hi), lit(hi)).otherwise(v)
    val g = col(groupCol)
    df.where(v.isNotNull)
      .groupBy(g)
      .agg(count(lit(1)).as("__n"),
        sum(round(clamped, 6).cast("decimal(38,6)")).as("__s"))
      .select(g,
        col("__n").cast("bigint").as("n"),
        round(col("__n") + laplaceNoise(g, s"$salt:n", bCnt), 6)
          .as("n_noisy"),
        round(col("__s").cast("double") + laplaceNoise(g, s"$salt:s", bSum), 6)
          .as("sum_noisy"),
        lit(eps).as("epsilon"))
      .withColumn("mean_noisy",
        round(col("sum_noisy") /
          when(col("n_noisy") < 1.0, lit(1.0)).otherwise(col("n_noisy")), 6))
      .select(g, col("n"), col("n_noisy"), col("sum_noisy"),
        col("mean_noisy"), col("epsilon"))
  }

  /** Exponential-mechanism noisy QUANTILE release (McSherry–Talwar via
    * Smith 2011) — the third release shape ([[dpNoisyCounts]] /
    * [[dpNoisySums]] cover counts and moments; medians and percentiles
    * need a mechanism whose sensitivity is in RANK space, where adding
    * one row moves any rank count by at most 1):
    *
    *   - the clamped domain `[lo, hi)` splits into `bins` equal cells;
    *   - cell utility u_b = −|below_b − q·n| (how far the cell's lower
    *     edge sits from the target rank; Δu = 1);
    *   - a cell is selected with P ∝ exp(ε·u_b/2), realized
    *     DETERMINISTICALLY by the Gumbel-max trick over seeded uniforms
    *     (argmax of ε·u_b/2 + Gumbel(u), u = md5₅₂(group‖salt‖bin)) —
    *     reruns release the same cell, and a SQL twin replays the
    *     argmax;
    *   - the release is the selected cell's midpoint.
    *
    * Scale shape: ONE (group, bin) keyed aggregate over data; the
    * group × bins panel (config-sized — bins ≤ 1024) carries the
    * cumulative ranks, scores and argmax. Parity: counts and q·n-vs-rank
    * differences are exact (q rides as a shared literal; err doubles are
    * integer-valued or exact halves), the Gumbel double-ln is libm and
    * the ROUND-6 score absorbs its ulp BEFORE the argmax comparison (the
    * msprt reject discipline — a discrete selection can't absorb
    * rounding after the fact); ties break to the LOWEST bin.
    *
    * Output: groupCol, `n`, `q`, `bin_released`, `value_released` (cell
    * midpoint, round-6), `epsilon`. The exact `n` column is gate context
    * — a real release pairs this with a noisy count instead. */
  def dpNoisyQuantile(df: DataFrame, groupCol: String, valueCol: String,
      q: Double, lo: Double, hi: Double, bins: Int, eps: Double,
      salt: String): DataFrame = {
    require(q > 0 && q < 1, s"q must be in (0,1), got $q")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    require(bins >= 2 && bins <= 1024,
      s"bins must be config-sized in [2, 1024], got $bins")
    require(eps > 0, s"epsilon must be positive, got $eps")
    require(salt.nonEmpty, "salt (the release seed) must be non-empty")
    val width = (hi - lo) / bins
    val v = col(valueCol).cast("double")
    val clamped = when(v < lit(lo), lit(lo))
      .when(v > lit(hi), lit(hi)).otherwise(v)
    // bin = floor((v − lo)/width) clamped into [0, bins−1] (v = hi tops out)
    val binIdx = least(lit(bins - 1L),
      floor((clamped - lit(lo)) / lit(width)).cast("long"))
    val g = col(groupCol)
    val cells = df.where(v.isNotNull)
      .groupBy(g.as("__g"), binIdx.as("__b"))
      .agg(count(lit(1)).as("__c"))
    // full group × bin panel (empty cells score too) — a literal ladder
    // exploded against the per-group total, then left-joined counts
    val totals = cells.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    val ladder = totals.select(col("__g"), col("__n"),
      explode(typedLit((0L until bins.toLong).toSeq)).as("__b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val scoredPanel = ladder
      .join(cells, Seq("__g", "__b"), "left").na.fill(0L, Seq("__c"))
      .withColumn("__below", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__u",
        -abs(col("__below").cast("double") - lit(q) * col("__n").cast("double")))
      .withColumn("__score", round(
        lit(eps) * col("__u") / lit(2.0) +
          gumbelNoise(concat_ws("|", col("__g").cast("string"),
            col("__b").cast("string")), salt), 6))
    val sel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g"))
      .orderBy(col("__score").desc, col("__b"))
    scoredPanel
      .withColumn("__rn", row_number().over(sel))
      .where(col("__rn") === 1)
      .select(col("__g").as(groupCol),
        col("__n").cast("bigint").as("n"),
        lit(q).as("q"),
        col("__b").cast("bigint").as("bin_released"),
        round(lit(lo) + (col("__b") + lit(0.5)) * lit(width), 6)
          .as("value_released"),
        lit(eps).as("epsilon"))
  }

  /** Seeded standard-Gumbel noise keyed on `key ‖ salt`: u as in
    * [[laplaceNoise]], g = −ln(−ln(u)) with the same u→0 ulp nudge (and
    * u is always < 1, so the inner ln is strictly negative). */
  private[operators] def gumbelNoise(key: Column, salt: String): Column = {
    val u = conv(substring(md5(concat_ws(":", key.cast("string"), lit(salt))),
      1, 13), 16, 10).cast("double") / lit(4503599627370496.0)
    val t = greatest(u, lit(2.220446049250313e-16))
    -log(-log(t))
  }

  /** Seeded Laplace(b) noise keyed on `key ‖ salt` (see
    * [[dpNoisyCounts]]). u = 0 exactly (P = 2^−52 per group) would send
    * ln to −∞; it is nudged one ulp in, matching the oracle's GREATEST
    * guard. NULL-key contract: `concat_ws` skips nulls, so a null group
    * draws its noise from the salt alone ("salt" — unambiguous, since
    * every non-null key hashes "<key>:salt"); a SQL twin over a
    * null-bearing group column must mirror with
    * `COALESCE(key || ':' || salt, salt)`. */
  private[operators] def laplaceNoise(key: Column, salt: String,
      b: Double): Column = {
    val u = conv(substring(md5(concat_ws(":", key.cast("string"), lit(salt))),
      1, 13), 16, 10).cast("double") / lit(4503599627370496.0)
    val t = greatest(lit(1.0) - lit(2.0) * abs(u - lit(0.5)),
      lit(2.220446049250313e-16))
    val sgn = when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0))
    lit(-b) * sgn * log(t)
  }
}
