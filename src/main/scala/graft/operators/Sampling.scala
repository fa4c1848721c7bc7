package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-reproducible sampling and splitting.
  *
  * `df.sample(fraction, seed)` is partition-layout-dependent: the same
  * seed yields a different sample when the file count, cluster size, or
  * upstream plan changes — unacceptable for a training corpus that must
  * be reproducible across reruns and engines. These operators key the
  * decision on a content hash instead: a row's fate depends only on its
  * key, so samples are stable across runs, partitionings, engines
  * (md5 is md5 everywhere), and are MONOTONE in the fraction (the 10%
  * sample is a subset of the 20% sample — growing a corpus never churns
  * the already-selected rows). Pure map-side filters, no shuffle, no RNG.
  */
object Sampling {

  /** Lowercase-hex md5 threshold covering `fraction` of the hash space:
    * fixed-length hex compares lexicographically == numerically, so
    * `md5(key) < threshold` keeps an unbiased `fraction` of distinct keys. */
  private[operators] def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"bad fraction $fraction")
    if (fraction >= 1.0) "g" // above every hex digit — keeps everything
    else f"${math.min((fraction * (1L << 32)).toLong, 0xffffffffL)}%08x" + "0" * 24
  }

  /** Null keys coalesce to a sentinel before hashing (a bare
    * `concat(null, salt)` is null, and a null hash fails every `<`
    * comparison — null-keyed rows would silently vanish even at
    * fraction 1.0). The sentinel starts with NUL (U+0000), which no cast of a
    * real value produces, so it cannot collide with a genuine key. All
    * null-keyed rows share one fate, like any other duplicate key. */
  private def hash(keyCol: Column, salt: String): Column =
    md5(concat(coalesce(keyCol.cast("string"), lit("\u0000null")), lit(salt)))

  /** Keep rows whose salted key-hash lands in the bottom `fraction` of
    * the hash space. Change `salt` to draw an independent sample. Keys
    * hash as their string form — distinct keys get independent fates;
    * duplicate keys travel together (often exactly what a corpus sample
    * wants: all copies in or all out). Null is one more key value: all
    * null-keyed rows land in the same draw (and are all kept at
    * fraction 1.0). */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
      salt: String = ""): DataFrame =
    df.filter(hash(col(keyCol), salt) < lit(hexThreshold(fraction)))

  /** Deterministic uniform k-sample: the k rows with the smallest salted
    * key-hash — the bottom-k (KMV) sketch as a sample. Unlike
    * [[hashSample]] (fraction-exact in expectation), this pins the exact
    * OUTPUT SIZE; like it, the result is engine-reproducible and
    * partition-independent, and for a fixed salt the k=10 sample is a
    * prefix of the k=20 sample. Plans as TakeOrderedAndProject: a bounded
    * per-partition heap then one k-row merge — never a global sort. */
  def bottomK(df: DataFrame, keyCol: String, k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.orderBy(hash(col(keyCol), salt), col(keyCol))
      .limit(k)
  }

  /** Per-group [[bottomK]]: a deterministic fixed-size uniform sample
    * WITHIN each group — the balanced-panel primitive ("exactly k docs
    * per source", "k users per cohort") that a global sample cannot give
    * (it drifts with group skew). Same hash-order contract as bottomK:
    * engine-reproducible, partition-independent, and prefix-stable in k
    * within each group; groups smaller than k keep every row.
    *
    * Scale shape: a rank-within-group window — Spark caps it with
    * WindowGroupLimit, so at most k rows per group PER PARTITION reach
    * the exchange (map-side top-k, the window twin of the TopK
    * aggregate); never a global sort, never a whole-group sort spill. */
  def bottomKPerGroup(df: DataFrame, groupCol: String, keyCol: String,
      k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    Reserved.guard("bottomKPerGroup", df, "__h", "__rn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__h"), col(keyCol))
    df.withColumn("__h", hash(col(keyCol), salt))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__h", "__rn")
  }

  /** Scale-safe [[bottomKPerGroup]]: a deterministic size-capped
    * uniform sample per group whose window never holds a whole group.
    * [[bottomKPerGroup]]'s row_number window puts each ENTIRE group in
    * one task — correct, but a 10B-row group is a single-task sort.
    * Here a group census (one map-side-combined count) derives a
    * per-group pre-filter `u < oversample·cap/n` on the 52-bit salted
    * key-hash uniform, so the rank window only ever sees
    * ~oversample·cap survivors per group; the rank then pins the exact
    * output size at `min(cap, survivors)`.
    *
    * The TWO-PHASE RULE IS THE DEFINITION — "the `cap` smallest
    * (u, key) rows among those with u below the census threshold" — so
    * an oracle replicating both phases is hash-exact, with no appeal
    * to the (astronomically unlikely, P[Binomial(n, oversample·cap/n)
    * < cap]) undershoot being impossible. Sampling is uniform within
    * each group either way. Groups at/below `cap` keep every row.
    *
    * The quadratic-estimator guard (SURVEY §8.6f): a fixed FRACTION is
    * not scale-safe for pair-generating consumers ([[Profiling.theilSen]]
    * and friends) — pair volume grows with corpus² — while this cap
    * fixes the per-group pair budget at C(cap, 2) forever. */
  def groupCappedSample(df: DataFrame, groupCol: String, keyCol: String,
      cap: Int, salt: String = "", oversample: Double = 4.0): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    require(oversample >= 2.0, s"oversample must be >= 2, got $oversample")
    Reserved.guard("groupCappedSample", df, "__u", "__gn", "__rn", "__cg")
    // 13 hex chars = 52 bits, exact in a double (the sequentialPoisson
    // uniform); the census threshold arithmetic is one IEEE division +
    // multiply — identical in any engine
    val u = conv(substring(hash(col(keyCol), salt), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0)
    // null-safe census join: a null group is one more group (the
    // window's partitionBy treats it so; a bare equi-join would drop it)
    val census = df.groupBy(col(groupCol).as("__cg"))
      .agg(count(lit(1)).as("__gn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__u"), col(keyCol))
    df.withColumn("__u", u)
      .join(census, col(groupCol) <=> col("__cg"))
      .drop("__cg")
      .where(col("__gn") <= cap ||
        col("__u") < lit(oversample) * lit(cap.toDouble) / col("__gn").cast("double"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= cap)
      .drop("__u", "__gn", "__rn")
  }

  /** Deterministic WEIGHTED k-sample without replacement (A-ES,
    * Efraimidis–Spirtakis): rank rows by priority `u^(1/w)` (u uniform)
    * and keep the k largest, which samples each subset with probability
    * proportional to its weights. The priority is realized WITHOUT `pow`
    * — for integer weight w, the max of w independent uniforms has
    * exactly the u^(1/w) distribution (P(max ≤ x) = x^w), so the row's
    * priority is the max of its first w salted hashes: pure hashing,
    * bit-identical in any engine, no libm. Weights must be integers in
    * [1, maxWeight]; the per-row draw array is maxWeight hashes, so keep
    * maxWeight modest (it is a weight RATIO, not a magnitude). Plans as
    * TakeOrderedAndProject like [[bottomK]]. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, maxWeight: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxWeight >= 1, s"maxWeight must be >= 1, got $maxWeight")
    val draws = array((1 to maxWeight).map(j =>
      hash(col(keyCol), s"$salt#$j")): _*)
    val prio = array_max(slice(draws, lit(1), col(weightCol).cast("int")))
    df.withColumn("__prio", prio)
      .orderBy(col("__prio").desc, col(keyCol))
      .limit(k)
      .drop("__prio")
  }

  /** Sequential Poisson sampling (Ohlsson): a weighted-without-
    * replacement sample of k keys with inclusion probability ≈ ∝ the
    * REAL-VALUED `weightCol` — the survey-statistics standard, and the
    * unbounded-weight complement to [[weightedSample]]'s
    * max-of-w-hashes (which needs small integer weights). Priority is
    * u/w with u a deterministic 52-bit uniform from the salted key
    * md5; the k SMALLEST priorities win, so the sample is stable
    * across runs, layouts, and engines, and changing `salt` draws an
    * independent sample.
    *
    * Scale shape: a map-side priority + one TakeOrderedAndProject
    * (per-partition bounded heap, never a global sort). Rows with
    * null/non-positive weight or a null key drop. */
  def sequentialPoisson(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // 13 hex chars = 52 bits — exactly representable in a double
    val u = conv(substring(
        md5(concat(col(keyCol).cast("string"), lit(salt))), 1, 13),
      16, 10).cast("double") / lit(4503599627370496.0)
    df.where(col(keyCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__prio", u / col(weightCol))
      .orderBy(col("__prio"), col(keyCol))
      .limit(k)
      .drop("__prio")
  }

  /** Deterministic stratified sampling: per-stratum fractions through
    * the same salted content-hash threshold — the engine-reproducible
    * twin of `df.stat.sampleBy` (whose seeded RNG is partition-layout-
    * dependent). Each stratum keeps its own unbiased `fraction` of
    * distinct keys, monotone per stratum; strata absent from `fractions`
    * are dropped (sampleBy semantics). Pure map-side filter. */
  def stratifiedHashSample(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], salt: String = ""): DataFrame = {
    require(fractions.nonEmpty, "stratifiedHashSample needs at least one stratum")
    val thr = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(hexThreshold(0.0)): Column) { case (acc, (s, f)) =>
        when(col(strataCol) === s, lit(hexThreshold(f))).otherwise(acc)
      }
    df.filter(hash(col(keyCol), salt) < thr)
  }

  /** Temperature-reweighted SOURCE MIXING — the LLM-pretraining data-mix
    * primitive: given a corpus whose sources are heavily skewed (web ≫
    * books ≫ code), sample each source at a rate ∝ n_s^α / n_s so the
    * output mix follows the tempered distribution n_s^α instead of the
    * raw counts — big sources are downsampled hard, small sources kept
    * (near-)whole. α is fixed at 1/2 (temperature 2) because sqrt is
    * IEEE-EXACT and therefore bit-identical cross-engine — the property
    * the correctness gate needs; a deployment wanting other temperatures
    * swaps in pow() and gives up oracle-exactness, nothing else.
    *
    * Rates are computed IN-PLAN (per-source counts → round-6 sqrt
    * shares summed as DECIMAL — order-independent — → one broadcast
    * scalar), and the per-row keep decision is the deterministic
    * content-hash uniform `u = md5(key‖salt)[0,13) / 2^52 < rate` — so
    * the sample is reproducible across runs, partitionings, and
    * engines, and MONOTONE in `targetRows` (growing the budget only
    * adds rows). Rates cap at 1.0 (sources smaller than their tempered
    * share are kept whole; the output lands slightly under target — the
    * standard one-shot approximation). Null sources mix as their own
    * source; null keys share one fate via the NUL sentinel.
    *
    * Scale shape: one source-keyed count aggregate (map-side combine),
    * one scalar aggregate broadcast back, one source-cardinality join
    * (AQE broadcasts it), then a pure map-side filter. No shuffle of
    * the data itself, no RNG, no driver action. */
  def temperatureMix(df: DataFrame, sourceCol: String, keyCol: String,
      targetRows: Long, salt: String = ""): DataFrame = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    Reserved.guard("temperatureMix", df, "__src", "__n", "__share", "__w", "__rate", "__u")
    val srcKey = coalesce(col(sourceCol).cast("string"), lit("\u0000null"))
    val counts = df.groupBy(srcKey.as("__src"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__share", round(sqrt(col("__n")), 6))
    val wtot = counts.agg(
      sum(col("__share").cast("decimal(38,6)")).cast("double").as("__w"))
    val rates = counts.join(broadcast(wtot))
      .select(col("__src"),
        least(lit(1.0),
          lit(targetRows.toDouble) * col("__share") / col("__w") / col("__n"))
          .as("__rate"))
    val u = conv(substring(hash(col(keyCol), salt), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0) // 2^52
    df.withColumn("__src", srcKey)
      .join(rates, "__src")
      .where(u < col("__rate"))
      .drop("__src", "__rate")
  }

  /** Neyman-allocation stratified sampling: the sampling budget is
    * allocated to strata ∝ N_h·σ_h (stratum size × value stddev) — the
    * minimum-variance allocation for estimating the population mean
    * (Neyman 1934). High-variance strata get oversampled, near-constant
    * strata contribute little; zero-variance and singleton strata get
    * weight 0 (one row already determines them — add a floor upstream if
    * presence is required).
    *
    * Scale shape: identical to [[temperatureMix]] — ONE per-stratum
    * aggregate (count + decimal-exact Σv/Σv², map-side combinable), a
    * 1-row weight total, a broadcast rate join, and the salted
    * content-hash keep rule (deterministic, partition-independent,
    * monotone in the budget; no RNG).
    *
    * Cross-engine reproducibility: σ from the computational formula over
    * per-term ROUND(,6) decimal sums; weights round to 6; the keep
    * uniform is the md5-prefix / 2^52 idiom.
    */
  def neymanAllocation(df: DataFrame, strataCol: String, keyCol: String,
      valueCol: String, totalBudget: Long, salt: String = ""): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    Reserved.guard("neymanAllocation", df,
      "__src", "__n", "__s1", "__s2", "__w", "__wt", "__rate")
    val srcKey = coalesce(col(strataCol).cast("string"), lit("\u0000null"))
    val v = col(valueCol)
    val stats = df.groupBy(srcKey.as("__src")).agg(
      count(lit(1)).as("__n"),
      sum(round(v, 6).cast("decimal(38,6)")).cast("double").as("__s1"),
      sum(round(v * v, 6).cast("decimal(38,6)")).cast("double").as("__s2"))
    val variance = (col("__s2") - col("__s1") * col("__s1") / col("__n")) /
      (col("__n") - lit(1))
    val weights = stats.withColumn("__w",
      round(col("__n") *
        when(col("__n") > 1 && variance > 0, sqrt(variance))
          .otherwise(lit(0.0)), 6))
    val wtot = weights.agg(
      sum(col("__w").cast("decimal(38,6)")).cast("double").as("__wt"))
    val rates = weights.join(broadcast(wtot))
      .select(col("__src"),
        least(lit(1.0),
          lit(totalBudget.toDouble) * col("__w") / col("__wt") / col("__n"))
          .as("__rate"))
    val u = conv(substring(hash(col(keyCol), salt), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0) // 2^52
    df.withColumn("__src", srcKey)
      .join(rates, "__src")
      .where(u < col("__rate"))
      .drop("__src", "__rate")
  }

  /** Leakage-safe fold assignment: every row of a GROUP (a source, a
    * document family, a user) lands in the same fold, so correlated rows
    * can never straddle a train/eval boundary. `cuts` are cumulative
    * fractions (e.g. Seq(0.8, 0.9) → folds 0/1/2 at 80/10/10). Adds an
    * integer `fold` column; assignment is the salted group-hash measured
    * against the cut thresholds — deterministic and engine-reproducible. */
  def groupSplit(df: DataFrame, groupCol: String, cuts: Seq[Double],
      salt: String = ""): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.last < 1.0,
      s"cuts must be ascending cumulative fractions below 1.0: $cuts")
    val h = hash(col(groupCol), salt)
    val fold = cuts.zipWithIndex.foldRight(lit(cuts.size): Column) {
      case ((cut, i), acc) => when(h < lit(hexThreshold(cut)), lit(i)).otherwise(acc)
    }
    df.withColumn("fold", fold)
  }

  /** Systematic (every-kth) sampling along a sort order — the survey
    * design when the frame has a meaningful order (time, id) and the
    * sample must spread evenly across it rather than cluster like an
    * iid draw. Keeps rows at global sorted positions ≡ `offset`
    * (mod `k`); `orderCols` must be a unique key for determinism.
    *
    * Scale shape: the global index is computed WITHOUT a global sort
    * shuffle to one partition — `repartitionByRange` on the order key
    * plus per-partition sort gives a globally ordered layout; a
    * partition-count-sized row-count pass turns local indices into
    * exact global positions (the classic distributed zipWithIndex).
    * Cost: one range shuffle + one lightweight counting job.
    */
  def systematicSample(df: DataFrame, orderCols: Seq[String], k: Int,
      offset: Int = 0, partitions: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(offset >= 0 && offset < k, s"need 0 <= offset < k, got $offset")
    require(orderCols.nonEmpty, "need at least one order column")
    val cols = orderCols.map(col)
    val p = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(p, cols: _*)
      .sortWithinPartitions(cols: _*)
    val schema = ranged.schema
    // one .rdd so the counting job and the filter job share lineage —
    // the range shuffle's files are reused, not recomputed
    val rdd = ranged.rdd
    val counts = rdd
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
      .collect().sortBy(_._1).map(_._2)
    val starts = counts.scanLeft(0L)(_ + _)
    val kept = rdd.mapPartitionsWithIndex { case (i, it) =>
      var g = starts(i)
      it.filter { _ =>
        val keep = g % k == offset
        g += 1
        keep
      }
    }
    df.sparkSession.createDataFrame(kept, schema)
  }
}
