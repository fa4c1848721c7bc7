package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Global-order primitives WITHOUT a single-partition sort: an empty
  * `Window.orderBy(...)` funnels the whole relation through one task —
  * the canonical 1000-executor-cluster serializer — so anything needing
  * global positions (ntile, systematic sampling, exact global ranks)
  * routes through range partitioning + a partition-count-sized offset
  * pass instead (the classic distributed zipWithIndex):
  *
  *  1. `repartitionByRange` on the order key gives a layout where
  *     partition i's rows all precede partition i+1's;
  *  2. a lightweight counting job (one Long per partition) turns local
  *     indices into exact global positions;
  *  3. the consumer maps positions to whatever it needs (every-kth
  *     filter, ntile bucket, rank).
  *
  * Cost: one range shuffle + one counting job that reuses the shuffle
  * files. `orderCols` must be a unique key for determinism.
  */
object GlobalOrder {

  /** Adds `out` = the row's 0-based global position in the
    * `orderCols` sort order. */
  def withGlobalIndex(df: DataFrame, orderCols: Seq[String],
      out: String = "gidx", partitions: Int = 0): DataFrame =
    withGlobalIndexAndCount(df, orderCols, out, partitions)._1

  /** [[withGlobalIndex]] plus the total row count — already known from
    * the per-partition counting pass, so consumers needing n (ntile)
    * don't pay a second action. */
  def withGlobalIndexAndCount(df: DataFrame, orderCols: Seq[String],
      out: String = "gidx", partitions: Int = 0): (DataFrame, Long) =
    withRunningTotal(df, orderCols, out, partitions, weightIdx = -1)

  /** Shared engine for [[withGlobalIndexAndCount]] (`weightIdx` < 0:
    * every row weighs 1) and [[withPrefixSumAndTotal]] (`weightIdx` ≥ 0:
    * the row's weight column): range-partition + local sort, one
    * partition-count-sized counting job, then attach the running total
    * per partition.
    *
    * Both passes stay at the catalyst [[InternalRow]] layer
    * (graftbridge): the previous `.rdd` round-trip deserialized EVERY
    * row to an external Row (encoder per field) and re-serialized it
    * through `Row.fromSeq` + `createDataFrame`'s converter — two
    * per-row boxing walks the appended-long column never needed. The
    * counting job and the attach job run on the SAME RDD, so the range
    * shuffle is written once and its files reused. */
  private def withRunningTotal(df: DataFrame, orderCols: Seq[String],
      out: String, partitions: Int, weightIdx: Int): (DataFrame, Long) = {
    require(orderCols.nonEmpty, "need at least one order column")
    require(!df.columns.contains(out),
      s"global-order helpers emit `$out` — rename the input's first")
    val cols = orderCols.map(col)
    val p = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(p, cols: _*)
      .sortWithinPartitions(cols: _*)
    val rdd = org.apache.spark.sql.graftbridge.ColumnBridge.internalRdd(ranged)
    val wi = weightIdx
    val wName = if (wi < 0) "" else ranged.columns(wi)
    val totals = rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L
      if (wi < 0) it.foreach(_ => s += 1L)
      else it.foreach { r =>
        // UnsafeRow.getLong reads a null as 0: fail instead of summing it
        if (r.isNullAt(wi)) throw new IllegalArgumentException(
          s"weight column `$wName` holds a null; prefix sums need non-null weights")
        s += r.getLong(wi)
      }
      Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val starts = totals.scanLeft(0L)(_ + _)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        org.apache.spark.sql.types.StructField(out,
          org.apache.spark.sql.types.LongType, nullable = false))
    val attached = rdd.mapPartitionsWithIndex[
        org.apache.spark.sql.catalyst.InternalRow] { case (i, it) =>
      // one mutable holder + one JoinedRow per PARTITION: the scan node
      // downstream projects every row into its own buffer, so reused
      // instances are safe (the InternalRow producer contract)
      val extra = new org.apache.spark.sql.catalyst.expressions
        .SpecificInternalRow(Seq(org.apache.spark.sql.types.LongType))
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      var g = starts(i)
      it.map { row =>
        extra.setLong(0, g)
        g += (if (wi < 0) 1L else row.getLong(wi))
        joined(row, extra)
      }
    }
    (org.apache.spark.sql.graftbridge.ColumnBridge.internalCreateDataFrame(
      df.sparkSession, attached, schema), starts.last)
  }

  /** Adds `out` = the EXCLUSIVE running total of `weightCol` in the
    * global `orderCols` order (row i gets the sum of all earlier rows'
    * weights) — the weighted generalization of [[withGlobalIndex]]:
    * with weight 1 it reproduces the global index; with per-value
    * counts it yields exact global CDFs and tie-averaged ranks without
    * any single-partition window.
    *
    * Same cost model: one range shuffle + a per-partition Long-pair
    * counting job whose collected state is partition-count-sized.
    * `weightCol` must be BIGINT and non-null; a null weight fails the
    * call instead of counting as 0.
    */
  def withPrefixSum(df: DataFrame, orderCols: Seq[String],
      weightCol: String, out: String = "prefix_sum",
      partitions: Int = 0): DataFrame =
    withPrefixSumAndTotal(df, orderCols, weightCol, out, partitions)._1

  /** [[withPrefixSum]] plus the grand total of `weightCol` — already
    * known from the per-partition counting pass, so consumers needing
    * the total (CDFs, share-of-total) pay no extra aggregate. */
  def withPrefixSumAndTotal(df: DataFrame, orderCols: Seq[String],
      weightCol: String, out: String = "prefix_sum",
      partitions: Int = 0): (DataFrame, Long) = {
    val wIdx = df.columns.indexOf(weightCol)
    require(wIdx >= 0, s"no column `$weightCol` in ${df.columns.mkString(", ")}")
    require(df.schema(wIdx).dataType ==
      org.apache.spark.sql.types.LongType,
      s"`$weightCol` must be BIGINT (got ${df.schema(wIdx).dataType.sql})")
    withRunningTotal(df, orderCols, out, partitions, wIdx)
  }

  /** Exact global CDF of `valueCol`: one row per distinct value with
    * its count, inclusive cumulative count, and cumulative share — the
    * empirical distribution function at scale (exact percentiles,
    * calibration curves, drift baselines), built on
    * [[withPrefixSumAndTotal]] so no single-partition running-sum
    * window ever exists; the grand total comes free from the counting
    * pass and lands as a literal, not a scalar join.
    *
    * Output: (valueCol, n, cum_n, cdf) with cdf = cum_n/total in
    * DOUBLE rounded to 6. Nulls drop.
    */
  def exactCdf(df: DataFrame, valueCol: String,
      partitions: Int = 0): DataFrame = {
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1)).as("n"))
    val (pre, total) =
      withPrefixSumAndTotal(counts, Seq(valueCol), "n", "__pre", partitions)
    pre.select(col(valueCol), col("n"),
      (col("__pre") + col("n")).as("cum_n"),
      round((col("__pre") + col("n")).cast("double") /
        lit(total).cast("double"), 6).as("cdf"))
  }

  /** ABC contribution analysis: rank keys by descending total value and
    * classify by inclusive cumulative share — A while ≤ `aCut`, B while
    * ≤ `bCut`, C after (the 80/15/5 inventory/revenue-concentration
    * standard). The ranking rides [[withPrefixSumAndTotal]], so no
    * single-partition running-share window exists at any size.
    *
    * Values accumulate as exact DECIMAL(38,2) cents (`valueCol` is
    * money-like); the share is the only double, rounded to 6. Keys tie
    * deterministically by key ascending within equal value.
    *
    * Output: (keyCol, cents, cum_share, abc_class). */
  def abcClassification(df: DataFrame, keyCol: String, valueCol: String,
      aCut: Double = 0.8, bCut: Double = 0.95,
      partitions: Int = 0): DataFrame = {
    require(aCut > 0 && aCut < bCut && bCut < 1,
      s"need 0 < aCut < bCut < 1, got $aCut, $bCut")
    val perKey = df.where(col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg((sum(col(valueCol).cast("decimal(38,2)")) * 100)
        .cast("long").as("cents"))
      .withColumn("__negc", -col("cents"))
    val (pre, total) = withPrefixSumAndTotal(perKey,
      Seq("__negc", keyCol), "cents", "__pre", partitions)
    val share = round((col("__pre") + col("cents")).cast("double") /
      lit(total).cast("double"), 6)
    pre.select(col(keyCol), col("cents"), share.as("cum_share"),
      when(share <= aCut, "A").when(share <= bCut, "B").otherwise("C")
        .as("abc_class"))
  }

  /** Adds `out` = NTILE(k) over the global `orderCols` order — exact
    * SQL NTILE semantics (first n mod k buckets get the extra row),
    * derived arithmetically from the global position, so no
    * single-partition window ever exists in the plan. */
  def ntileAtScale(df: DataFrame, orderCols: Seq[String], k: Int,
      out: String = "ntile", partitions: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val idx = "__ntile_gidx"
    val (indexed, n) = withGlobalIndexAndCount(df, orderCols, idx, partitions)
    val size = n / k
    val rem = n % k
    // SQL NTILE: buckets 1..rem have size+1 rows, the rest size rows
    val g = col(idx)
    val bucket =
      if (size == 0) g + lit(1L) // fewer rows than buckets: row i → tile i+1
      else when(g < lit((size + 1) * rem),
          g.divide(lit(size + 1)).cast("long") + 1L)
        .otherwise(lit(rem) +
          (g - lit((size + 1) * rem)).divide(lit(size)).cast("long") + 1L)
    indexed.withColumn(out, bucket.cast("int")).drop(idx)
  }
}
