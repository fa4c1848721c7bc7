package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval algebra over per-key validity/activity ranges — the
  * "gaps and islands" family: coalescing overlapping intervals into
  * maximal covered spans (entity timelines, maintenance windows,
  * coverage audits) without any interval self-join.
  *
  * Scale shape: ONE key-partitioned window pass — a running max of
  * interval ends (incremental frame) marks island starts, a running
  * sum of the marks numbers the islands — then one (key, island)
  * aggregate. State per task is bounded by the key's own rows.
  */
object Intervals {

  /** GLOBAL peak concurrency of a set of intervals — the sweep-line
    * max (how many intervals overlap at the busiest instant): capacity
    * planning, max parallel sessions, license counting. The classic
    * formulation is a +1/−1 delta stream under a GLOBAL ordered
    * running sum — the single-partition-window serializer — so this
    * one rides [[GlobalOrder.withPrefixSumAndTotal]] instead: range
    * partition on the sweep order, partition-sized offsets, one max
    * aggregate. At equal timestamps END deltas apply before START
    * deltas (half-open intervals — back-to-back spans don't overlap);
    * `tieCol` makes the sweep order total.
    *
    * Output: one row (n_intervals, peak). */
  def peakConcurrency(df: DataFrame, startCol: String, endCol: String,
      tieCol: String, partitions: Int = 0): DataFrame = {
    val deltas = df
      .select(col(startCol).as("__t"), lit(1L).as("__d"), col(tieCol).as("__i"))
      .unionByName(df.select(col(endCol).as("__t"), lit(-1L).as("__d"),
        col(tieCol).as("__i")))
    val pre = GlobalOrder.withPrefixSum(deltas,
      Seq("__t", "__d", "__i"), "__d", "__pre", partitions)
    // the weight total is 0 by construction (+1/−1 pairs) — the
    // interval count is half the delta rows
    pre.agg(expr("count(*) div 2").as("n_intervals"),
      max(col("__pre") + col("__d")).as("peak"))
  }

  /** Merge each key's overlapping-or-touching intervals
    * ([startCol, endCol], integral units; touching means
    * next.start ≤ running max end) into islands.
    *
    * Output: (key, island, span_start, span_end, n_intervals) — island
    * is the key's 1-based island index in start order. Zero- or
    * negative-length intervals participate as points. */
  def coalesceIntervals(df: DataFrame, keyCol: String, startCol: String,
      endCol: String, tieCol: String): DataFrame = {
    Reserved.guard("coalesceIntervals", df, "island", "span_start", "span_end", "n_intervals",
      "__pmax", "__new")
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol), col(tieCol))
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol), col(startCol), col(endCol), col(tieCol),
        when(col(startCol) > max(col(endCol)).over(before), 1L)
          .otherwise(when(max(col(endCol)).over(before).isNull, 1L)
            .otherwise(0L)).as("__new"))
      .select(col(keyCol), col(startCol), col(endCol),
        sum(col("__new")).over(run).as("island"))
      .groupBy(col(keyCol), col("island"))
      .agg(min(col(startCol)).as("span_start"),
        max(col(endCol)).as("span_end"),
        count(lit(1)).as("n_intervals"))
  }
}
