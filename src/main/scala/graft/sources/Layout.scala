package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Reserved

/** Z-order (Morton-curve) file layout — multi-dimensional data skipping.
  *
  * `IO.compact` sorts by ONE key, so parquet min/max stats prune scans
  * for predicates on that key only; a second dimension's values smear
  * across every file and its predicates prune nothing. Interleaving the
  * bits of several quantized dimensions into one Morton code and sorting
  * by THAT clusters rows so each file covers a small hyper-box of the
  * combined key space — per-file min/max stats become selective for
  * predicates on ANY of the participating columns. This is the layout
  * lever behind Delta/Iceberg `ZORDER BY`, rebuilt here on plain parquet
  * with pure Catalyst bit arithmetic (no UDF, fully codegen'd, and
  * cross-engine reproducible — the gate oracles the codes in DuckDB).
  *
  * Scale notes: the code computation is map-side expression work; the
  * write is one `repartitionByRange` shuffle on the code (sampled range
  * boundaries — no skew pile-up when the curve is dense in one region),
  * the same single-shuffle cost as a linear compaction. Re-clustering is
  * periodic maintenance, amortized over every subsequent scan.
  */
object Layout {

  /** Morton interleave of already-quantized non-negative int columns
    * (each in `[0, 2^bits)`): result bit `j*n + i` is bit `j` of
    * `cols(i)`. Requires `bits * cols.size <= 62` (signed-long safe).
    * Unrolls to shift/mask/or chains — whole-stage-codegen friendly,
    * identical in any engine with integer bit ops.
    */
  def mortonCode(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "mortonCode needs at least one column")
    require(bits > 0 && bits * cols.size <= 62,
      s"bits * dims must fit a signed long: $bits * ${cols.size} > 62")
    val n = cols.size
    cols.zipWithIndex.map { case (c, i) =>
      (0 until bits).map { j =>
        // ((c >> j) & 1) << (j*n + i)
        shiftleft(shiftright(c.cast("long"), j).bitwiseAND(lit(1L)), j * n + i)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
  }

  /** Quantizes a numeric column to `[0, 2^bits)` given its global min
    * and max (pass precomputed stats, or broadcast a 1-row aggregate —
    * the W2 scalar pattern — to avoid a driver action). Equal-width
    * bins; the curve only needs RELATIVE locality, so outliers merely
    * waste a few buckets. */
  def quantize(c: Column, minV: Column, maxV: Column, bits: Int): Column = {
    val buckets = lit((1L << bits).toDouble)
    val span = maxV.cast("double") - minV.cast("double")
    // degenerate span (constant column) -> bucket 0; v = max clamps into
    // the top bucket rather than overflowing past it
    val frac = when(span > lit(0.0),
      (c.cast("double") - minV.cast("double")) / span).otherwise(lit(0.0))
    least(lit((1L << bits) - 1L),
      greatest(lit(0L), floor(frac * buckets).cast("long")))
  }

  /** Rewrites `df` as Z-ordered parquet: quantize each layout column
    * against its global range (one broadcast scalar aggregate), sort the
    * whole dataset by the Morton code via `repartitionByRange` +
    * `sortWithinPartitions`, and drop the helper column on write. After
    * this, per-file parquet min/max stats on EVERY layout column are
    * tight hyper-box bounds — predicates on any subset skip files.
    */
  def writeZordered(df: DataFrame, path: String, layoutCols: Seq[String],
      partitions: Int, bits: Int = 16, maxRecordsPerFile: Long = 0L): Unit = {
    require(layoutCols.nonEmpty, "writeZordered needs layout columns")
    val reserved = "__z" +: layoutCols.flatMap(c => Seq(s"__min_$c", s"__max_$c"))
    Reserved.guard("writeZordered", df, reserved: _*)
    val stats = df.agg(
      layoutCols.flatMap(c =>
        Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))).head,
      layoutCols.flatMap(c =>
        Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))).tail: _*)
    val quantized = layoutCols.map(c =>
      quantize(col(c), col(s"__min_$c"), col(s"__max_$c"), bits))
    val w = df
      .crossJoin(broadcast(stats))
      .withColumn("__z", mortonCode(quantized, bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop((layoutCols.flatMap(c => Seq(s"__min_$c", s"__max_$c")) :+ "__z"): _*)
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile) else w).parquet(path)
  }

  /** Small-file compaction PLAN: assign each file to an output group of
    * ~`targetBytes` — the table-maintenance pass a 100 TB lakehouse runs
    * continuously (streaming ingest leaves KB-scale files; every scan
    * then pays a task per file and the NameNode/manifest pays an entry).
    *
    * Packing rule, per table partition: files sort by (bytes DESC, path)
    * and land in bin `floor(prefix_bytes / targetBytes)` where
    * `prefix_bytes` is the cumulative size of all EARLIER files in that
    * order — the deterministic one-pass analogue of first-fit-decreasing.
    * Each bin totals < `targetBytes` + its own largest member (≤ 2×
    * target when no single file exceeds target); a file ≥ target gets a
    * bin of its own automatically (its cumulative jump clears every
    * later prefix past its bin) and is flagged `oversized` so the
    * executor can skip rewriting it.
    *
    * Scale shape: the input is the FILE-STATS relation (metadata-sized —
    * one row per file, never data rows), and the only operation is one
    * prefix-sum window PARTITIONED BY the table partition — the same
    * per-partition parallelism the rewrite job itself has. Pure integer
    * arithmetic → cross-engine oracle-exact.
    *
    * Output: input columns + `bin` (long, starting at 0 and MONOTONE in
    * the packing order within a partition, but possibly SPARSE: a file
    * spanning several targets — e.g. a 5 GB file at a 1 GB target —
    * jumps the prefix past intermediate bin indices, which then never
    * occur; consumers must group by bin value, not index bins densely)
    * + `oversized` (boolean). */
  def compactionPlan(files: DataFrame, partCol: String, pathCol: String,
      bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    Reserved.guard("compactionPlan", files, "__prefix", "bin", "oversized")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol))
      .orderBy(col(bytesCol).desc, col(pathCol))
    files
      .withColumn("__prefix",
        coalesce(sum(col(bytesCol)).over(w) - col(bytesCol), lit(0L)))
      .withColumn("bin", floor(col("__prefix") / lit(targetBytes)))
      .withColumn("oversized", col(bytesCol) >= targetBytes)
      .drop("__prefix")
  }
}
