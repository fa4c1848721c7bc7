package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.util.Using

/** Sources and sinks (SURVEY.md §2.1, S1-S6).
  *
  * Reference behavior re-expressed Spark-first:
  *  - S1/S2/S3: CSV scan with `header=true`, `nullValue="NA"`, transparent
  *    bz2 (`/root/reference/src/main/helper_methods.py:372-380`, `:215-221`).
  *    Unlike the reference we default to an explicit schema (no extra
  *    inference pass over the data — matters at 100 TB); `inferSchema=true`
  *    remains available for dynamic inputs.
  *  - S4: parquet sink, overwrite (`main.py:116-121`).
  *  - S5: single-file CSV sink — coalesce(1) + part-file rename
  *    (`main.py:145-162`).
  *  - S6: CSV-safe projection — only primitive-typed columns survive a CSV
  *    write (`main.py:126-148`); ML vectors are not CSV-encodable.
  */
object IO {

  /** S1/S2: flights CSV scan. `schema=None` ⇒ reference-compatible inference. */
  def readCsv(
      spark: SparkSession,
      path: String,
      schema: Option[StructType] = None,
      nullValue: String = "NA"): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("nullValue", nullValue)
    schema match {
      case Some(s) => base.schema(s).csv(path)
      case None    => base.option("inferSchema", "true").csv(path)
    }
  }

  /** S4: parquet sink, overwrite mode. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** CSV-encodable types (reference allowlist, `main.py:126-128`). */
  private val csvSafe: Set[DataType] = Set(
    IntegerType, LongType, DoubleType, FloatType, StringType, BooleanType,
    ShortType, ByteType, DateType, TimestampType)

  /** S6: project to CSV-safe (primitive) columns only. */
  def csvSafeColumns(df: DataFrame): DataFrame = {
    val keep = df.schema.fields.collect { case f if csvSafe(f.dataType) => f.name }
    df.select(keep.map(df.col): _*)
  }

  /** S5: single-file CSV with header: coalesce(1) → write dir → move the
    * lone part file to `finalFile`. The single-task funnel is intentional
    * reference semantics (one output file), not a scaling strategy — large
    * outputs should use [[writeParquet]]. The `coalesce(1)` reaches up to
    * the nearest shuffle or cached relation: the flight apps hand it a
    * persisted frame (`TrainApp.sink`), so only the file write runs in
    * one task, not the scoring lineage.
    */
  def writeSingleCsv(df: DataFrame, dir: String, finalFile: String): Path = {
    csvSafeColumns(df)
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(dir)
    // Files.list holds an open directory handle until the stream closes
    val part = Using.resource(Files.list(Paths.get(dir))) { files =>
      files.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".csv")
      }.findFirst.orElseThrow(() => new IllegalStateException(s"no part file in $dir"))
    }
    val target = Paths.get(finalFile)
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    target
  }

  /** Seeded CSV fixture for the S1/S2 correctness gate: the same
    * deterministic content written BOTH plain (for the DuckDB oracle's
    * `read_csv`, which does not decompress bz2) and bz2-compressed (the
    * reader path under test — transparent decompression, header,
    * `nullValue="NA"`, schema inference, quoted fields with embedded
    * commas). Prices are exact quarters so every aggregate is
    * float-parity-trivial. Idempotent overwrite; returns
    * (plainPath, bz2Path). */
  def seededCsvFixture(dir: String = "/tmp/graft_csv_fixture"): (String, String) = {
    val rows = (1 to 240).map { i =>
      val grp = "g" + (i % 5)
      val qty = if (i % 7 == 0) "NA" else ((i * 3) % 40).toString
      val cents = (i % 97) * 25
      val price = if (i % 11 == 0) "NA" else f"${cents / 100}%d.${cents % 100}%02d"
      val note =
        if (i % 17 == 0) "NA"
        else if (i % 13 == 0) "\"with,comma\""
        else "n" + i
      s"$i,$grp,$qty,$price,$note"
    }
    val content = ("id,grp,qty,price,note" +: rows).mkString("\n") + "\n"
    Files.createDirectories(Paths.get(dir))
    val plain = Paths.get(dir, "seeded.csv")
    Files.write(plain, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bz2 = Paths.get(dir, "seeded.csv.bz2")
    val out = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(Files.newOutputStream(bz2))
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    (plain.toString, bz2.toString)
  }

  /** JSONL (one JSON object per line) sink — the interchange format LLM
    * data pipelines standardize on between stages/teams. Line-delimited,
    * so the files split for parallel re-reads (unlike multiline JSON). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSONL scan with an explicit schema. Schema inference on JSON is a
    * full extra pass over the data — never acceptable at 100 TB, so the
    * schema is required here (`spark.read.json` stays available for
    * ad-hoc exploration). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC sink/scan — the other columnar interchange format (Hive-lineage
    * warehouses). Same predicate-pushdown/column-pruning story as
    * parquet; Spark bundles the reader, no extra deps. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Hive-style partitioned parquet sink: one directory per distinct
    * value of `partitionCols` (`lang=en/part-*.parquet`, …). At scale
    * this is THE layout lever: a filter on a partition column prunes
    * whole directories at planning time (shows as `PartitionFilters` in
    * the scan, zero bytes read for pruned values) — data-layout
    * clustering instead of read-time filtering. Keep partition columns
    * low-cardinality (source, language, date); a high-cardinality key
    * explodes the file count. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Parquet scan that starts no Spark job for a single file: its schema
    * is read from the footer on the driver (with Spark's own converter,
    * see [[org.apache.spark.sql.execution.datasources.parquet.FooterSchema]])
    * and handed to the reader, where `spark.read.parquet` would launch a
    * job to read that one footer. Every call reads its footer afresh. Any
    * other path (a directory, a glob, a missing or unreadable file) goes
    * through Spark's inference unchanged. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    FooterSchema.ofSingleFile(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Convenience loader for the driver-provided parquet fixtures. The
    * `events` table normalizes through [[epochNanos]]. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    if (name == "events") epochNanos(df) else df
  }

  /** Normalize an event-time column to the engine's epoch-nano BIGINT
    * convention, whatever the fixture generation shipped: parquet
    * TIMESTAMP(NANOS) already reads as LongType epoch-nanos (under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and passes through;
    * TIMESTAMP(MICROS) reads as a timestamp type and converts as
    * micros × 1000. Sessions run with timeZone=UTC, so a TIMESTAMP_NTZ
    * wall time IS the epoch instant — identical to DuckDB's
    * epoch_ns(ts) on the naive value. Integer arithmetic end-to-end:
    * an ~1.7e18 nano value does not round-trip through DOUBLE. */
  def epochNanos(df: DataFrame, col: String = "ts"): DataFrame =
    df.schema(col).dataType match {
      case LongType => df
      case _ => df.withColumn(col,
        org.apache.spark.sql.functions.expr(
          s"unix_micros(CAST($col AS TIMESTAMP)) * 1000"))
    }

  /** Corrupt-tolerant JSONL scan: malformed lines land whole in a
    * `_bad_record` column instead of poisoning the batch (PERMISSIVE
    * mode) — the posture a 100 TB crawl ingest needs, where some
    * fraction of lines is ALWAYS broken and one bad byte must not kill
    * a 10-hour job. Returns rows for every input line; callers filter
    * `_bad_record IS NULL` for the clean slice and route the rest to a
    * quarantine sink. Caveat: Spark disallows projections that touch
    * ONLY the corrupt column over the raw file
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize (cache/write)
    * before a corrupt-only audit query. */
  def readJsonlPermissive(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_bad_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad_record")
      .json(path)

  /** Schema-evolution scan: reconcile parquet files written under
    * DIFFERENT schema versions into one DataFrame (columns absent in old
    * files surface as nulls). Long-lived 100 TB tables accrete columns
    * over years of ingest batches; `mergeSchema` pays one footer-level
    * reconciliation pass at planning (per-file FOOTERS, not data) —
    * which is why it is opt-in here and not the default scan. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Sorted compaction: rewrite a dataset as range-partitioned,
    * within-partition-sorted parquet with a bounded per-file row count.
    * This is the periodic maintenance pass every large table needs:
    * streaming/parallel ingest leaves thousands of small unsorted files
    * (planning overhead, no row-group skipping), and compaction restores
    * the layout — `repartitionByRange` clusters by the sort key across
    * files, `sortWithinPartitions` orders inside each file so parquet
    * min/max row-group stats become selective for key predicates, and
    * `maxRecordsPerFile` caps file size without an extra shuffle.
    */
  def compact(df: DataFrame, path: String, sortCols: Seq[String],
      partitions: Int, maxRecordsPerFile: Long = 0L): Unit = {
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    val w = df
      .repartitionByRange(partitions, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile) else w).parquet(path)
  }

  /** Durable (reliable) checkpoint: materializes the DataFrame to the
    * given checkpoint directory and returns a DataFrame whose lineage is
    * CUT — the multi-executor-safe version of `localCheckpoint` (which
    * pins blocks to executor storage and dies with the executor). This is
    * what iterative algorithms (connected components) and reused
    * intermediates must use on a real cluster: point `dir` at durable
    * shared storage (HDFS/object store). Sets `spark.checkpoint.dir`
    * once per session if unset, and materializes now. */
  def durableCheckpoint(df: DataFrame, dir: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    df.checkpoint()
  }
}
