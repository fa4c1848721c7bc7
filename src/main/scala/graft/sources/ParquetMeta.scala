package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet footer / row-group metadata probe — the data-skipping
  * introspection surface: which files and row groups exist, how many
  * values and nulls each column chunk holds, and what it costs on disk,
  * WITHOUT scanning a single data page. At 100 TB this is the
  * planning-side tool (find skew, size compactions, audit sort-key
  * effectiveness, predict scan cost under a predicate) that reads a few
  * KB of footer per file — distributed one task per file batch, so a
  * million-file lake inventories in one map pass.
  *
  * The per-chunk fields mirror DuckDB's `parquet_metadata()` table
  * function exactly, which is what the gate oracles against — a REAL
  * independent implementation (duckdb's own footer reader) over the
  * same bytes, not a golden we computed ourselves.
  */
object ParquetMeta {

  /** One column chunk of one row group. `null_count` is None when the
    * writer did not record statistics for the chunk (mirrors DuckDB's
    * NULL `stats_null_count`). */
  final case class ColumnChunkMeta(
      file_name: String, row_group_id: Int, row_group_rows: Long,
      column_path: String, num_values: Long, null_count: Option[Long],
      compressed_bytes: Long, uncompressed_bytes: Long)

  /** Lists the parquet data files under `path` (a single file or a
    * directory tree; `_`/`.`-prefixed sidecars skipped). */
  private def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    def walk(q: org.apache.hadoop.fs.Path): Seq[String] = {
      val st = fs.getFileStatus(q)
      if (st.isDirectory)
        fs.listStatus(q).toSeq.flatMap(s => walk(s.getPath))
      else {
        val name = q.getName
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else Seq(q.toString)
      }
    }
    walk(p)
  }

  /** Reads every footer under `path` into one row per column chunk —
    * one Spark task per file batch (the scalable shape; footers are a
    * bounded-size range read at the file tail). */
  def footers(spark: SparkSession, path: String): Dataset[ColumnChunkMeta] = {
    import spark.implicits._
    val files = listDataFiles(spark, path)
    // explicit RDD slices, not repartition(): distributing a driver-side
    // file list needs no exchange (a 1-file list would otherwise plan an
    // Exchange SinglePartition under the keyed aggregate — audit-flagged)
    val slices = math.max(1, math.min(files.size, 32))
    spark.createDataset(spark.sparkContext.parallelize(files, slices))
      .mapPartitions { paths =>
        // executor-side default conf (classpath site files apply); the
        // footer read needs only filesystem access, no job conf state
        val conf = new org.apache.hadoop.conf.Configuration()
        paths.flatMap { file =>
          val inFile = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(file), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
          try {
            val baseName = new org.apache.hadoop.fs.Path(file).getName
            val blocks = reader.getFooter.getBlocks
            (0 until blocks.size()).flatMap { g =>
              val block = blocks.get(g)
              val cols = block.getColumns
              (0 until cols.size()).map { c =>
                val chunk = cols.get(c)
                val stats = chunk.getStatistics
                val nulls =
                  if (stats != null && stats.isNumNullsSet) Some(stats.getNumNulls)
                  else None
                ColumnChunkMeta(baseName, g, block.getRowCount,
                  chunk.getPath.toDotString, chunk.getValueCount, nulls,
                  chunk.getTotalSize, chunk.getTotalUncompressedSize)
              }
            }.iterator
          } finally reader.close()
        }
      }
  }

  /** Per-column storage profile over every footer under `path`:
    * chunk/value/null counts and on-disk vs in-memory bytes. */
  def columnProfile(spark: SparkSession, path: String): DataFrame =
    footers(spark, path)
      .groupBy(col("column_path"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("num_values")).as("num_values"),
        sum(col("null_count")).as("null_count"),
        sum(col("compressed_bytes")).as("compressed_bytes"),
        sum(col("uncompressed_bytes")).as("uncompressed_bytes"))
      .orderBy(col("column_path"))

  // ─────────────────────────── gate oracle ───────────────────────────

  /** The q_s_footers oracle: DuckDB's own footer reader over the file
    * at `path` — the independent implementation, not a self-computed
    * golden — aggregated like [[columnProfile]]. */
  def footersOracleSql(path: String): String =
    s"""SELECT path_in_schema AS column_path,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(num_values) AS BIGINT) AS num_values,
       |  CAST(SUM(stats_null_count) AS BIGINT) AS null_count,
       |  CAST(SUM(total_compressed_size) AS BIGINT) AS compressed_bytes,
       |  CAST(SUM(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes
       |FROM parquet_metadata('$path')
       |GROUP BY path_in_schema
       |ORDER BY path_in_schema""".stripMargin
}
