package org.apache.spark.sql.execution.datasources.parquet

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side schema of a single parquet file, read from its footer with
  * Spark's own calls in the order its non-merging inference makes them
  * (`readParquetFootersInParallel` → `readSchemaFromFooter`): the footer
  * without row groups, then the session-conf converter. So the Spark
  * row-metadata key, `nanosAsLong`, INT96 and TIMESTAMP_NTZ inference are
  * Spark's, but no job is launched to read one footer. The footer readers
  * are package-scoped, hence this object's package. */
object FooterSchema {

  /** The schema Spark would infer for `path` when it is one regular file;
    * None for anything else (a directory, a glob, a missing path) or a
    * footer that cannot be read, which the caller leaves to Spark's own
    * inference and its own error messages. */
  def ofSingleFile(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val conf = state.newHadoopConf()
    try {
      val p = new Path(path)
      val status = p.getFileSystem(conf).getFileStatus(p)
      if (!status.isFile) None
      else {
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(status, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(status.getPath, footer),
          new ParquetToSparkSchemaConverter(state.conf)))
      }
    } catch {
      case _: IOException | _: RuntimeException => None
    }
  }
}
