package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ParquetMetaSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("footers over the fixture: every column, value counts equal row count") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val rows = li.count()
    val prof = ParquetMeta.columnProfile(spark, s"$sfDir/lineitem.parquet")
      .collect()
    assert(prof.map(_.getString(0)).toSet == li.columns.toSet)
    prof.foreach { r =>
      assert(r.getLong(2) == rows, s"num_values for ${r.getString(0)}")
      // on-disk size is positive and uncompressed is sane
      assert(r.getLong(4) > 0 && r.getLong(5) > 0)
    }
  }

  test("null counts come from chunk statistics, not a data scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pmeta_nulls").toString
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (null, null), (4L, "d"))
      .toDF("k", "s").coalesce(1).write.mode("overwrite").parquet(dir)
    val prof = ParquetMeta.columnProfile(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(prof("k") == 2L && prof("s") == 1L)
  }

  test("multi-file layout: one chunk row per file per column") {
    val dir = java.nio.file.Files.createTempDirectory("pmeta_multi").toString
    spark.range(300).select(col("id"), (col("id") % 7).as("v"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val chunks = ParquetMeta.footers(spark, dir).collect()
    assert(chunks.map(_.file_name).distinct.length == 3)
    val perCol = chunks.groupBy(_.column_path)
    assert(perCol.keySet == Set("id", "v"))
    perCol.values.foreach(c => assert(c.length == 3))
    assert(chunks.filter(_.column_path == "id").map(_.num_values).sum == 300L)
    // row_group_rows agrees with per-chunk value counts on flat schemas
    chunks.foreach(c => assert(c.num_values == c.row_group_rows))
  }

  test("gate profile matches a DuckDB-shaped aggregate recomputed from footers") {
    // the real cross-engine check is the q_s_footers oracle; here pin
    // that the gate output equals an independent aggregate of the raw
    // chunk rows (ordering, aliasing, null-sum semantics)
    val gate = graft.SparkEntry.queries("q_s_footers")(spark, sfDir).collect()
    val raw = ParquetMeta.footers(spark, s"$sfDir/lineitem.parquet").collect()
    val byCol = raw.groupBy(_.column_path)
    assert(gate.map(_.getString(0)).toSeq == byCol.keySet.toSeq.sorted)
    gate.foreach { r =>
      val cs = byCol(r.getString(0))
      assert(r.getLong(1) == cs.length.toLong)
      assert(r.getLong(2) == cs.map(_.num_values).sum)
      assert(r.getLong(3) == cs.flatMap(_.null_count).sum)
      assert(r.getLong(4) == cs.map(_.compressed_bytes).sum)
    }
    assert(graft.SparkEntry.oracleSql("q_s_footers").contains("parquet_metadata"))
  }
}
