package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types._

import graft.{SparkEntry, SparkSpec}

/** Fixture reads take their schema from the parquet footer on the driver
  * ([[IO.readParquet]] / [[FooterSchema]]): the schema is the one Spark's
  * inference gives for every fixture table and for parquet shapes the
  * fixtures never produce, any path that is not one file still goes
  * through Spark's inference, and neither a fixture read nor building a
  * gate starts a Spark job. */
class FixtureSchemaSpec extends SparkSpec {

  /** The fixture root (TESTDATA.md), one directory per scale factor. */
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => Paths.get(sys.props("user.home"), "testdata", sf).toString)

  private def tables(dir: String): Seq[String] =
    new File(dir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  /** The footer schema equals Spark's inferred one, and a read through
    * it yields the same schema and rows. */
  private def assertAsInferred(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    assert(FooterSchema.ofSingleFile(spark, path).contains(inferred.schema),
      path)
    val read = IO.readParquet(spark, path)
    assert(read.schema == inferred.schema, path)
    assert(read.collect().toSeq == inferred.collect().toSeq, path)
  }

  private def withTempDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("fixture-schema").toFile
    try body(dir.getAbsolutePath)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** One parquet-mr file of `schema`, rows filled by `fill`. */
  private def writeExample(path: String, schema: MessageType, rows: Int)(
      fill: (org.apache.parquet.example.data.Group, Int) => Unit): Unit = {
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until rows).foreach { i =>
      val g = groups.newGroup()
      fill(g, i)
      writer.write(g)
    } finally writer.close()
  }

  test("every fixture table: footer schema == Spark's inference, IO.table schema unchanged") {
    for (dir <- sfDirs) {
      val names = tables(dir)
      assert(names.contains("events") && names.contains("lineitem"), dir)
      for (name <- names) {
        val path = s"$dir/$name.parquet"
        val inferred = spark.read.parquet(path)
        assert(FooterSchema.ofSingleFile(spark, path).contains(inferred.schema),
          path)
        val before = if (name == "events") IO.epochNanos(inferred) else inferred
        assert(IO.table(spark, dir, name).schema == before.schema, path)
      }
    }
  }

  test("int64 TIMESTAMP(NANOS|MICROS), UTC-adjusted or not, reads as Spark infers it") {
    withTempDir { dir =>
      for (unit <- Seq("NANOS", "MICROS"); utc <- Seq(true, false)) {
        val path = s"$dir/ts_${unit}_$utc.parquet"
        val schema = MessageTypeParser.parseMessageType(
          s"message m { optional int64 ts (TIMESTAMP($unit,$utc)); " +
            "optional int64 user_id; }")
        val step = if (unit == "NANOS") 1000000000L else 1000000L
        writeExample(path, schema, 5) { (g, i) =>
          g.add("ts", 1704067200L * step + i * step)
          if (i % 2 == 0) g.add("user_id", i.toLong)
        }
        assertAsInferred(path)
      }
      // the session reads NANOS as epoch-nano longs (nanosAsLong) and
      // MICROS as a timestamp; epochNanos brings both to the same values
      val nanos = IO.epochNanos(IO.readParquet(spark, s"$dir/ts_NANOS_true.parquet"))
      val micros = IO.epochNanos(IO.readParquet(spark, s"$dir/ts_MICROS_false.parquet"))
      assert(nanos.schema("ts").dataType == LongType)
      assert(nanos.select("ts").collect().toSeq == micros.select("ts").collect().toSeq)
    }
  }

  test("an INT96 timestamp and a required column read as Spark infers them") {
    withTempDir { dir =>
      val path = s"$dir/int96.parquet"
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int32 id; optional int96 ts96; }")
      writeExample(path, schema, 4) { (g, i) =>
        g.add("id", i)
        g.add("ts96", new NanoTime(2460311 + i, i * 1000L))
      }
      val read = IO.readParquet(spark, path)
      val inferred = spark.read.parquet(path)
      assert(read.schema == inferred.schema)
      assert(read.schema("ts96").dataType == TimestampType)
      assert(read.collect().toSeq == inferred.collect().toSeq)
      // the footer keeps REQUIRED; the scan makes every column nullable
      // for both reads alike
      assert(FooterSchema.ofSingleFile(spark, path).map(_("id").nullable)
        .contains(false))
    }
  }

  test("a Spark-written file with row metadata: nested types and a varchar") {
    withTempDir { dir =>
      val varchar = new MetadataBuilder()
        .putString("__CHAR_VARCHAR_TYPE_STRING", "varchar(8)").build()
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("code", StringType, nullable = true, varchar),
        StructField("s", StructType(Seq(
          StructField("a", IntegerType), StructField("b", ArrayType(DoubleType))))),
        StructField("tags", ArrayType(StringType)),
        StructField("m", MapType(StringType, LongType))))
      val rows = Seq(
        Row(1L, "ab", Row(1, Seq(1.5, 2.5)), Seq("x", "y"), Map("k" -> 1L)),
        Row(2L, null, null, Seq.empty[String], Map.empty[String, Long]))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/out")
      val part = new File(s"$dir/out").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(part.length == 1)
      assertAsInferred(part.head.getAbsolutePath)
      assert(IO.readParquet(spark, part.head.getAbsolutePath).schema("code")
        .metadata.getString("__CHAR_VARCHAR_TYPE_STRING") == "varchar(8)")
    }
  }

  test("a directory, a glob, a missing path and a corrupt file go through Spark's inference") {
    withTempDir { dir =>
      spark.range(10).repartition(2).write.parquet(s"$dir/two")
      assert(new File(s"$dir/two").list().count(_.endsWith(".parquet")) == 2)
      for (path <- Seq(s"$dir/two", s"$dir/two/*.parquet")) {
        assert(FooterSchema.ofSingleFile(spark, path).isEmpty, path)
        val read = IO.readParquet(spark, path)
        assert(read.schema == spark.read.parquet(path).schema, path)
        assert(read.count() == 10L, path)
      }
      val missing = s"$dir/missing.parquet"
      assert(FooterSchema.ofSingleFile(spark, missing).isEmpty)
      val ours = intercept[AnalysisException](IO.readParquet(spark, missing))
      val spark0 = intercept[AnalysisException](spark.read.parquet(missing))
      assert(ours.getMessage == spark0.getMessage)
      // a file whose footer cannot be read fails the way Spark's read does
      val corrupt = s"$dir/corrupt.parquet"
      Files.write(Paths.get(corrupt), "not parquet".getBytes("UTF-8"))
      assert(FooterSchema.ofSingleFile(spark, corrupt).isEmpty)
      // (the job-abort wrapper names its stage and task ids; compare the
      // wrapper's class and the root cause)
      def rootCause(e: Throwable): Throwable =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      val oursCorrupt = intercept[Exception](IO.readParquet(spark, corrupt))
      val sparkCorrupt = intercept[Exception](spark.read.parquet(corrupt))
      assert(oursCorrupt.getClass == sparkCorrupt.getClass)
      assert(rootCause(oursCorrupt).toString == rootCause(sparkCorrupt).toString)
    }
  }

  test("IO.table and building the 12 light gates start no Spark job") {
    val dir = sfDirs(1)
    val tableJobs = countJobs(tables(dir).foreach(IO.table(spark, dir, _)))
    val light = Seq(
      "q_a2_global_stats", "q_a6_corr", "q_a_hll", "q_d1_distinct",
      "q_d2b_stratified", "q_f_hof", "q_j_outer", "q_p9_null_counts",
      "q_s_scan_count", "q_w3_lag", "q_x_minhash_bands", "q_x_tokens")
    val buildJobs = countJobs(light.foreach(SparkEntry.queries(_)(spark, dir)))
    assert(tableJobs == 0 && buildJobs == 0, s"IO.table over every " +
      s"table started $tableJobs jobs, building the gates $buildJobs")
  }
}
