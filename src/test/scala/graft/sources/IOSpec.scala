package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Source/sink semantics (SURVEY §2.1 S1-S6): CSV with NA nulls, explicit
  * vs inferred schema, parquet round-trip, CSV-safe projection, single-file
  * CSV sink. */
class IOSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("readCsv: header, NA→null, explicit schema beats inference") {
    val dir = tmpDir("csv-in")
    Files.writeString(java.nio.file.Paths.get(s"$dir/f.csv"),
      "Year,Month,DayofMonth,DayOfWeek,DepTime,CRSDepTime,ArrTime,CRSArrTime," +
        "UniqueCarrier,FlightNum,TailNum,ActualElapsedTime,CRSElapsedTime,AirTime," +
        "ArrDelay,DepDelay,Origin,Dest,Distance,TaxiIn,TaxiOut,Cancelled," +
        "CancellationCode,Diverted,CarrierDelay,WeatherDelay,NASDelay," +
        "SecurityDelay,LateAircraftDelay\n" +
        "2007,1,2,3,NA,900,1100,1050,AA,100,N1,120,115,90,5,2,JFK,LAX,2475,5,15,0," +
        "NA,0,0,0,0,0,0\n")
    val df = IO.readCsv(spark, s"$dir/f.csv", Some(Schemas.flights))
    val row = df.first()
    assert(df.schema == Schemas.flights)
    assert(row.isNullAt(df.columns.indexOf("DepTime")))    // NA → null
    assert(row.getAs[Int]("ArrDelay") == 5)
    // inference path keeps the capability
    val inferred = IO.readCsv(spark, s"$dir/f.csv", None)
    assert(inferred.count() == 1)
  }

  test("bz2-compressed CSV round-trips through the same reader (S2)") {
    val dir = tmpDir("csv-bz2")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    df.coalesce(1).write.option("header", "true")
      .option("compression", "bzip2").csv(s"$dir/out")
    val back = IO.readCsv(spark, s"$dir/out", None)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("id", "v"))
  }

  test("seededCsvFixture: bz2 and plain twins parse identically (S1/S2 gate)") {
    val (plain, bz2) = IO.seededCsvFixture()
    val a = IO.readCsv(spark, plain, None).orderBy("id")
    val b = IO.readCsv(spark, bz2, None).orderBy("id")
    assert(a.schema == b.schema)
    assert(a.collect().toSeq == b.collect().toSeq)
    // the planted edge cases survive the reader: NA → null, quoted comma
    assert(a.where(col("qty").isNull).count() > 0)
    assert(a.where(col("note") === "with,comma").count() > 0)
    assert(a.where(col("note").isNull).count() > 0)
  }

  test("csvSafeColumns drops non-primitive columns") {
    val df = Seq((1, "a", Seq(1.0, 2.0))).toDF("i", "s", "arr")
    assert(IO.csvSafeColumns(df).columns.toSeq == Seq("i", "s"))
  }

  test("writeSingleCsv produces exactly one CSV file with header") {
    val out = tmpDir("csv-out")
    val df = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val target = IO.writeSingleCsv(df, s"$out/dir", s"$out/final.csv")
    val lines = Files.readAllLines(target)
    assert(lines.get(0) == "id,v")
    assert(lines.size == 3)
  }

  test("writeSingleCsv closes its directory listing (no descriptor leak)") {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val out = tmpDir("csv-fd")
    val df = Seq((1, "x")).toDF("id", "v")
    def sink(i: Int) = IO.writeSingleCsv(df, s"$out/dir", s"$out/final$i.csv")
    (0 until 5).foreach(sink) // warm-up: Spark's own lazily opened files
    val before = os.getOpenFileDescriptorCount
    (5 until 35).foreach(sink)
    val grown = os.getOpenFileDescriptorCount - before
    info(s"open descriptors after 30 sinks: +$grown")
    assert(grown < 15, s"30 sinks left $grown more open descriptors")
  }

  test("jsonl sink + schema'd scan round-trips values, types, and nulls") {
    val out = tmpDir("jsonl-out")
    val df = Seq(
      (1L, """quote " backslash \ and tab	end""", Some(3.5)),
      (2L, "unicode café 中文", None),
      (3L, "", Some(-0.0))
    ).toDF("id", "s", "d")
    IO.writeJsonl(df, s"$out/docs")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, s STRING, d DOUBLE")
    val back = IO.readJsonl(spark, s"$out/docs", schema)
      .orderBy("id").collect()
    val orig = df.orderBy("id").collect()
    assert(back.toSeq == orig.toSeq)
  }

  test("orc sink + scan round-trips") {
    val out = tmpDir("orc-out")
    val df = Seq((1L, "alpha", 2.5), (2L, "beta", -1.0)).toDF("id", "s", "d")
    IO.writeOrc(df, s"$out/t")
    val back = IO.readOrc(spark, s"$out/t").orderBy("id").collect()
    assert(back.toSeq == df.orderBy("id").collect().toSeq)
  }

  test("partitioned sink lays out hive directories and restores rows") {
    val out = tmpDir("part-out")
    val df = Seq((1L, "en", "a"), (2L, "fr", "b"), (3L, "en", "c"))
      .toDF("id", "lang", "text")
    IO.writePartitioned(df, s"$out/docs", Seq("lang"))
    val dirs = new java.io.File(s"$out/docs").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("lang=en", "lang=fr"))
    val back = spark.read.parquet(s"$out/docs")
    assert(back.count() == 3)
    assert(back.filter(col("lang") === "en").select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("parquet sink round-trips") {
    val out = tmpDir("pq-out")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    IO.writeParquet(df, s"$out/t.parquet")
    val back = spark.read.parquet(s"$out/t.parquet")
    assert(back.orderBy("k").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("permissive jsonl scan quarantines corrupt lines, keeps the rest") {
    val out = tmpDir("permissive")
    val lines = Seq(
      """{"id": 1, "text": "ok one"}""",
      """{"id": 2, "text": "ok two"""", // truncated — corrupt
      """not json at all""",
      """{"id": 4, "text": "ok four"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/in.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, text STRING")
    // cache: Spark refuses corrupt-record-ONLY projections over the raw
    // file (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — parse once, then slice
    val back = IO.readJsonlPermissive(spark, s"$out/in.jsonl", schema).cache()
    assert(back.count() == 4, "a corrupt line must not drop rows")
    val clean = back.filter(col("_bad_record").isNull)
    assert(clean.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
    val bad = back.filter(col("_bad_record").isNotNull)
      .select("_bad_record").as[String].collect().toSeq
    assert(bad.size == 2 && bad.exists(_.contains("not json")))
  }

  test("compact range-clusters files: per-file key ranges never overlap") {
    val out = tmpDir("compact-out")
    // deliberately scrambled input, as ingest leaves it
    val df = scala.util.Random.shuffle((1 to 4000).toList)
      .map(i => (i.toLong, s"row$i")).toDF("k", "v")
    IO.compact(df, s"$out/t", Seq("k"), partitions = 4,
      maxRecordsPerFile = 600L)
    val files = new java.io.File(s"$out/t").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length > 4, s"maxRecordsPerFile did not split: ${files.length}")
    // the layout property compaction exists for: each file covers a key
    // range disjoint from every other, so min/max stats prune whole files
    val spans = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("k")), max(col("k"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"overlapping file ranges: $hi vs $lo")
      case _ =>
    }
    // nothing lost or changed
    val back = spark.read.parquet(s"$out/t")
    assert(back.count() == 4000)
    assert(back.agg(sum(col("k"))).head().getLong(0) == 4000L * 4001 / 2)
  }
}
