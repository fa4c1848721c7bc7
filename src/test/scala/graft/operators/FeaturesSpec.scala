package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RegExpReplace
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.FlightsGenerator

/** Per-operator semantics tests for Features (SURVEY.md §5 unit plan):
  * HHMM parsing edge cases, trig identities, TOD bucket boundaries, weekend
  * set, slack thresholds — all against the reference's documented behavior
  * (`/root/reference/src/main/dataset_utils.py:79-117`,
  * `/root/reference/src/main/custom_features.py`). */
class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  test("timeAsInt strips non-digits; empty string becomes null") {
    val df = Seq("0730", "07:30", "730", "", "ab", "2359").toDF("t")
      .select(Features.timeAsInt(col("t")).as("v"))
    assert(df.collect().map(r => Option(r.get(0))).toSeq ==
      Seq(Some(730), Some(730), Some(730), None, None, Some(2359)))
  }

  test("hour/minute extraction truncates after double division") {
    val df = Seq(2359, 0, 59, 100, 1824).toDF("t").select(
      Features.hourFromTime(col("t")).as("h"),
      Features.minuteFromTime(col("t")).as("m"),
      Features.minutesSinceMidnight(col("t")).as("msm"))
    assert(df.collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))) ==
      Seq((23, 59, 1439), (0, 0, 0), (0, 59, 59), (1, 0, 60), (18, 24, 1104)))
  }

  test("cyclical localtime: null time rows filtered, sin^2+cos^2 = 1") {
    val df = Seq(Some(1824), None, Some(0)).toDF("DepTime")
    val out = Features.cyclicalLocaltime(df, "DepTime")
    assert(out.count() == 2) // null row dropped by the per-column filter
    val ok = out.select(
      (pow(col("DepTime_minutes_sine"), 2) + pow(col("DepTime_minutes_cosine"), 2)).as("s"))
      .collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(ok)
  }

  test("polar month/week matches reference formula incl. (v-1)/max and pi/2 shift") {
    val df = Seq((1, 1, 1), (12, 31, 7), (6, 15, 3))
      .toDF("Month", "DayofMonth", "DayOfWeek")
    val out = Features.cyclicalMonthWeek(df).where(col("Month") === 1).first()
    // v=1, max=12: angle = 0 + pi/2 → x = cos(pi/2) ≈ 0, y = 1
    assert(math.abs(out.getAs[Double]("Month_polar_x")) < 1e-9)
    assert(math.abs(out.getAs[Double]("Month_polar_y") - 1.0) < 1e-9)
  }

  test("TOD buckets: boundaries 4/5, 11/12, 18/19, 23 and null→unknown") {
    val df = Seq[Integer](4, 5, 11, 12, 18, 19, 23, 0, null, 99)
      .toDF("h").select(Features.timeOfDay(col("h")).as("tod"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq(
      "night", "morning", "morning", "afternoon", "afternoon", "evening",
      "evening", "night", "unknown", "unknown"))
  }

  test("native TOD and registered UDF agree everywhere") {
    Features.registerTimeOfDayUdf(spark)
    val hours = (Seq[Integer](null) ++ (-2 to 30).map(Integer.valueOf)).toDF("h")
    val mismatches = hours.select(
      Features.timeOfDay(col("h")).as("native"),
      call_udf("categorize_time", col("h")).as("udf"))
      .filter(col("native") =!= col("udf")).count()
    assert(mismatches == 0)
  }

  test("weekend indicator uses DayOfWeek in {5,6,7}") {
    val df = (1 to 7).toDF("DayOfWeek")
    val out = Features.addWeekendIndicator(df)
      .orderBy("DayOfWeek").collect().map(_.getAs[String]("Weekend"))
    assert(out.toSeq == Seq("Weekday", "Weekday", "Weekday", "Weekday",
      "Weekend", "Weekend", "Weekend"))
  }

  test("schedule-slack buckets at 30/60/120; null → MORE_THAN_ENOUGH") {
    val df = Seq(
      (900, 920),   // 20 min  → NOT_ENOUGH
      (900, 930),   // 30 min  → NOT_ENOUGH (<=30)
      (900, 931),   // 31 min  → BARELY_ENOUGH
      (900, 1000),  // 60 min  → BARELY_ENOUGH
      (900, 1100),  // 120 min → ENOUGH
      (900, 1101)   // 121 min → MORE_THAN_ENOUGH
    ).toDF("CRSDepTime", "CRSArrTime")
    val out = Features.addEnoughTimeEstimation(df)
      .select("TimeBetweenDepartures").collect().map(_.getString(0))
    assert(out.toSeq == Seq("NOT_ENOUGH", "NOT_ENOUGH", "BARELY_ENOUGH",
      "BARELY_ENOUGH", "ENOUGH", "MORE_THAN_ENOUGH"))
    val nullCase = Features.addEnoughTimeEstimation(
      Seq((Option.empty[Int], Some(900))).toDF("CRSDepTime", "CRSArrTime"))
      .select("TimeBetweenDepartures").first().getString(0)
    assert(nullCase == "MORE_THAN_ENOUGH")
  }

  test("lag window: previous CRSDepTime within FlightNum ordered by time") {
    val df = Seq((7, 900), (7, 1100), (7, 600), (9, 800))
      .toDF("FlightNum", "CRSDepTime")
    val out = Features.addTimeSincePreviousDeparture(df)
      .where(col("FlightNum") === 7 && col("CRSDepTime") === 900).first()
    assert(out.getAs[Int]("PrevDeparture") == 600) // 600 precedes 900
    assert(out.getAs[Int]("TimeSincePrevDeparture") == 180)
  }

  /** The HHMM stages as written with a fresh parse inside every derived
    * value: the reference the parse-once stages must reproduce exactly. */
  private object PerValueParse {
    def asInt(c: Column): Column = {
      val cleaned = regexp_replace(c.cast("string"), "[^0-9]", "")
      when(cleaned === "", null).otherwise(cleaned.cast("int"))
    }
    def hour(c: Column): Column = (asInt(c) / 100).cast("int")
    def minute(c: Column): Column = (asInt(c) % 100).cast("int")
    def msm(c: Column): Column =
      when(asInt(c).isNotNull, hour(c) * 60 + minute(c))

    def cyclicalLocaltime(df: DataFrame, timeCol: String): DataFrame = {
      val c = col(timeCol)
      val twoPi = lit(2.0 * math.Pi)
      df.filter(c.isNotNull)
        .withColumn(s"${timeCol}_minutes_cosine",
          when(msm(c).isNotNull, cos(twoPi * msm(c) / 1440)).otherwise(0))
        .withColumn(s"${timeCol}_minutes_sine",
          when(msm(c).isNotNull, sin(twoPi * msm(c) / 1440)).otherwise(0))
        .withColumn(s"${timeCol}_hours_cosine",
          when(hour(c).isNotNull, cos(twoPi * hour(c) / 24)).otherwise(0))
        .withColumn(s"${timeCol}_hours_sine",
          when(hour(c).isNotNull, sin(twoPi * hour(c) / 24)).otherwise(0))
    }
    def addFlightTimeWindow(df: DataFrame): DataFrame =
      df.withColumn("DepTime_TOD", Features.timeOfDay(hour(col("DepTime"))))
        .withColumn("CRSDepTime_TOD", Features.timeOfDay(hour(col("CRSDepTime"))))
        .withColumn("CRSArrTime_TOD", Features.timeOfDay(hour(col("CRSArrTime"))))
    def addEnoughTimeEstimation(df: DataFrame): DataFrame = {
      val diff = msm(col("CRSArrTime")) - msm(col("CRSDepTime"))
      df.withColumn("TimeBetweenDepartures",
        when(diff <= 30, "NOT_ENOUGH")
          .when(diff > 30 && diff <= 60, "BARELY_ENOUGH")
          .when(diff > 60 && diff <= 120, "ENOUGH")
          .otherwise("MORE_THAN_ENOUGH"))
    }
  }

  private def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    assert(actual.columns.toSeq == expected.columns.toSeq)
    val a = actual.collect().map(_.toSeq.map(String.valueOf)).map(_.mkString("|")).sorted
    val e = expected.collect().map(_.toSeq.map(String.valueOf)).map(_.mkString("|")).sorted
    assert(a.toSeq == e.toSeq)
  }

  test("parse-once HHMM stages equal the per-value-parse formulas on odd inputs") {
    val values = Seq("0730", "07:30", "730", "", "ab", null, "0", "2359")
    // every value in every column, beside different values in the others,
    // plus a scheduled arrival earlier than the departure
    val rows = values.indices.map(i => (values(i),
      values((i + 1) % values.size), values((i + 3) % values.size))) ++
      Seq(("1800", "1800", "0630"), ("2359", "2300", "0005"))
    val strings = rows.toDF("DepTime", "CRSDepTime", "CRSArrTime")
    val ints = Seq[(Integer, Integer, Integer)]((0, 0, 2359), (2359, 2359, 0),
      (730, 1800, 630), (null, 5, null), (1824, 959, 1001))
      .toDF("DepTime", "CRSDepTime", "CRSArrTime")
    for (df <- Seq(strings, ints)) {
      for (c <- Seq("DepTime", "CRSDepTime", "CRSArrTime"))
        assertSameRows(Features.cyclicalLocaltime(df, c),
          PerValueParse.cyclicalLocaltime(df, c))
      assertSameRows(Features.addFlightTimeWindow(df),
        PerValueParse.addFlightTimeWindow(df))
      assertSameRows(Features.addEnoughTimeEstimation(df),
        PerValueParse.addEnoughTimeEstimation(df))
    }
  }

  test("the parse-once stages refuse an input holding their temporary column") {
    val df = Seq((730, 1800, 630)).toDF("DepTime", "CRSDepTime", "__hhmm_DepTime")
    intercept[IllegalArgumentException](Features.addFlightTimeWindow(
      df.withColumn("CRSArrTime", lit(900))))
  }

  test("the optimized prepareData plan parses each HHMM column once per stage") {
    val flights = graft.operators.Cleaning.dropForbidden(
      FlightsGenerator.flights(spark, 200, seed = 3L))
    val plan = Prepare.prepareData(flights, FlightsGenerator.planeData(spark))
      .queryExecution.optimizedPlan
    val parses = plan.collectWithSubqueries { case p =>
      p.expressions.map(_.collect { case r: RegExpReplace => r }.size).sum
    }.sum
    // one timeAsInt (two regexp_replace nodes) per column per stage that
    // survives the model projection: CRSDepTime for the cyclical stage,
    // three for the time-of-day buckets, two for the slack buckets
    assert(parses <= 12, s"$parses regexp_replace nodes in\n$plan")
  }

  test("prepareData equals the chain with the polar step, over one CSV scan and no nested-loop join") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import graft.sources.{IO, Schemas}
    val dir = java.nio.file.Files.createTempDirectory("prepare_scan").toFile
    try {
      // generated flights with extra nulls, plus 150 rows that repeat an
      // earlier row's unique_id with other values, read back from one CSV
      def nullWhen(c: String, k: Int) =
        when(col("FlightNum") % k === 0, lit(null)).otherwise(col(c)).as(c)
      val base = FlightsGenerator.flights(spark, 1500, seed = 5L, nullFrac = 0.1)
      val nulled = base.select(base.columns.map {
        case "TaxiOut" => nullWhen("TaxiOut", 5)
        case "DayofMonth" => nullWhen("DayofMonth", 9)
        case "CRSArrTime" => nullWhen("CRSArrTime", 13)
        case "TailNum" => nullWhen("TailNum", 17)
        case c => col(c)
      }: _*)
      val dups = nulled.limit(150).withColumn("DepDelay", col("DepDelay") + 7)
        .withColumn("TaxiOut", col("TaxiOut") + 1)
      IO.writeSingleCsv(nulled.union(dups), s"$dir/in_csv", s"$dir/flights.csv")
      val flights = Cleaning.dropForbidden(
        IO.readCsv(spark, s"$dir/flights.csv", Some(Schemas.flights)))
      val plane = FlightsGenerator.planeData(spark)

      val actual = Prepare.prepareData(flights, plane)
      val withPolar = {
        val localtime = Features.cyclicalLocaltimeAll(
          Cleaning.cleanData(Cleaning.appendUniqueId(flights)))
        val polar = Features.cyclicalMonthWeek(localtime)
        val joined = Cleaning.joinPlaneData(polar, Cleaning.preparePlaneData(plane))
        Features.selectModelFeatures(Features.addNewCustomFeatures(joined))
      }
      def csvScans(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation
      }.count {
        case r: HadoopFsRelation => r.fileFormat.isInstanceOf[CSVFileFormat]
        case _ => false
      }
      def nestedLoopJoins(df: DataFrame): Int = df.queryExecution.sparkPlan
        .collect { case j: BroadcastNestedLoopJoinExec => j }.size
      assert(csvScans(withPolar) == 2 && nestedLoopJoins(withPolar) == 1)
      assert(csvScans(actual) == 1 && nestedLoopJoins(actual) == 0)

      // both sides cached: exceptAll straight over a dropDuplicates
      // lineage fails to bind an attribute at execution
      // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), with or without the polar
      // step. That is a Spark 4.1.2 bug, not one of this engine: a plain
      // spark-shell with no spark.sql.extensions fails the same way on
      // `val d = spark.range(100).select(col("id"), (col("id") % 10).as("k"))
      // .dropDuplicates("k"); d.exceptAll(d).count()`, while exceptAll on
      // the undeduplicated frame passes. No program path runs exceptAll
      // over a dropDuplicates lineage.
      val (a, e) = (actual.cache(), withPolar.cache())
      try {
        val n = e.count()
        assert(n > 500 && a.count() == n)
        assert(a.columns.toSeq == e.columns.toSeq)
        assert(a.exceptAll(e).isEmpty && e.exceptAll(a).isEmpty)
      } finally { a.unpersist(); e.unpersist() }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
