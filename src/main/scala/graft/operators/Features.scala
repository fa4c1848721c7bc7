package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-engineering stages (SURVEY.md §2.5, §2.8, §2.9).
  *
  * Re-expresses the reference's column-expression feature engineering
  * (`/root/reference/src/main/dataset_utils.py:55-117`,
  * `/root/reference/src/main/custom_features.py`) as codegen-friendly native
  * Catalyst expressions — no Python/Scala UDFs in the hot path. A stage
  * that reads HHMM columns parses each of them once per row and derives
  * hour, minute and minutes-since-midnight from that one int.
  */
object Features {

  private val TwoPi = 2.0 * math.Pi

  /** F2/F4: strip non-digits from a time-like column and parse as int.
    * Handles ints, strings like "730", "0730", "07:30"; empty → null
    * (`dataset_utils.py:84-85`). */
  def timeAsInt(c: Column): Column = {
    val cleaned = regexp_replace(c.cast("string"), "[^0-9]", "")
    when(cleaned === "", null).otherwise(cleaned.cast("int"))
  }

  /** HHMM → hour. Division is double (matches Python `/`), truncated by the
    * int cast (`dataset_utils.py:86`). */
  def hourFromTime(c: Column): Column = hourOf(timeAsInt(c))

  /** HHMM → minutes past the hour (`dataset_utils.py:87`). */
  def minuteFromTime(c: Column): Column = minuteOf(timeAsInt(c))

  /** HHMM → minutes since midnight, null-safe (`dataset_utils.py:90`). */
  def minutesSinceMidnight(c: Column): Column = minutesOf(timeAsInt(c))

  // the same three derivations from an already parsed [[timeAsInt]] value
  private def hourOf(t: Column): Column = (t / 100).cast("int")
  private def minuteOf(t: Column): Column = (t % 100).cast("int")
  private def minutesOf(t: Column): Column =
    when(t.isNotNull, hourOf(t) * 60 + minuteOf(t))

  /** Temporary column holding the parsed HHMM int of `c` inside one stage. */
  private def parsedName(c: String): String = s"__hhmm_$c"

  /** Runs `stage` with the [[timeAsInt]] parse of each of `timeCols`
    * added as a temporary column (handed to `stage` as a column lookup),
    * then drops them. Each HHMM column is parsed once per row: Catalyst's
    * CollapseProject does not inline a non-cheap alias that is referenced
    * more than once, so hour, minute and minutes-since-midnight all read
    * the one parsed int instead of repeating the two `regexp_replace`s. */
  private def withParsedTimes(df: DataFrame, timeCols: Seq[String])(
      stage: (DataFrame, String => Column) => DataFrame): DataFrame = {
    val reserved = timeCols.map(parsedName)
    Reserved.guard("Features", df, reserved: _*)
    val parsed = timeCols.foldLeft(df)((acc, c) =>
      acc.withColumn(parsedName(c), timeAsInt(col(c))))
    stage(parsed, c => col(parsedName(c))).drop(reserved: _*)
  }

  /** W2-adjacent: cyclical sin/cos encodings of one HHMM time column, plus
    * the not-null row filter the reference applies per column
    * (`dataset_utils.py:79-108`). Null encodings become 0.0, matching the
    * reference's `otherwise(0)`. The column is parsed once per row. */
  def cyclicalLocaltime(df: DataFrame, timeCol: String): DataFrame =
    withParsedTimes(df.filter(col(timeCol).isNotNull), Seq(timeCol)) { (in, parsed) =>
      val t = parsed(timeCol)
      val msm = minutesOf(t)
      val hrs = hourOf(t)
      in.withColumn(s"${timeCol}_minutes_cosine",
          when(msm.isNotNull, cos(lit(TwoPi) * msm / 1440)).otherwise(0))
        .withColumn(s"${timeCol}_minutes_sine",
          when(msm.isNotNull, sin(lit(TwoPi) * msm / 1440)).otherwise(0))
        .withColumn(s"${timeCol}_hours_cosine",
          when(hrs.isNotNull, cos(lit(TwoPi) * hrs / 24)).otherwise(0))
        .withColumn(s"${timeCol}_hours_sine",
          when(hrs.isNotNull, sin(lit(TwoPi) * hrs / 24)).otherwise(0))
    }

  /** The three HHMM columns the reference encodes (`dataset_utils.py:111-117`). */
  def cyclicalLocaltimeAll(df: DataFrame): DataFrame =
    Seq("DepTime", "CRSDepTime", "CRSArrTime").foldLeft(df)(cyclicalLocaltime)

  /** W2 rewrite: polar x/y encodings of DayofMonth/Month/DayOfWeek.
    *
    * The reference computes the per-column max with an UNPARTITIONED window
    * (`ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING`,
    * `dataset_utils.py:55-66`) — a single-partition exchange of the whole
    * dataset, which cannot work at 100 TB. Identical values here via a
    * 1-row global aggregate cross-joined back (broadcast — no wide shuffle;
    * the fact side keeps its partitioning).
    *
    * angle = 2π·(v−1)/max + π/2;  x = cos(angle), y = sin(angle).
    */
  def cyclicalMonthWeek(df: DataFrame,
      cols: Seq[String] = Seq("DayofMonth", "Month", "DayOfWeek")): DataFrame = {
    val maxes = df.agg(
      max(col(cols.head)).as(s"__max_${cols.head}"),
      cols.tail.map(c => max(col(c)).as(s"__max_$c")): _*)
    val joined = df.crossJoin(broadcast(maxes))
    val withPolar = cols.foldLeft(joined) { (acc, c) =>
      val angle = lit(TwoPi) * (col(c) - 1) / col(s"__max_$c") + lit(math.Pi / 2.0)
      acc.withColumn(s"${c}_polar_x", cos(angle))
        .withColumn(s"${c}_polar_y", sin(angle))
    }
    withPolar.drop(cols.map(c => s"__max_$c"): _*)
  }

  /** U1 as a native CASE expression: hour → time-of-day bucket
    * (`custom_features.py:7-22`). Codegen-friendly; null → "unknown" exactly
    * like the Python UDF's else branch. */
  def timeOfDay(hour: Column): Column =
    when(hour.isNotNull && hour.between(5, 11), "morning")
      .when(hour.isNotNull && hour.between(12, 18), "afternoon")
      .when(hour.isNotNull && hour.between(19, 23), "evening")
      .when(hour.isNotNull && hour.between(0, 4), "night")
      .otherwise("unknown")

  /** U1 capability demo: the same bucketing as a registered Scala UDF —
    * proves the UDF surface (`custom_features.py:36`); prefer [[timeOfDay]]
    * in real plans (no serialization boundary, stays in codegen). */
  def registerTimeOfDayUdf(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.udf.register("categorize_time", (hour: Integer) =>
      if (hour == null) "unknown"
      else if (hour >= 5 && hour <= 11) "morning"
      else if (hour >= 12 && hour <= 18) "afternoon"
      else if (hour >= 19 && hour <= 23) "evening"
      else if (hour >= 0 && hour <= 4) "night"
      else "unknown")

  /** Feature 1: time-of-day buckets for the three schedule columns
    * (`custom_features.py:27-47`), each column parsed once per row. */
  def addFlightTimeWindow(df: DataFrame): DataFrame = {
    val timeCols = Seq("DepTime", "CRSDepTime", "CRSArrTime")
    withParsedTimes(df, timeCols) { (in, parsed) =>
      timeCols.foldLeft(in)((acc, c) =>
        acc.withColumn(s"${c}_TOD", timeOfDay(hourOf(parsed(c)))))
    }
  }

  /** Feature 2: weekend indicator, DayOfWeek ∈ {5,6,7}
    * (`custom_features.py:52-57`). */
  def addWeekendIndicator(df: DataFrame): DataFrame =
    df.withColumn("Weekend",
      when(col("DayOfWeek").isin(5, 6, 7), "Weekend").otherwise("Weekday"))

  /** Feature 3: scheduled-slack bucketing of CRSArrTime − CRSDepTime in
    * minutes (`custom_features.py:62-90`), each column parsed once per
    * row. Null diff falls through every `when` to "MORE_THAN_ENOUGH",
    * matching the reference. */
  def addEnoughTimeEstimation(df: DataFrame): DataFrame =
    withParsedTimes(df, Seq("CRSArrTime", "CRSDepTime")) { (in, parsed) =>
      val diff = minutesOf(parsed("CRSArrTime")) - minutesOf(parsed("CRSDepTime"))
      in.withColumn("TimeBetweenDepartures",
        when(diff <= 30, "NOT_ENOUGH")
          .when(diff > 30 && diff <= 60, "BARELY_ENOUGH")
          .when(diff > 60 && diff <= 120, "ENOUGH")
          .otherwise("MORE_THAN_ENOUGH"))
    }

  /** All three custom features (`custom_features.py`, composed at
    * `dataset_utils.py:26-30`). */
  def addNewCustomFeatures(df: DataFrame): DataFrame =
    addEnoughTimeEstimation(addWeekendIndicator(addFlightTimeWindow(df)))

  /** W3: the notebook's lag-window variant — minutes since the previous
    * scheduled departure of the same flight number
    * (`notebook/Model.ipynb` cell 26). */
  def addTimeSincePreviousDeparture(df: DataFrame,
      partitionCol: String = "FlightNum",
      timeCol: String = "CRSDepTime"): DataFrame = {
    val w = Window.partitionBy(col(partitionCol)).orderBy(col(timeCol))
    df.withColumn("PrevDeparture", lag(col(timeCol), 1).over(w))
      .withColumn("TimeSincePrevDeparture",
        minutesSinceMidnight(col(timeCol)) -
          minutesSinceMidnight(col("PrevDeparture")))
  }

  /** The final 18-column feature projection (`dataset_utils.py:145`,
    * `helper_methods.py:13-18`). */
  val importantNumericFeatures: Seq[String] = Seq(
    "DepDelay", "TaxiOut", "CRSDepTime_minutes_cosine", "DepTime",
    "CRSDepTime", "CRSDepTime_minutes_sine")
  val categoricalPlaneFeatures: Seq[String] = Seq(
    "type", "manufacturer", "model", "aircraft_type", "engine_type", "year_plane")
  val customFeatureNames: Seq[String] = Seq(
    "DepTime_TOD", "CRSDepTime_TOD", "CRSArrTime_TOD", "Weekend",
    "TimeBetweenDepartures")
  val totalCategoricalFeatures: Seq[String] =
    categoricalPlaneFeatures ++ customFeatureNames
  val targetCol: String = "ArrDelay"

  def selectModelFeatures(df: DataFrame): DataFrame =
    df.select((importantNumericFeatures ++ totalCategoricalFeatures :+ targetCol)
      .map(col): _*)
}
