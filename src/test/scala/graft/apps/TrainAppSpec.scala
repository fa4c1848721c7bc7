package graft.apps

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.ml.FlightModel
import graft.operators.{Cleaning, Prepare}
import graft.sources.{FlightsGenerator, IO, Schemas}

/** End-to-end CLI lifecycle smoke: CSV in → train → parquet + single CSV
  * out, then score a held-out file with the same run (SURVEY §3.1/§3.2). */
class TrainAppSpec extends SparkSpec {

  test("train + score lifecycle writes both sinks and a scoreable model") {
    val dir = Files.createTempDirectory("trainapp").toFile.getAbsolutePath
    // synthesize input CSVs through our own sink path
    val flights = FlightsGenerator.flights(spark, 2500, seed = 7L)
    IO.writeSingleCsv(flights, s"$dir/in_csv", s"$dir/flights.csv")
    val holdout = FlightsGenerator.flights(spark, 500, seed = 8L)
    IO.writeSingleCsv(holdout, s"$dir/hold_csv", s"$dir/holdout.csv")

    TrainApp.run(spark, s"$dir/flights.csv", s"$dir/out",
      countOnly = false, planePath = None, testFile = Some(s"$dir/holdout.csv"))

    val preds = spark.read.parquet(s"$dir/out/predictions.parquet")
    assert(preds.count() > 0)
    assert(preds.columns.contains("prediction"))
    assert(preds.columns.contains("predicted_label"))
    assert(preds.columns.contains("actual_label"))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/out/predictions.csv")))

    val scored = spark.read.parquet(s"$dir/out/test_predictions.parquet")
    assert(scored.count() > 0)
    assert(scored.columns.contains("prediction"))
  }

  test("TrainApp.session builds the verified planner config (extensions active)") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.{col, row_number}
    // force the shared suite session into existence FIRST, then clear the
    // active/default slots so TrainApp.session() genuinely exercises ITS
    // OWN builder (a fresh SparkSession over the shared SparkContext —
    // spark.sql.extensions is applied per-session at construction). A
    // vacuous variant that getOrCreate-returns the suite session would
    // pass even with the config lines deleted; this one fails.
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val app = TrainApp.session("config-parity-test")
      assert(app ne prior, "expected a session built by TrainApp's own builder")
      assert(app.conf.get("spark.sql.extensions") ==
        "graft.functions.GraftExtensions")
      assert(app.conf.get(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4096")
      assert(app.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000")
      assert(app.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(app.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(app.conf.get("spark.sql.shuffle.partitions") ==
        graft.GraftSession.cores.toString)
      // a grouped top-k window planned IN THE APP SESSION rewrites to the
      // bounded-heap aggregate — the plan users actually get
      import app.implicits._
      val df = Seq((1, 2.0, 10L), (1, 5.0, 11L), (2, 3.0, 12L))
        .toDF("g", "score", "id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("score").desc, col("id").asc)
      val plan = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 1).queryExecution.optimizedPlan.toString
      assert(plan.contains("top_k"),
        s"app session did not plan the TopKAgg rewrite:\n$plan")
    } finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }

  test("save-model + ScoreApp: a later run scores from the persisted artifact") {
    val dir = Files.createTempDirectory("scoreapp").toFile.getAbsolutePath
    val flights = FlightsGenerator.flights(spark, 2500, seed = 7L)
    IO.writeSingleCsv(flights, s"$dir/in_csv", s"$dir/flights.csv")
    val holdout = FlightsGenerator.flights(spark, 500, seed = 8L)
    IO.writeSingleCsv(holdout, s"$dir/hold_csv", s"$dir/holdout.csv")

    // train run persists the model; the in-session score path also runs
    TrainApp.run(spark, s"$dir/flights.csv", s"$dir/out",
      countOnly = false, planePath = None,
      testFile = Some(s"$dir/holdout.csv"), saveModelDir = Some(s"$dir/model"))

    // a FRESH lifecycle: only the artifact dir crosses over
    ScoreApp.run(spark, s"$dir/holdout.csv", s"$dir/model", s"$dir/score_out",
      planePath = None)
    val scored = spark.read.parquet(s"$dir/score_out/scored.parquet")
    assert(scored.count() > 0)
    assert(scored.columns.contains("prediction"))
    assert(scored.columns.contains("predicted_label"))

    // the loaded model reproduces the in-session scoring run exactly
    // (same holdout, same tree → identical prediction multiset)
    import org.apache.spark.sql.functions.col
    val inSession = spark.read.parquet(s"$dir/out/test_predictions.parquet")
      .select(col("prediction")).collect().map(_.getDouble(0)).sorted.toSeq
    val fromArtifact = scored
      .select(col("prediction")).collect().map(_.getDouble(0)).sorted.toSeq
    assert(fromArtifact.nonEmpty && fromArtifact == inSession)
  }

  test("ScoreApp on a header-only file and on an all-NA ArrDelay file") {
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("scoreedge").toFile.getAbsolutePath
    try {
      val flights = FlightsGenerator.flights(spark, 2500, seed = 7L)
      IO.writeSingleCsv(flights, s"$dir/in_csv", s"$dir/flights.csv")
      TrainApp.run(spark, s"$dir/flights.csv", s"$dir/out", countOnly = false,
        planePath = None, testFile = None, saveModelDir = Some(s"$dir/model"))

      val header = graft.sources.Schemas.flights.fieldNames.mkString(",")
      Files.write(java.nio.file.Paths.get(s"$dir/empty.csv"),
        (header + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val noTarget = FlightsGenerator.flights(spark, 300, seed = 9L)
        .withColumn("ArrDelay", lit("NA"))
      IO.writeSingleCsv(noTarget, s"$dir/na_csv", s"$dir/na.csv")
      assert(IO.readCsv(spark, s"$dir/na.csv", Some(graft.sources.Schemas.flights))
        .where("ArrDelay IS NULL").count() == 300L)

      // cleaning drops rows without ArrDelay (reference semantics), so
      // both inputs score nothing: empty sinks, a header-only CSV and no
      // MAE line, without an exception
      for ((input, out) <- Seq("empty.csv" -> "empty_out", "na.csv" -> "na_out")) {
        val log = new java.io.ByteArrayOutputStream
        Console.withOut(log)(ScoreApp.run(spark, s"$dir/$input",
          s"$dir/model", s"$dir/$out", planePath = None))
        assert(!log.toString("UTF-8").contains("[score] MAE"), input)
        assert(spark.read.parquet(s"$dir/$out/scored.parquet").count() == 0L,
          input)
        val csv = scala.io.Source.fromFile(s"$dir/$out/scored.csv")
        val lines = try csv.getLines().toList finally csv.close()
        assert(lines.length == 1 && lines.head.split(",").contains("prediction"),
          s"$input: $lines")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** A model trained on 2,500 generated flights and a 500-row holdout
    * CSV, shared by the scoring cases below. */
  private lazy val scoring: (String, String) = {
    val dir = Files.createTempDirectory("scoring").toFile.getAbsolutePath
    IO.writeSingleCsv(FlightsGenerator.flights(spark, 2500, seed = 7L),
      s"$dir/in_csv", s"$dir/flights.csv")
    IO.writeSingleCsv(FlightsGenerator.flights(spark, 500, seed = 8L),
      s"$dir/hold_csv", s"$dir/holdout.csv")
    TrainApp.run(spark, s"$dir/flights.csv", s"$dir/out", countOnly = false,
      planePath = None, testFile = None, saveModelDir = Some(s"$dir/model"))
    (dir, s"$dir/holdout.csv")
  }

  /** `ScoreApp.run`'s stdout. */
  private def scoreRun(input: String, out: String,
      planePath: Option[String] = None): String = {
    val log = new java.io.ByteArrayOutputStream
    Console.withOut(log)(ScoreApp.run(spark, input, s"${scoring._1}/model",
      out, planePath))
    log.toString("UTF-8")
  }

  /** The labeled scoring lineage of `input`, as `ScoreApp.run` builds it. */
  private def labeled(input: String): DataFrame = {
    val (pm, tree) = FlightModel.loadModels(spark, s"${scoring._1}/model")
    val raw = IO.readCsv(spark, input, Some(Schemas.flights))
    val transformed = pm.transform(Prepare.prepareData(
      Cleaning.dropForbidden(raw), TrainApp.planeData(spark, None)))
    FlightModel.addLabels(tree.map(_.transform(transformed)).getOrElse(transformed))
  }

  test("ScoreApp computes each row once: <= 3x its input rows read, >= 10 fewer jobs than three passes") {
    val (dir, holdout) = scoring
    val inputRows = IO.readCsv(spark, holdout, Some(Schemas.flights)).count()
    val oneRun = countRun(scoreRun(holdout, s"$dir/once"))
    // the same outputs as three passes over the unpersisted lineage:
    // parquet sink, CSV sink, then the metrics
    val threePasses = countRun {
      val df = labeled(holdout)
      IO.writeParquet(df, s"$dir/thrice/scored.parquet")
      IO.writeSingleCsv(df, s"$dir/thrice/scored_csv", s"$dir/thrice/scored.csv")
      FlightModel.evaluate(df)
    }
    // the model artifact's own parquet rows are not scoring input
    val modelRecords =
      countRun(FlightModel.loadModels(spark, s"$dir/model")).inputRecords
    info(s"one run $oneRun, three passes $threePasses, $inputRows input " +
      s"rows, $modelRecords model records")
    assert(oneRun.inputRecords - modelRecords <= 3 * inputRows,
      s"ScoreApp read ${oneRun.inputRecords} records ($modelRecords of " +
        s"them the model's) for $inputRows input rows")
    assert(oneRun.jobs <= threePasses.jobs - 10,
      s"ScoreApp ran ${oneRun.jobs} jobs, three passes ${threePasses.jobs}")
  }

  test("ScoreApp's MAE/RMSE equal evaluate over its parquet; the CSV holds the parquet's rows in a stable order") {
    val (dir, holdout) = scoring
    val log = scoreRun(holdout, s"$dir/check")
    val parquet = spark.read.parquet(s"$dir/check/scored.parquet")
    val (mae, rmse) = FlightModel.evaluate(parquet).get
    assert(log.contains(f"[score] MAE=$mae%.3f RMSE=$rmse%.3f"), log)

    // the sink's own metrics, unrounded, against the written rows
    val (sinkMae, sinkRmse) =
      TrainApp.sink(labeled(holdout), s"$dir/direct", "scored").get
    val (pqMae, pqRmse) =
      FlightModel.evaluate(spark.read.parquet(s"$dir/direct/scored.parquet")).get
    assert(math.abs(sinkMae - pqMae) < 1e-9 && math.abs(sinkRmse - pqRmse) < 1e-9,
      s"sink ($sinkMae, $sinkRmse) vs parquet ($pqMae, $pqRmse)")

    // CSV lines == the parquet's CSV-safe rows, as a multiset
    val safe = IO.csvSafeColumns(parquet)
    val csv = scala.io.Source.fromFile(s"$dir/check/scored.csv")
    val lines = try csv.getLines().toList finally csv.close()
    assert(lines.head == safe.columns.mkString(","))
    val fromCsv = spark.read.schema(safe.schema).option("header", "true")
      .csv(s"$dir/check/scored.csv")
    assert(fromCsv.count() == lines.size - 1 && fromCsv.count() == safe.count())
    assert(fromCsv.exceptAll(safe).isEmpty && safe.exceptAll(fromCsv).isEmpty)

    // a second run writes the same bytes
    scoreRun(holdout, s"$dir/again")
    assert(java.util.Arrays.equals(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/check/scored.csv")),
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/again/scored.csv"))))
  }

  test("ScoreApp scores every row when no plane categorical was seen in training") {
    val (dir, holdout) = scoring
    // the default plane table's tail numbers, every categorical renamed
    val unseen = TrainApp.planeData(spark, None).select(col("tailnum"),
      lit("UnseenType").as("type"), lit("UnseenMaker").as("manufacturer"),
      col("issue_date"), lit("UnseenModel").as("model"), col("status"),
      lit("UnseenAircraft").as("aircraft_type"),
      lit("UnseenEngine").as("engine_type"), lit("1901").as("year"))
    IO.writeSingleCsv(unseen, s"$dir/plane_csv", s"$dir/plane.csv")
    val plane = IO.readCsv(spark, s"$dir/plane.csv", Some(Schemas.planeData))
    val joined = Prepare.prepareData(Cleaning.dropForbidden(
      IO.readCsv(spark, holdout, Some(Schemas.flights))), plane).count()
    assert(joined > 0)

    val log = scoreRun(holdout, s"$dir/unseen", Some(s"$dir/plane.csv"))
    assert(log.contains("[score] MAE="), log)
    val scored = spark.read.parquet(s"$dir/unseen/scored.parquet")
    assert(scored.count() == joined)
    assert(scored.where(col("prediction").isNull).count() == 0L)
    assert(scored.select("manufacturer").distinct().collect().map(_.getString(0))
      .toSeq == Seq("UnseenMaker"))
  }
}
