package graft.apps

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.{FlightsGenerator, IO}

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
}
