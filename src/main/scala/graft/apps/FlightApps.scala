package graft.apps

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.regression.DecisionTreeRegressionModel
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.ml.{FlightModel, FlightPipeline}
import graft.operators.{Cleaning, Prepare}
import graft.sources.{IO, Schemas}

/** CLI lifecycle mirroring the reference's entry points
  * (`/root/reference/src/main/main.py:31-263`):
  *
  *   TrainApp <flights.csv[.bz2]> <outputDir> [--count-only] [--plane-data p]
  *            [--test-file scoring.csv] [--save-model modelDir]
  *
  * train: CSV scan → leakage drop → prepare → pipeline fit → DT train →
  * ±10-min labels → parquet + single-file CSV sinks → MAE/RMSE report.
  * `--test-file` reuses the fitted pipeline+model on a held-out file
  * (train-once / score-many — `main.py:170-260`); `--save-model` persists
  * the fitted pipeline+tree so [[ScoreApp]] can score later runs without
  * retraining (the durable version of that lifecycle).
  */
object TrainApp {

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    require(positional.length >= 2,
      "usage: TrainApp <input.csv> <outputDir> [--count-only] [--plane-data p] [--test-file t]")
    val Array(inputPath, outputDir) = positional.take(2)
    val countOnly = args.contains("--count-only")

    val spark = session()
    try run(spark, inputPath, outputDir, countOnly, optArg(args, "--plane-data"),
      optArg(args, "--test-file"), optArg(args, "--save-model"))
    finally spark.stop()
  }

  def session(appName: String = "FlightDelayPredictionApp"): SparkSession =
    graft.GraftSession(appName)

  def run(spark: SparkSession, inputPath: String, outputDir: String,
      countOnly: Boolean, planePath: Option[String], testFile: Option[String],
      saveModelDir: Option[String] = None): Unit = {

    val raw = IO.readCsv(spark, inputPath, Some(Schemas.flights))
    if (countOnly) { // main.py:74-77
      println(s"[count-only] rows=${raw.count()}")
      return
    }

    val plane = planeData(spark, planePath)

    val fullData = Cleaning.dropForbidden(raw)
    val prepared = Prepare.prepareData(fullData, plane).cache()

    val pipelineModel: PipelineModel = FlightPipeline().fit(prepared)
    val result = FlightModel.trainModel(prepared, pipelineModel)

    result.predictions.foreach { preds =>
      sink(FlightModel.addLabels(preds), outputDir, "predictions")
        .foreach { case (mae, rmse) =>
          println(f"[train] MAE=$mae%.3f RMSE=$rmse%.3f")
        }
    }
    // predictions are sunk and evaluated — safe to drop the cached feature
    // table their lineage runs through
    result.release()

    saveModelDir.foreach { dir =>
      FlightModel.saveModels(dir, pipelineModel, result.model)
      println(s"[train] model saved to $dir")
    }

    testFile.foreach { tf => // scoring lifecycle, main.py:170-260
      score(spark, tf, plane, pipelineModel, result.model, outputDir,
        "test_predictions")
    }
    prepared.unpersist()
  }

  /** The scoring steps both lifecycles run: CSV scan → leakage drop →
    * prepare → pipeline transform → tree (when trained) → ±10-min labels
    * → sinks as `name`, then MAE/RMSE when the input carries the target. */
  private[apps] def score(spark: SparkSession, inputPath: String,
      plane: DataFrame, pipelineModel: PipelineModel,
      tree: Option[DecisionTreeRegressionModel], outputDir: String,
      name: String): Unit = {
    val raw = IO.readCsv(spark, inputPath, Some(Schemas.flights))
    val prepared = Prepare.prepareData(Cleaning.dropForbidden(raw), plane)
    val transformed = pipelineModel.transform(prepared)
    val scored = tree.map(_.transform(transformed)).getOrElse(transformed)
    sink(FlightModel.addLabels(scored), outputDir, name).foreach {
      case (mae, rmse) => println(f"[score] MAE=$mae%.3f RMSE=$rmse%.3f")
    }
  }

  /** `--plane-data` CSV, or the generated plane table by default. */
  private[apps] def planeData(spark: SparkSession,
      planePath: Option[String]): DataFrame =
    planePath
      .map(p => IO.readCsv(spark, p, Some(Schemas.planeData)))
      .getOrElse(graft.sources.FlightsGenerator.planeData(spark))

  /** The value after `flag` in `args`, if any. */
  private[apps] def optArg(args: Array[String], flag: String): Option[String] = {
    val i = args.indexOf(flag); if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** S4 + S5/S6 + M9: parquet dir + single-file CSV of the primitive
    * columns (`main.py:116-162`), and MAE/RMSE when `df` carries both
    * `prediction` and `ArrDelay` (None otherwise, or when no row has both).
    * Every flight output comes from one computation of each row: `df` is
    * persisted, the parquet write computes it and collects the metrics in
    * the same job (`Dataset.observe`), and the CSV reads the persisted
    * rows. The persisted plan keeps its input's partitioning (Spark does
    * not coalesce a cached plan), so the CSV lists the rows partition by
    * partition: an order that is reproducible run to run, not the input's. */
  private[apps] def sink(df: DataFrame, outputDir: String,
      name: String): Option[(Double, Double)] = {
    val kept = df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val observation =
        if (kept.columns.contains("prediction") &&
            kept.columns.contains(FlightModel.TargetCol)) Some(Observation())
        else None
      val metrics = FlightModel.metricColumns
      IO.writeParquet(observation.fold(kept)(o =>
        kept.observe(o, metrics.head, metrics.tail: _*)),
        s"$outputDir/$name.parquet")
      IO.writeSingleCsv(kept, s"$outputDir/${name}_csv", s"$outputDir/$name.csv")
      observation.flatMap(o => FlightModel.metricsOf(o.get))
    } finally kept.unpersist()
  }
}

/** Score-only lifecycle against a persisted model artifact:
  *
  *   ScoreApp <flights.csv[.bz2]> <modelDir> <outputDir> [--plane-data p]
  *
  * Loads the pipeline+tree saved by `TrainApp --save-model`, prepares the
  * input exactly as training did, scores, labels, and sinks — no fit
  * anywhere, so a scoring run touches only the input's own data. This is
  * the durable train-once/score-many lifecycle the reference approximates
  * in-memory (`/root/reference/src/main/main.py:170-260`). */
object ScoreApp {

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    require(positional.length >= 3,
      "usage: ScoreApp <input.csv> <modelDir> <outputDir> [--plane-data p]")
    val Array(inputPath, modelDir, outputDir) = positional.take(3)
    val spark = TrainApp.session("FlightDelayScoringApp")
    try run(spark, inputPath, modelDir, outputDir,
      TrainApp.optArg(args, "--plane-data"))
    finally spark.stop()
  }

  def run(spark: SparkSession, inputPath: String, modelDir: String,
      outputDir: String, planePath: Option[String]): Unit = {
    val (pipelineModel, tree) = FlightModel.loadModels(spark, modelDir)
    TrainApp.score(spark, inputPath, TrainApp.planeData(spark, planePath),
      pipelineModel, tree, outputDir, "scored")
  }
}
