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
  * the fitted pipeline+tree to a local dir so [[ScoreApp]] can score later
  * runs without retraining (the durable version of that lifecycle).
  */
object TrainApp {

  def main(args: Array[String]): Unit = {
    val cli = CliArgs.parse(args, switches = Set("--count-only"),
      valueFlags = Set("--plane-data", "--test-file", "--save-model"))
    require(cli.positional.length == 2,
      "usage: TrainApp <input.csv> <outputDir> [--count-only] [--plane-data p] " +
        "[--test-file t] [--save-model modelDir]")
    val Seq(inputPath, outputDir) = cli.positional

    val spark = session()
    try run(spark, inputPath, outputDir, cli.switches("--count-only"),
      cli.values.get("--plane-data"), cli.values.get("--test-file"),
      cli.values.get("--save-model"))
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
    // cached for its readers — the pipeline fit, the split and the train
    // sink, whose predictions recompute the validation split from it — and
    // released once the sink is done: the model save and the --test-file
    // scoring do not read it
    val prepared = Prepare.prepareData(fullData, plane).cache()
    val (pipelineModel, model) = try {
      val pm = FlightPipeline().fit(prepared)
      val result = FlightModel.trainModel(prepared, pm)
      // the tree is fit: nothing reads the persisted train split again
      result.release()
      result.predictions.foreach { preds =>
        sink(FlightModel.addLabels(preds), outputDir, "predictions")
          .foreach { case (mae, rmse) =>
            println(f"[train] MAE=$mae%.3f RMSE=$rmse%.3f")
          }
      }
      (pm, result.model)
    } finally prepared.unpersist()

    saveModelDir.foreach { dir =>
      FlightModel.saveModels(dir, pipelineModel, model)
      println(s"[train] model saved to $dir")
    }

    testFile.foreach { tf => // scoring lifecycle, main.py:170-260
      score(spark, tf, plane, pipelineModel, model, outputDir,
        "test_predictions")
    }
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
    val cli = CliArgs.parse(args, switches = Set.empty,
      valueFlags = Set("--plane-data"))
    require(cli.positional.length == 3,
      "usage: ScoreApp <input.csv> <modelDir> <outputDir> [--plane-data p]")
    val Seq(inputPath, modelDir, outputDir) = cli.positional
    val spark = TrainApp.session("FlightDelayScoringApp")
    try run(spark, inputPath, modelDir, outputDir, cli.values.get("--plane-data"))
    finally spark.stop()
  }

  def run(spark: SparkSession, inputPath: String, modelDir: String,
      outputDir: String, planePath: Option[String]): Unit = {
    val (pipelineModel, tree) = FlightModel.loadModels(spark, modelDir)
    TrainApp.score(spark, inputPath, TrainApp.planeData(spark, planePath),
      pipelineModel, tree, outputDir, "scored")
  }
}

/** A parsed app command line: positionals in order, the switches given,
  * and each value flag's value. */
private[apps] final case class CliArgs(positional: Seq[String],
    switches: Set[String], values: Map[String, String])

private[apps] object CliArgs {

  /** Splits `args` into positionals, `switches` (flags alone) and
    * `valueFlags` (flags that take the next argument as their value),
    * in any order. An unknown `--flag`, or a value flag with no value
    * after it, throws an `IllegalArgumentException` naming the flag. */
  def parse(args: Seq[String], switches: Set[String],
      valueFlags: Set[String]): CliArgs = {
    @scala.annotation.tailrec
    def go(rest: List[String], acc: CliArgs): CliArgs = rest match {
      case Nil => acc
      case f :: tail if switches(f) => go(tail, acc.copy(switches = acc.switches + f))
      case f :: v :: tail if valueFlags(f) && !v.startsWith("--") =>
        go(tail, acc.copy(values = acc.values + (f -> v)))
      case f :: _ if valueFlags(f) =>
        throw new IllegalArgumentException(s"$f needs a value")
      case f :: _ if f.startsWith("--") =>
        throw new IllegalArgumentException(s"unknown flag $f")
      case p :: tail => go(tail, acc.copy(positional = acc.positional :+ p))
    }
    go(args.toList, CliArgs(Vector.empty, Set.empty, Map.empty))
  }
}
