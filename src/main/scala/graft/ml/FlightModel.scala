package graft.ml

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.graftbridge.LocalModelIO
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor, LinearRegression, LinearRegressionModel}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M7-M12: training, evaluation, tuning and label post-processing
  * (`/root/reference/src/main/helper_methods.py:281-369`,
  * `/root/reference/src/main/main.py:88-113`, notebook cells 14-18).
  */
object FlightModel {

  val TargetCol = "ArrDelay"

  /** M7 estimator with the reference's tuned hyperparameters
    * (`helper_methods.py:301`). */
  def decisionTree(maxDepth: Int = 15, maxBins: Int = 60, seed: Long = 42L): DecisionTreeRegressor =
    new DecisionTreeRegressor()
      .setLabelCol(TargetCol).setFeaturesCol("features")
      .setMaxDepth(maxDepth).setMaxBins(maxBins).setSeed(seed)

  /** Outcome of [[trainModel]]: validation predictions plus the fitted tree
    * (None when the constant-prediction fallback fired — M12).
    *
    * Cache boundaries: `train` is the `(features, ArrDelay)` columns of the
    * train split, persisted once for the fit — call `release()` when done
    * with it. The predictions and `validation` are lazy: they recompute
    * the split from `data` (a per-row pipeline transform, a sample, a
    * partition-local sort and a second sample) on each action, so a caller
    * that reads them more than once persists them itself, as
    * `TrainApp.sink` does. Their lineage does not run through `train`, so
    * `release()` may come before or after they are consumed.
    *
    * `train` and `validation` let quality tracking (MLQuality) fit the LR
    * baseline and the CV grid on the same rows the tree saw. */
  final case class TrainResult(
      predictions: Option[DataFrame],
      model: Option[DecisionTreeRegressionModel],
      release: () => Unit = () => (),
      train: Option[DataFrame] = None,
      validation: Option[DataFrame] = None)

  /** M7 + M12: the reference's defensive train flow
    * (`helper_methods.py:281-343`):
    *  - empty input → no predictions, no model;
    *  - < 50 rows → deterministic 90/10 split of the full data (seed 42);
    *  - otherwise → seeded 50% sample then 90/10 split (seed 42);
    *  - empty train split → train and validate on the full data;
    *  - nothing to fit on → constant mean-ArrDelay prediction, no model.
    *
    * The split runs over the uncached `pipelineModel.transform(data)`:
    * the stages are per-row maps and `randomSplit` sorts each partition on
    * the frame's output columns, so as long as `data` keeps its
    * partitioning and row order (cache it — `TrainApp` does) each split
    * holds the rows it would hold over a cached transform. The train
    * split's `(features, ArrDelay)` is persisted and counted once: its
    * emptiness and every action of the tree fit read those rows instead of
    * re-running the split lineage (the reference recomputes it every
    * action — SURVEY.md §4.5).
    */
  def trainModel(data: DataFrame, pipelineModel: PipelineModel,
      trainRatio: Double = 0.9, seed: Long = 42L): TrainResult = {
    val transformed = pipelineModel.transform(data)
    val totalRows = transformed.count()
    if (totalRows == 0) return TrainResult(None, None)

    val ratios = Array(trainRatio, 1.0 - trainRatio)
    val Array(train0, validation0) =
      if (totalRows < 50) transformed.randomSplit(ratios, seed)
      else transformed.sample(0.5, seed).randomSplit(ratios, seed)

    val fitColumns = Seq(col("features"), col(TargetCol))
    val split = train0.select(fitColumns: _*).cache()
    val release = () => { split.unpersist(); () }
    try {
      val (train, validation) =
        if (split.count() == 0) (transformed.select(fitColumns: _*), transformed)
        else (split, validation0)

      val fitData = train.na.drop()
      if (fitData.isEmpty) {
        val meanDelay = Option(transformed.agg(avg(col(TargetCol))).first().get(0))
          .map(_.asInstanceOf[Number].doubleValue()).getOrElse(0.0)
        val preds = validation.withColumn("prediction", lit(meanDelay))
        TrainResult(Some(preds), None, release, None, Some(validation))
      } else {
        val model = decisionTree(seed = seed).fit(fitData)
        TrainResult(Some(model.transform(validation)), Some(model), release,
          Some(train), Some(validation))
      }
    } catch { case e: Throwable => release(); throw e }
  }

  /** M8: the notebook's linear-regression baseline (cell 14). */
  def linearBaseline(train: DataFrame): LinearRegressionModel =
    new LinearRegression()
      .setLabelCol(TargetCol).setFeaturesCol("features")
      .setMaxIter(3).setRegParam(0.01).setElasticNetParam(0.5)
      .fit(train.select(col("features"), col(TargetCol)).na.drop())

  /** M10: 3-fold CV over the reference's grid {5,10,15}×{20,40,60}
    * (README.md:100-104, notebook cells 17-18). */
  def crossValidate(train: DataFrame, seed: Long = 42L): CrossValidatorModel = {
    val dt = decisionTree(seed = seed)
    val grid = new ParamGridBuilder()
      .addGrid(dt.maxDepth, Array(5, 10, 15))
      .addGrid(dt.maxBins, Array(20, 40, 60))
      .build()
    new CrossValidator()
      .setEstimator(dt)
      .setEvaluator(evaluator("rmse"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(3)
      .setSeed(seed)
      .fit(train.select(col("features"), col(TargetCol)).na.drop())
  }

  /** M9: MAE / RMSE evaluator (`helper_methods.py:347-348`). */
  def evaluator(metric: String): RegressionEvaluator =
    new RegressionEvaluator()
      .setLabelCol(TargetCol).setPredictionCol("prediction")
      .setMetricName(metric)

  /** M9 both metrics, defensively empty-safe (`helper_methods.py:346-369`).
    * One pass: the pair count and both metrics come from a single
    * aggregate job (an emptiness probe or two evaluator calls would each
    * replay the prediction lineage — measured 160 s of recompute at the
    * 500k-row scale). None when no row has both `prediction` and
    * `ArrDelay` non-null, empty input included. */
  def evaluate(predictions: DataFrame): Option[(Double, Double)] = {
    val metrics = metricColumns
    val row = predictions.agg(metrics.head, metrics.tail: _*).first()
    metricsOf(c => row.getAs[Any](c))
  }

  /** The aggregates behind [[evaluate]], over d = prediction − ArrDelay:
    * `n` = count(d), `mae` = avg(|d|), `rmse` = sqrt(avg(d²)). Also
    * observable on a sink's own write (`Dataset.observe`), so the metrics
    * need no pass of their own. */
  private[graft] def metricColumns: Seq[Column] = {
    val d = col("prediction") - col(TargetCol)
    Seq(count(d).as("n"), avg(abs(d)).as("mae"), sqrt(avg(d * d)).as("rmse"))
  }

  /** (MAE, RMSE) from the values of [[metricColumns]] by name; None when
    * `n` is 0. */
  private[graft] def metricsOf(value: String => Any): Option[(Double, Double)] =
    if (value("n").asInstanceOf[Long] == 0L) None
    else Some((value("mae").asInstanceOf[Double], value("rmse").asInstanceOf[Double]))

  /** ±10-minute three-way labels (`main.py:94-113`): prediction ≥ 10 →
    * delayed, ≤ −10 → early, else on time; same for the actual ArrDelay
    * when present. */
  def addLabels(predictions: DataFrame): DataFrame = {
    def label(c: String) =
      when(col(c) >= 10, lit("delayed"))
        .when(col(c) <= -10, lit("early"))
        .otherwise(lit("on time"))
    val withPred =
      if (predictions.columns.contains("prediction"))
        predictions.withColumn("predicted_label", label("prediction"))
      else predictions
    if (withPred.columns.contains(TargetCol))
      withPred.withColumn("actual_label", label(TargetCol))
    else withPred
  }

  /** Persist the fitted pipeline + tree as a reusable compiled artifact —
    * the durable train-once/score-many lifecycle (the reference holds the
    * fitted PipelineModel in memory across train→score,
    * `/root/reference/src/main/main.py:82,181`; a real deployment writes
    * it out). Layout: `<dir>/pipeline` (always) + `<dir>/tree` (when a
    * tree was fit — absent for the constant-prediction fallback), each
    * Spark ML's stage-directory tree (metadata JSON + model data per
    * stage), written by the driver through `java.nio` with no Spark job
    * ([[org.apache.spark.ml.graftbridge.LocalModelIO]]). So `dir` is a
    * local path — plain, relative or a `file:` URI — like the apps' CSV
    * sink; any other scheme (`hdfs://`, `s3a://`) is refused with an
    * IllegalArgumentException before anything is written. An earlier
    * artifact in `dir` is replaced, its tree included. */
  def saveModels(dir: String, pipelineModel: PipelineModel,
      tree: Option[DecisionTreeRegressionModel]): Unit = {
    val (pipelineDir, treeDir) = modelDirs(dir)
    Seq(pipelineDir, treeDir).foreach(d => FileUtils.deleteDirectory(d.toFile))
    LocalModelIO.save(pipelineModel.write, pipelineDir.toString)
    tree.foreach(t => LocalModelIO.save(t.write, treeDir.toString))
  }

  /** Load a [[saveModels]] artifact with no Spark job: the driver reads
    * the metadata and model data itself. The tree is optional (a fallback
    * train run has none). A non-local `dir` is refused as in
    * [[saveModels]]; a `dir` that holds no saved pipeline fails with an
    * IllegalArgumentException naming it. */
  def loadModels(spark: org.apache.spark.sql.SparkSession,
      dir: String): (PipelineModel, Option[DecisionTreeRegressionModel]) = {
    val (pipelineDir, treeDir) = modelDirs(dir)
    require(Files.isRegularFile(pipelineDir.resolve("metadata")),
      s"$dir holds no flight model written by saveModels: no metadata file " +
        s"at ${pipelineDir.resolve("metadata")}")
    val pm = LocalModelIO.load(PipelineModel.read.session(spark),
      pipelineDir.toString)
    val tree =
      if (Files.isDirectory(treeDir))
        Some(LocalModelIO.load(DecisionTreeRegressionModel.read.session(spark),
          treeDir.toString))
      else None
    (pm, tree)
  }

  /** The local `pipeline` and `tree` directories of the artifact at `dir`;
    * refuses a scheme other than `file:`. */
  private def modelDirs(dir: String): (Path, Path) = {
    val uri = new org.apache.hadoop.fs.Path(dir).toUri
    Option(uri.getScheme).foreach(scheme => require(scheme.equalsIgnoreCase("file"),
      s"model dir $dir: scheme '$scheme' is not the local filesystem; the " +
        "driver writes and reads the model itself, so give a local path or a file: URI"))
    val root = Paths.get(uri.getPath).toAbsolutePath
    (root.resolve("pipeline"), root.resolve("tree"))
  }

  /** M11: map feature-importance vector slots back to column names via the
    * ML attribute metadata on the `features` column
    * (`helper_methods.py:182-195`). The RobustScaler strips source names
    * from its output block, so the trailing `numericFeatures.size` slots
    * (the final assembler appends scaledFeatures last) are named
    * positionally from the numeric feature list. */
  def featureImportances(model: DecisionTreeRegressionModel,
      transformed: DataFrame,
      numericFeatures: Seq[String] = graft.operators.Features.importantNumericFeatures)
      : Seq[(String, Double)] = {
    val attrs = AttributeGroup.fromStructField(transformed.schema("features"))
    val names = attrs.attributes
      .map(_.flatMap(a => a.name.map(a.index.getOrElse(-1) -> _)).toMap)
      .getOrElse(Map.empty)
    val total = model.featureImportances.size
    val numericStart = total - numericFeatures.size
    def slotName(i: Int): String =
      if (i >= numericStart) numericFeatures(i - numericStart)
      else names.getOrElse(i, s"slot_$i")
    model.featureImportances.toArray.zipWithIndex.collect {
      case (score, i) if score > 0 => slotName(i) -> score
    }.sortBy(-_._2).toSeq
  }
}
