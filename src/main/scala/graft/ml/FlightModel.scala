package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.evaluation.RegressionEvaluator
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
    * (None when the constant-prediction fallback fired — M12). The
    * predictions' lineage runs through the cached feature table; call
    * `release()` once they have been sunk/evaluated to unpersist it —
    * unpersisting before consumption would replay the full pipeline
    * transform on every downstream action (measured 160 s at 500k rows). */
  final case class TrainResult(
      predictions: Option[DataFrame],
      model: Option[DecisionTreeRegressionModel],
      release: () => Unit = () => (),
      // the split itself, exposed so quality tracking (MLQuality) can
      // fit the LR baseline / CV grid on the SAME data the tree saw;
      // both run through the cached feature table until release()
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
    * The transformed feature table is cached: splits, counts and the tree's
    * per-depth passes would otherwise each replay the full pipeline lineage
    * (the reference recomputes it every action — SURVEY.md §4.5).
    */
  def trainModel(data: DataFrame, pipelineModel: PipelineModel,
      trainRatio: Double = 0.9, seed: Long = 42L): TrainResult = {
    val transformed = pipelineModel.transform(data).cache()
    val release = () => { transformed.unpersist(); () }
    try {
      val totalRows = transformed.count()
      if (totalRows == 0) { release(); return TrainResult(None, None) }

      val ratios = Array(trainRatio, 1.0 - trainRatio)
      val Array(train0, validation0) =
        if (totalRows < 50) transformed.randomSplit(ratios, seed)
        else transformed.sample(0.5, seed).randomSplit(ratios, seed)

      val (train, validation) =
        if (train0.isEmpty) (transformed, transformed) else (train0, validation0)

      val fitData = train.select(col("features"), col(TargetCol)).na.drop()
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
    * it out). Uses the built-in `MLWritable` layout (metadata JSON +
    * parquet-backed model data), so the artifact round-trips through any
    * Hadoop-compatible filesystem — local dir here, object store on a
    * cluster. Layout: `<dir>/pipeline` (always) + `<dir>/tree` (when a
    * tree was fit — absent for the constant-prediction fallback). */
  def saveModels(dir: String, pipelineModel: PipelineModel,
      tree: Option[DecisionTreeRegressionModel]): Unit = {
    pipelineModel.write.overwrite().save(s"$dir/pipeline")
    tree.foreach(_.write.overwrite().save(s"$dir/tree"))
  }

  /** Load a [[saveModels]] artifact. The tree is optional (a fallback
    * train run has none); existence is probed through the Hadoop
    * filesystem of the path, not java.io, so remote stores work. */
  def loadModels(spark: org.apache.spark.sql.SparkSession,
      dir: String): (PipelineModel, Option[DecisionTreeRegressionModel]) = {
    val pm = PipelineModel.load(s"$dir/pipeline")
    val treePath = new org.apache.hadoop.fs.Path(s"$dir/tree")
    val fs = treePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tree =
      if (fs.exists(treePath)) Some(DecisionTreeRegressionModel.load(s"$dir/tree"))
      else None
    (pm, tree)
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
