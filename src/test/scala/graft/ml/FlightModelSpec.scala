package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Features, Prepare}
import graft.sources.FlightsGenerator

/** End-to-end ML lifecycle vs the reference semantics
  * (`/root/reference/src/main/helper_methods.py:252-369`,
  * `/root/reference/src/main/main.py:88-113`): pipeline schema, defensive
  * train flow, metric sanity (the tree must beat a constant predictor on
  * data where ArrDelay is DepDelay-correlated), label thresholds. */
class FlightModelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val prepared: DataFrame = {
    val f = FlightsGenerator.flights(spark, 4000, seed = 42L)
    val p = FlightsGenerator.planeData(spark)
    Prepare.prepareData(f, p).cache()
  }

  test("prepareData yields the 18-column model projection with rows") {
    val expected = (Features.importantNumericFeatures ++
      Features.totalCategoricalFeatures :+ FlightModel.TargetCol).toSet
    assert(prepared.columns.toSet == expected)
    assert(prepared.count() > 1000)
  }

  test("pipeline produces features/scaledFeatures vectors of the right arity") {
    val model = FlightPipeline().fit(prepared)
    val transformed = model.transform(prepared)
    val row = transformed.select("scaledFeatures", "features").head()
    val scaled = row.getAs[org.apache.spark.ml.linalg.Vector]("scaledFeatures")
    val features = row.getAs[org.apache.spark.ml.linalg.Vector]("features")
    assert(scaled.size == Features.importantNumericFeatures.size)
    assert(features.size > scaled.size) // one-hots add slots
  }

  test("trainModel beats a constant-mean predictor on correlated data") {
    val pipelineModel = FlightPipeline().fit(prepared)
    val result = FlightModel.trainModel(prepared, pipelineModel)
    assert(result.model.isDefined && result.predictions.isDefined)
    val preds = result.predictions.get.cache()
    val Some((mae, rmse)) = FlightModel.evaluate(preds)
    val meanDelay = prepared.agg(avg(col("ArrDelay"))).head().getDouble(0)
    val constantMae = preds
      .agg(avg(abs(lit(meanDelay) - col("ArrDelay")))).head().getDouble(0)
    assert(mae.isFinite && rmse.isFinite && rmse >= mae)
    assert(mae < constantMae, s"DT mae=$mae not better than constant mae=$constantMae")
    preds.unpersist()
    result.release()
  }

  test("feature importances map back to named slots") {
    val pipelineModel = FlightPipeline().fit(prepared)
    val transformed = pipelineModel.transform(prepared)
    val result = FlightModel.trainModel(prepared, pipelineModel)
    val imps = FlightModel.featureImportances(result.model.get, transformed)
    result.release()
    assert(imps.nonEmpty)
    assert(imps.map(_._2).sum <= 1.0 + 1e-9)
    // DepDelay is the generator's dominant signal; it must appear
    assert(imps.map(_._1).exists(_.contains("DepDelay")))
  }

  test("cross-validation returns a model from the reference grid (M10)") {
    val pm = FlightPipeline().fit(prepared)
    val small = pm.transform(prepared.sample(0.1, 42L))
    val cv = FlightModel.crossValidate(small)
    val best = cv.bestModel.asInstanceOf[
      org.apache.spark.ml.regression.DecisionTreeRegressionModel]
    assert(Set(5, 10, 15).contains(best.getMaxDepth))
    assert(Set(20, 40, 60).contains(best.getMaxBins))
    assert(cv.avgMetrics.length == 9) // 3×3 grid
  }

  test("linear baseline trains with the notebook hyperparameters (M8)") {
    val pm = FlightPipeline().fit(prepared)
    val lr = FlightModel.linearBaseline(pm.transform(prepared.sample(0.2, 42L)))
    assert(lr.getMaxIter == 3 && lr.getRegParam == 0.01 && lr.getElasticNetParam == 0.5)
    assert(!lr.coefficients.toArray.forall(_ == 0.0))
  }

  test("empty input short-circuits; unfittable input falls back to constant") {
    val empty = prepared.filter(lit(false))
    val pm = FlightPipeline().fit(prepared)
    val r = FlightModel.trainModel(empty, pm)
    assert(r.predictions.isEmpty && r.model.isEmpty)
  }

  test("saved models round-trip: loaded pipeline+tree reproduce predictions exactly") {
    val pipelineModel = FlightPipeline().fit(prepared)
    val result = FlightModel.trainModel(prepared, pipelineModel)
    assert(result.model.isDefined)
    val root = java.nio.file.Files.createTempDirectory("graft_model_rt")
    try {
      // score the same fixture batch through both artifacts: predictions
      // must be bit-identical (same tree, same pipeline transforms)
      val batch = prepared.limit(200)
      val expect = result.model.get.transform(pipelineModel.transform(batch))
        .select("prediction").as[Double].collect().toSeq
      assert(expect.nonEmpty)
      val relative = java.nio.file.Paths.get("").toAbsolutePath
        .relativize(root.resolve("relative")).toString
      val uri = root.resolve("uri").toUri.toString
      assert(!java.nio.file.Paths.get(relative).isAbsolute && uri.startsWith("file:"))
      for (dir <- Seq(root.resolve("plain").toString, relative, uri)) {
        FlightModel.saveModels(dir, pipelineModel, result.model)
        val (loadedPm, loadedTree) = FlightModel.loadModels(spark, dir)
        val actual = loadedTree.get.transform(loadedPm.transform(batch))
          .select("prediction").as[Double].collect().toSeq
        assert(actual == expect, dir)
        // depth/bins survive the round-trip too
        assert(loadedTree.get.getMaxDepth == result.model.get.getMaxDepth)
      }
      // a later save without a tree (the constant fallback) replaces the
      // earlier artifact whole: no stale tree is loaded beside the pipeline
      FlightModel.saveModels(uri, pipelineModel, None)
      assert(FlightModel.loadModels(spark, uri)._2.isEmpty)
    } finally {
      result.release()
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  /** What [[FlightModel.trainModel]] did while it cached the transformed
    * frame: the split, the tree and the predictions of that recipe, kept
    * as the reference the current one must reproduce row for row. */
  private case class CachedRecipe(train: Option[DataFrame],
      validation: DataFrame, predictions: DataFrame,
      model: Option[org.apache.spark.ml.regression.DecisionTreeRegressionModel],
      release: () => Unit)

  private def cachedRecipe(data: DataFrame,
      pm: org.apache.spark.ml.PipelineModel, trainRatio: Double = 0.9,
      seed: Long = 42L): CachedRecipe = {
    val transformed = pm.transform(data).cache()
    val totalRows = transformed.count()
    val ratios = Array(trainRatio, 1.0 - trainRatio)
    val Array(train0, validation0) =
      if (totalRows < 50) transformed.randomSplit(ratios, seed)
      else transformed.sample(0.5, seed).randomSplit(ratios, seed)
    val (train, validation) =
      if (train0.isEmpty) (transformed, transformed) else (train0, validation0)
    val fitData = train.select(col("features"), col(FlightModel.TargetCol)).na.drop()
    val release = () => { transformed.unpersist(); () }
    if (fitData.isEmpty) {
      val meanDelay = Option(transformed.agg(avg(col(FlightModel.TargetCol)))
        .first().get(0)).map(_.asInstanceOf[Number].doubleValue()).getOrElse(0.0)
      CachedRecipe(None, validation,
        validation.withColumn("prediction", lit(meanDelay)), None, release)
    } else {
      val model = FlightModel.decisionTree(seed = seed).fit(fitData)
      CachedRecipe(Some(train), validation, model.transform(validation),
        Some(model), release)
    }
  }

  /** The rows of `df` as a sorted list of their strings (vectors included). */
  private def rowSet(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `trainModel(data, …)` against [[cachedRecipe]]: the same train and
    * validation rows, the same tree and the same predictions. The recipe
    * runs after the current call is read and released, so neither reads
    * the other's cached rows. */
  private def assertSameAsCachedRecipe(data: DataFrame,
      trainRatio: Double = 0.9): FlightModel.TrainResult = {
    val pm = FlightPipeline().fit(data)
    val fit = Seq(col("features"), col(FlightModel.TargetCol))
    val result = FlightModel.trainModel(data, pm, trainRatio)
    val (train, validation, predictions) =
      try (result.train.map(t => rowSet(t.select(fit: _*))),
        rowSet(result.validation.get), rowSet(result.predictions.get))
      finally result.release()
    val recipe = cachedRecipe(data, pm, trainRatio)
    try {
      assert(train == recipe.train.map(t => rowSet(t.select(fit: _*))))
      assert(validation == rowSet(recipe.validation))
      assert(predictions == rowSet(recipe.predictions))
      // the tree's text without its header line, which names its uid
      def tree(m: Option[org.apache.spark.ml.regression.DecisionTreeRegressionModel]) =
        m.map(t => t.toDebugString.dropWhile(_ != '\n'))
      assert(tree(result.model) == tree(recipe.model))
      assert(result.model.map(_.featureImportances) ==
        recipe.model.map(_.featureImportances))
      result
    } finally recipe.release()
  }

  test("trainModel splits, fits and predicts exactly as the cached-transform recipe did") {
    val result = assertSameAsCachedRecipe(prepared)
    assert(result.model.isDefined && !result.validation.get.isEmpty)
    // the persisted train split is the tree's (features, ArrDelay) input
    assert(result.train.get.columns.toSeq == Seq("features", FlightModel.TargetCol))
  }

  test("trainModel fallbacks match the cached-transform recipe: < 50 rows, empty train split, nothing to fit") {
    val small = prepared.limit(40).cache()
    val unlabeled = prepared.withColumn(FlightModel.TargetCol,
      lit(null).cast("int")).cache()
    try {
      // < 50 rows: a 90/10 split of all of them, no 50% sample
      assert(small.count() == 40L)
      assert(assertSameAsCachedRecipe(small).model.isDefined)
      // a zero train ratio leaves the train split empty: train and
      // validate on the full data
      val full = assertSameAsCachedRecipe(small, trainRatio = 0.0)
      assert(full.model.isDefined && full.validation.get.count() == 40L)
      // no row has a label: the constant fallback, no tree
      val constant = assertSameAsCachedRecipe(unlabeled)
      assert(constant.model.isEmpty && constant.train.isEmpty)
      assert(constant.predictions.get.where(col("prediction") =!= 0.0).isEmpty)
    } finally { small.unpersist(); unlabeled.unpersist() }
  }

  test("model IO refuses a dir on a non-local filesystem, naming the scheme") {
    val pm = FlightPipeline().fit(prepared.limit(200))
    for ((dir, scheme) <- Seq("hdfs://namenode:8020/models/m" -> "hdfs",
        "s3a://bucket/models/m" -> "s3a")) {
      val save = intercept[IllegalArgumentException](
        FlightModel.saveModels(dir, pm, None))
      assert(save.getMessage.contains(s"'$scheme'"), save.getMessage)
      val load = intercept[IllegalArgumentException](
        FlightModel.loadModels(spark, dir))
      assert(load.getMessage.contains(s"'$scheme'"), load.getMessage)
    }
  }

  test("loading a dir without a saveModels artifact fails naming the dir") {
    val root = java.nio.file.Files.createTempDirectory("graft_not_a_model")
    try {
      // Spark's job-based writer keeps each metadata file in a directory
      val jobWritten = root.resolve("job_written").toString
      FlightPipeline().fit(prepared.limit(200)).write.save(s"$jobWritten/pipeline")
      for (dir <- Seq(root.toString, root.resolve("missing").toString, jobWritten)) {
        val e = intercept[IllegalArgumentException](FlightModel.loadModels(spark, dir))
        assert(e.getMessage.contains(dir), e.getMessage)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("evaluate: None without a non-null pair; MAE/RMSE over the non-null pairs") {
    def pairs(rows: (Option[Double], Option[Double])*) =
      rows.toDF("prediction", FlightModel.TargetCol)
    assert(FlightModel.evaluate(pairs()).isEmpty)
    assert(FlightModel.evaluate(
      pairs((Some(1.0), None), (None, Some(2.0)), (None, None))).isEmpty)
    // d = 3, -4, 0 over the three complete pairs; the null ArrDelay row
    // drops out: MAE = 7/3, RMSE = sqrt(25/3)
    val Some((mae, rmse)) = FlightModel.evaluate(pairs(
      (Some(10.0), Some(7.0)), (Some(0.0), Some(4.0)), (Some(5.0), Some(5.0)),
      (Some(3.0), None)))
    assert(math.abs(mae - 7.0 / 3.0) < 1e-12)
    assert(math.abs(rmse - math.sqrt(25.0 / 3.0)) < 1e-12)
  }

  test("label thresholds: >=10 delayed, <=-10 early, else on time") {
    val df = Seq(-15.0, -10.0, -9.9, 0.0, 9.9, 10.0, 42.0).toDF("prediction")
      .withColumn("ArrDelay", col("prediction").cast("int"))
    val labeled = FlightModel.addLabels(df).orderBy("prediction")
      .select("predicted_label").as[String].collect().toSeq
    assert(labeled == Seq("early", "early", "on time", "on time", "on time",
      "delayed", "delayed"))
  }
}
