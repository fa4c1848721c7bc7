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
    val dir = java.nio.file.Files.createTempDirectory("graft_model_rt").toString
    try {
      FlightModel.saveModels(dir, pipelineModel, result.model)
      val (loadedPm, loadedTree) = FlightModel.loadModels(spark, dir)
      assert(loadedTree.isDefined)
      // score the same fixture batch through both artifacts: predictions
      // must be bit-identical (same tree, same pipeline transforms)
      val batch = prepared.limit(200)
      val expect = result.model.get.transform(pipelineModel.transform(batch))
        .select("prediction").as[Double].collect().toSeq
      val actual = loadedTree.get.transform(loadedPm.transform(batch))
        .select("prediction").as[Double].collect().toSeq
      assert(expect.nonEmpty && actual == expect)
      // depth/bins survive the round-trip too
      assert(loadedTree.get.getMaxDepth == result.model.get.getMaxDepth)
    } finally {
      result.release()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
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
