package graft.ml

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.feature.{OneHotEncoder, RobustScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructType}

import graft.SparkSpec
import graft.apps.ScoreApp
import graft.operators.{Features, Prepare}
import graft.sources.{FlightsGenerator, IO}

/** The five-stage [[FlightPipeline]] (multi-column StringIndexer and
  * OneHotEncoder) against the reference's per-column layout — one
  * StringIndexer + OneHotEncoder per categorical, 25 stages
  * (reference `src/main/helper_methods.py:252-278`): identical
  * `features` vectors and attribute names on the fit data and on a
  * scoring batch with unseen and null categoricals, artifacts of the old
  * layout still score through [[ScoreApp]], and the fit's job count. */
class FlightPipelineSpec extends SparkSpec {
  import FlightPipelineSpec._

  private lazy val prepared: DataFrame = {
    val f = FlightsGenerator.flights(spark, 4000, seed = 42L)
    val p = FlightsGenerator.planeData(spark)
    val df = Prepare.prepareData(f, p).cache()
    df.count()
    df
  }

  private lazy val fused: PipelineModel = FlightPipeline().fit(prepared)
  private lazy val perColumn: PipelineModel = perColumnLayout().fit(prepared)
  private lazy val tree = FlightModel.decisionTree().fit(
    fused.transform(prepared).select("features", FlightModel.TargetCol).na.drop())

  private def featureRows(pm: PipelineModel, df: DataFrame): Seq[Vector] =
    pm.transform(df).select("features").collect().map(_.getAs[Vector](0)).toSeq

  private def attributeNames(pm: PipelineModel, df: DataFrame): Seq[Option[String]] =
    AttributeGroup.fromStructField(pm.transform(df).schema("features"))
      .attributes.get.map(_.name).toSeq

  /** Fit rows with categoricals rotated through null and a value no fit
    * row has, so the indexers' `keep` bucket is hit in every column. */
  private lazy val unseenBatch: DataFrame = {
    val schema = StructType(prepared.schema.fields.map(_.copy(nullable = true)))
    val catIdx = Features.totalCategoricalFeatures.map(schema.fieldIndex)
    val rows = prepared.limit(400).collect().toSeq.zipWithIndex.map { case (r, i) =>
      val values = r.toSeq.toArray
      catIdx.zipWithIndex.foreach { case (ci, j) =>
        (i + j) % 5 match {
          case 0 => values(ci) = null
          case 1 => values(ci) = unseenValue(schema(ci).dataType)
          case _ =>
        }
      }
      Row.fromSeq(values.toSeq)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  test("five stages give the per-column layout's features vectors and attribute names") {
    assert(fused.stages.length == 5 && perColumn.stages.length == 25)
    val expect = featureRows(perColumn, prepared)
    val actual = featureRows(fused, prepared)
    assert(expect.size > 1000 && actual == expect)
    assert(attributeNames(fused, prepared) == attributeNames(perColumn, prepared))
  }

  test("unseen and null categoricals land in the same keep bucket in both layouts") {
    val unseen = Features.totalCategoricalFeatures.map { c =>
      unseenBatch.filter(col(c) === unseenValue(unseenBatch.schema(c).dataType)).count()
    }
    assert(unseen.forall(_ > 0), s"every categorical needs unseen rows: $unseen")
    val expect = featureRows(perColumn, unseenBatch)
    val actual = featureRows(fused, unseenBatch)
    assert(expect.nonEmpty && actual == expect)
    assert(attributeNames(fused, unseenBatch) == attributeNames(perColumn, unseenBatch))
  }

  test("feature importances name the same slots for the same tree") {
    val expect = FlightModel.featureImportances(tree, perColumn.transform(prepared))
    val actual = FlightModel.featureImportances(tree, fused.transform(prepared))
    assert(expect.nonEmpty && actual == expect)
    assert(actual.exists(_._1.contains("_ONEHOT")), s"no categorical slot named: $actual")
  }

  test("a per-column artifact still loads and scores like the five-stage one") {
    val dir = Files.createTempDirectory("graft_pipeline_compat").toString
    try {
      FlightModel.saveModels(s"$dir/old", perColumn, Some(tree))
      FlightModel.saveModels(s"$dir/new", fused, Some(tree))
      def stageDirs(m: String) =
        new java.io.File(s"$dir/$m/pipeline/stages").list().length
      assert(stageDirs("new") == 5 && stageDirs("old") == 25)

      val (oldPm, oldTree) = FlightModel.loadModels(spark, s"$dir/old")
      assert(oldPm.stages.length == 25 && oldTree.isDefined)

      val holdout = FlightsGenerator.flights(spark, 500, seed = 8L)
      IO.writeSingleCsv(holdout, s"$dir/hold_csv", s"$dir/holdout.csv")
      def scored(m: String): Seq[String] = {
        ScoreApp.run(spark, s"$dir/holdout.csv", s"$dir/$m", s"$dir/out_$m",
          planePath = None)
        IO.csvSafeColumns(spark.read.parquet(s"$dir/out_$m/scored.parquet"))
          .collect().map(_.mkString("|")).sorted.toSeq
      }
      val expect = scored("old")
      val actual = scored("new")
      assert(expect.nonEmpty && actual == expect)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("fit on the cached fixture runs at most 15 Spark jobs") {
    val data = prepared
    val jobs = countJobs(FlightPipeline().fit(data))
    assert(jobs > 0 && jobs <= 15, s"fit ran $jobs jobs")
  }

  /** Jobs started by `body` on this thread (and threads it spawns), read
    * after a marker job has passed through the listener bus behind them. */
  private def countJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"count-${System.nanoTime()}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`marker`) => markerJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      started.get()
    } finally sc.removeSparkListener(listener)
  }
}

object FlightPipelineSpec {

  /** The reference's layout: one StringIndexer and one OneHotEncoder per
    * categorical, then the same assembler/scaler/assembler tail. */
  def perColumnLayout(
      categoricalFeatures: Seq[String] = Features.totalCategoricalFeatures,
      numericFeatures: Seq[String] = Features.importantNumericFeatures): Pipeline = {
    val perCategorical = categoricalFeatures.flatMap { c =>
      Seq(
        new StringIndexer()
          .setInputCol(c).setOutputCol(s"${c}_index")
          .setHandleInvalid("keep"),
        new OneHotEncoder()
          .setInputCols(Array(s"${c}_index")).setOutputCols(Array(s"${c}_ONEHOT")))
    }
    val numericAssembler = new VectorAssembler()
      .setInputCols(numericFeatures.toArray)
      .setOutputCol("COMBINED_vec")
      .setHandleInvalid("skip")
    val scaler = new RobustScaler()
      .setInputCol("COMBINED_vec").setOutputCol("scaledFeatures")
      .setWithScaling(true).setWithCentering(false)
      .setLower(0.25).setUpper(0.75)
    val finalAssembler = new VectorAssembler()
      .setInputCols((categoricalFeatures.map(c => s"${c}_ONEHOT") :+ "scaledFeatures").toArray)
      .setOutputCol("features")
    new Pipeline().setStages(
      (perCategorical ++ Seq(numericAssembler, scaler, finalAssembler)).toArray)
  }

  /** A value of the column's type that no generated flight carries. */
  def unseenValue(dt: DataType): Any = dt match {
    case StringType => "__unseen__"
    case IntegerType => 987654
    case LongType => 987654L
    case DoubleType => 987654.0
    case other => throw new IllegalArgumentException(s"no unseen value for $other")
  }
}
