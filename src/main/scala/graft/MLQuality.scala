package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-round model-quality artifact (`runMain graft.MLQuality [rows] [out]`):
  * runs the reference protocol — seeded 500k-flight corpus
  * ([[graft.sources.FlightsGenerator]]), clean + plane join, the
  * five-stage feature pipeline, depth-15/60-bin decision tree (reference
  * `src/main/main.py` lifecycle, hyperparameters from `Model.ipynb`) —
  * and writes `MLQUALITY.json` with MAE / RMSE / ±10-min label accuracy /
  * top feature importances, checked against the tolerances the reference
  * publishes (`README.md:94-95`: MAE 8.07, RMSE 12.87; the seeded
  * synthetic corpus is MORE learnable, so the published numbers are hard
  * upper bounds for a healthy pipeline — round-1 measured 6.84 / 8.83).
  *
  * `MLQualitySpec` gates the emitted artifact, so a training-path
  * regression surfaces as a tracked number AND a red test. */
object MLQuality {
  final val MaeBound = 8.07
  final val RmseBound = 12.87
  final val AccuracyFloor = 0.70
  // LR baseline bounds: the reference publishes ~8.6 / ~11.8
  // (README.md:90-91); + the same headroom discipline as the tree path
  // (published numbers are hard caps for a healthy pipeline on the more
  // learnable seeded corpus)
  final val LrMaeBound = 8.6
  final val LrRmseBound = 11.8
  // CV-tuned tree: a tuned DT must stay within the published tuned-DT
  // numbers (README.md:94-95) even though the grid search here runs on
  // a seeded 20% subsample of the train split (27 fits per round)
  final val CvMaeBound = 8.07
  final val CvRmseBound = 12.87

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(500000L)
    val out = args.lift(1).getOrElse("MLQUALITY.json")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      // activate the graft extensions (SQL function registration + the
      // TopKWindowRewrite optimizer rule): grouped top-k windows over
      // (score DESC [, tie]) become bounded-heap aggregates — k rows per
      // group per partition reach the exchange instead of every row
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // ObjectHashAggregate falls back to SORT-based aggregation past 128
      // in-memory keys per task — that re-sorts the full input and costs
      // 2.4x at the 10M recall-panel rung. The typed aggregates this
      // engine leans on (TopKAgg k-heaps, KMV k-sets) have BOUNDED
      // buffers, so thousands of keys per task are a few MB; raise the
      // threshold so the heap path stays hash-based
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // stages whose generated method exceeds the JVM's 8 KB JIT
      // bytecode cap must FALL BACK (non-WSCG) instead of running
      // interpreted forever; Spark's default guard (65536) sits far
      // above the real HotSpot limit (DontCompileHugeMethods)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val flights = graft.sources.FlightsGenerator.flights(spark, rows,
      seed = 42L, tailPool = 4000)
    val plane = graft.sources.FlightsGenerator.planeData(spark, tailPool = 4000)
    val prepared = graft.operators.Prepare.prepareData(
      graft.operators.Cleaning.dropForbidden(flights), plane).cache()
    val nPrepared = prepared.count()
    val t1 = System.nanoTime()

    val pm = graft.ml.FlightPipeline().fit(prepared)
    val result = graft.ml.FlightModel.trainModel(prepared, pm)
    val t2 = System.nanoTime()

    val preds = result.predictions.get
    val (mae, rmse) = graft.ml.FlightModel.evaluate(preds)
      .getOrElse(sys.error("no predictions to evaluate"))
    val labeled = graft.ml.FlightModel.addLabels(preds)
    val acc = labeled.filter(col("predicted_label") === col("actual_label"))
      .count().toDouble / labeled.count()
    val imps = result.model.map(m =>
      graft.ml.FlightModel.featureImportances(
        m, pm.transform(prepared.limit(1)))).getOrElse(Seq.empty)

    // round-7 ask #4: track the LR baseline and the CV-tuned grid
    // result per round, on the SAME split the tree used (both run
    // through the still-cached feature table — release() comes after)
    val train = result.train.getOrElse(sys.error("no train split"))
    val validation = result.validation.getOrElse(sys.error("no validation split"))
    val lrModel = graft.ml.FlightModel.linearBaseline(train)
    val (lrMae, lrRmse) = graft.ml.FlightModel.evaluate(
      lrModel.transform(validation))
      .getOrElse(sys.error("no LR predictions"))
    val t3a = System.nanoTime()

    // 27 tree fits: a seeded 20% subsample of train keeps the per-round
    // cost bounded while staying deterministic round-over-round
    val cv = graft.ml.FlightModel.crossValidate(train.sample(0.2, 42L))
    val best = cv.bestModel
      .asInstanceOf[org.apache.spark.ml.regression.DecisionTreeRegressionModel]
    val (cvMae, cvRmse) = graft.ml.FlightModel.evaluate(
      best.transform(validation))
      .getOrElse(sys.error("no CV predictions"))
    val cvBestAvgRmse = cv.avgMetrics.min
    result.release()
    val t3 = System.nanoTime()

    val pass = mae <= MaeBound && rmse <= RmseBound && acc >= AccuracyFloor &&
      lrMae <= LrMaeBound && lrRmse <= LrRmseBound &&
      cvMae <= CvMaeBound && cvRmse <= CvRmseBound
    def j(d: Double) = f"$d%.4f"
    val impJson = imps.take(5)
      .map { case (n, s) => s"""["$n", ${j(s)}]""" }.mkString(", ")
    val json =
      s"""{"rows": $rows, "prepared_rows": $nPrepared,
         | "mae": ${j(mae)}, "rmse": ${j(rmse)}, "label_accuracy": ${j(acc)},
         | "lr_mae": ${j(lrMae)}, "lr_rmse": ${j(lrRmse)},
         | "cv_mae": ${j(cvMae)}, "cv_rmse": ${j(cvRmse)},
         | "cv_best_maxDepth": ${best.getMaxDepth}, "cv_best_maxBins": ${best.getMaxBins},
         | "cv_best_avg_rmse": ${j(cvBestAvgRmse)},
         | "top_importances": [$impJson],
         | "bounds": {"mae": $MaeBound, "rmse": $RmseBound, "label_accuracy_floor": $AccuracyFloor,
         | "lr_mae": $LrMaeBound, "lr_rmse": $LrRmseBound,
         | "cv_mae": $CvMaeBound, "cv_rmse": $CvRmseBound},
         | "within_bounds": $pass,
         | "prep_sec": ${j((t1 - t0) / 1e9)}, "train_sec": ${j((t2 - t1) / 1e9)},
         | "eval_sec": ${j((t3a - t2) / 1e9)}, "lr_cv_sec": ${j((t3 - t3a) / 1e9)}}"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    println(s"[mlquality] wrote $out")
    println(json)
    spark.stop()
    if (!pass) sys.error(
      f"model quality regressed: DT $mae%.3f/$rmse%.3f (<= $MaeBound/$RmseBound), " +
        f"acc $acc%.3f (>= $AccuracyFloor), " +
        f"LR $lrMae%.3f/$lrRmse%.3f (<= $LrMaeBound/$LrRmseBound), " +
        f"CV $cvMae%.3f/$cvRmse%.3f (<= $CvMaeBound/$CvRmseBound)")
  }
}
