package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{OneHotEncoder, RobustScaler, StringIndexer, VectorAssembler}

import graft.operators.Features

/** M1-M6: the reference's feature pipeline
  * (`src/main/helper_methods.py:252-278` in the reference), parameter-exact,
  * as five stages:
  *
  *  - one multi-column StringIndexer(handleInvalid=keep, frequencyDesc)
  *    over every categorical → `<c>_index`
  *  - one multi-column OneHotEncoder → `<c>_ONEHOT`
  *  - VectorAssembler(numeric, handleInvalid=skip) → `COMBINED_vec`
  *  - RobustScaler(withScaling=true, withCentering=false, 0.25/0.75)
  *    → `scaledFeatures`
  *  - VectorAssembler(ONEHOTs :+ scaledFeatures) → `features`
  *
  * The reference builds one indexer and one encoder per categorical (25
  * stages). A multi-column StringIndexer runs the same per-column
  * frequency count and label ordering as a single-column one, so labels,
  * output columns and `features` vectors are identical
  * (`FlightPipelineSpec`); the fused stages fit all label sets in one
  * aggregate job and save/load 5 stage directories instead of 25.
  * All stages are Spark-ML built-ins; fit/transform run as distributed
  * Catalyst jobs.
  */
object FlightPipeline {

  def apply(
      categoricalFeatures: Seq[String] = Features.totalCategoricalFeatures,
      numericFeatures: Seq[String] = Features.importantNumericFeatures): Pipeline = {

    val indexCols = categoricalFeatures.map(c => s"${c}_index").toArray
    val oneHotCols = categoricalFeatures.map(c => s"${c}_ONEHOT").toArray

    val indexer = new StringIndexer()
      .setInputCols(categoricalFeatures.toArray).setOutputCols(indexCols)
      .setHandleInvalid("keep")

    val encoder = new OneHotEncoder()
      .setInputCols(indexCols).setOutputCols(oneHotCols)

    val numericAssembler = new VectorAssembler()
      .setInputCols(numericFeatures.toArray)
      .setOutputCol("COMBINED_vec")
      .setHandleInvalid("skip")

    val scaler = new RobustScaler()
      .setInputCol("COMBINED_vec").setOutputCol("scaledFeatures")
      .setWithScaling(true).setWithCentering(false)
      .setLower(0.25).setUpper(0.75)

    val finalAssembler = new VectorAssembler()
      .setInputCols(oneHotCols :+ "scaledFeatures")
      .setOutputCol("features")

    new Pipeline().setStages(
      Array(indexer, encoder, numericAssembler, scaler, finalAssembler))
  }
}
