package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leave-one-out target (mean) encoding: replace a high-cardinality
  * categorical with the mean label of ITS OTHER rows — the standard
  * trick for feeding 10⁶-value categoricals (domains, user ids, SKUs) to
  * a model without a 10⁶-wide one-hot, made leakage-safe by excluding
  * each row's own label from its own encoding (encoding with the plain
  * category mean leaks the label into the feature; LOO is the
  * fit-on-train contract per row).
  *
  * Scale shape: ONE grouped aggregate builds the per-category labeled
  * (count, decimal sum); it joins back by category (AQE broadcasts the
  * stats side — category cardinality ≪ rows) and the global fallback
  * rides as a 1-row broadcast scalar. The leave-one-out subtraction is
  * per-row arithmetic on the joined stats — no second pass, no
  * per-category shuffle of the data.
  *
  * Encoding rules (all divisions in DOUBLE over exact decimal sums,
  * rounded to 6 — engine-identical):
  *  - labeled row in a category with other labeled rows:
  *    `(sum − own) / (n − 1)`;
  *  - otherwise (sole labeled row, unlabeled row in an unlabeled or
  *    singleton category, unseen label): the GLOBAL labeled mean —
  *    unlabeled rows in a labeled category get the plain category mean
  *    `sum / n` (no own label to leak).
  * Null categories are a category like any other (all-null rows share
  * stats), mirroring the sampling operators' null-key posture.
  */
object TargetEncoding {

  def looEncode(df: DataFrame, catCol: String, labelCol: String,
      outCol: String = "encoded"): DataFrame = {
    val reserved = Seq("__cat", "__n", "__s", "__gn", "__gs")
    Reserved.guard("looEncode", df, reserved :+ outCol: _*)
    val stats = df
      .groupBy(col(catCol).as("__cat"))
      .agg(count(col(labelCol)).as("__n"),
        sum(col(labelCol).cast("decimal(38,6)")).cast("double").as("__s"))
    val global = df.agg(
      count(col(labelCol)).as("__gn"),
      sum(col(labelCol).cast("decimal(38,6)")).cast("double").as("__gs"))
    val labeled = col(labelCol).isNotNull
    val looN = col("__n") - when(labeled, 1L).otherwise(0L)
    val looS = col("__s") - when(labeled, col(labelCol)).otherwise(lit(0.0))
    // null-safe equi-join so null categories share stats like any other
    df.join(stats, col(catCol) <=> col("__cat"), "left")
      .crossJoin(broadcast(global))
      .withColumn(outCol, round(
        when(looN > 0, looS / looN)
          .otherwise(col("__gs") / col("__gn")), 6))
      .drop(reserved: _*)
  }
}
