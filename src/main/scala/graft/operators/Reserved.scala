package graft.operators

import org.apache.spark.sql.DataFrame

/** The one guard for the column names an operator adds to its input:
  * temporaries such as `__rn` and output columns such as `bucket`. An
  * input column of the same name would be silently replaced by
  * `withColumn` or make a join ambiguous, so the operator refuses the
  * input up front, once per call, on the driver. */
object Reserved {

  /** Fails with an `IllegalArgumentException` naming each of `names`
    * that `df` already holds. */
  def guard(op: String, df: DataFrame, names: String*): Unit = {
    val clash = df.columns.toSet.intersect(names.toSet)
    require(clash.isEmpty,
      s"$op reserves column name(s) ${clash.mkString(", ")} — rename them in the input")
  }
}
