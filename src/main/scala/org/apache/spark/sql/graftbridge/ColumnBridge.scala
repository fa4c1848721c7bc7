package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. In Spark 4 the converters live in
  * `private[sql]` scope (`org.apache.spark.sql.classic.ExpressionUtils`),
  * so extension libraries that define native Catalyst expressions need a
  * shim inside an `org.apache.spark.sql` subpackage — the standard pattern
  * for Spark-native extension projects. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` tagged non-nullable, type unchanged — the caller proves it
    * holds no nulls (a non-nullability proof without a typed sentinel). */
  def knownNotNull(c: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.KnownNotNull(expression(c)))

  /** Wrap a 1-row/1-column DataFrame as a scalar-subquery expression —
    * the shape expressions like `might_contain` require for their
    * "constant" operands when the value is itself computed by a plan
    * (Spark's own runtime-filter injection builds exactly this). */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Expression =
    org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.queryExecution.analyzed)

  /** Materialize a (resolved) logical plan as a DataFrame — for driving
    * hand-built or rule-rewritten plans in tests. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The optimizer rules a SparkSessionExtensions instance would inject —
    * lets tests assert the extensions wiring without constructing a whole
    * second SparkSession. */
  def optimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  /** The query's physical output as catalyst [[InternalRow]]s — the
    * zero-conversion twin of `df.rdd` (which deserializes EVERY row to
    * an external Row through the encoder). Rows follow the standard
    * SparkPlan contract: instances may be reused by the producing
    * iterator, so consumers that buffer must copy. */
  def internalRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** Wrap catalyst [[InternalRow]]s as a DataFrame without the external-
    * Row encoder pass `createDataFrame(RDD[Row], schema)` pays per row —
    * the inverse of [[internalRdd]]. The scan node applies its own
    * UnsafeProjection per row, so the input may reuse row instances. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
