package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto frontier) — the points not dominated on a
  * (minimize x, minimize y) objective pair: q dominates p iff
  * q.x ≤ p.x ∧ q.y ≤ p.y with at least one strict. The classic
  * price/quality frontier query (Börzsönyi et al., ICDE 2001).
  *
  * A naive formulation is the quadratic NOT EXISTS self-join (that IS
  * the oracle, on gate-sized fixtures). The engine shape is the
  * distributed three-stage reduction, each stage shrinking the data:
  *
  *  1. per-x reduction: only (x, min y) can be on the frontier —
  *     one hash aggregate over the full input, the only full-data pass;
  *  2. per-bucket scan: candidates bucket by fixed-width x ranges;
  *     inside a bucket an ordered running-min window keeps rows
  *     strictly below every smaller-x candidate in the bucket —
  *     distributed by bucket, no global sort;
  *  3. cross-bucket filter: a bucket-count-sized (bucket, min y) table
  *     — broadcast-sized by construction — supplies the running
  *     cross-bucket minimum each survivor must strictly beat.
  *
  * Everything after stage 1 is candidate-sized; nothing is quadratic.
  * Comparisons are pure (no arithmetic on the values beyond the bucket
  * floor), so any ordered numeric columns reproduce bit-exact; pick a
  * `bucketWidth` exactly representable in binary if x is floating.
  */
object Skyline {

  def skyline2d(df: DataFrame, xCol: String, yCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be > 0, got $bucketWidth")
    Reserved.guard("skyline2d", df, "__b", "__rm", "__bm")
    val x = col(xCol)
    val y = col(yCol)
    // stage 1: per-x minimum — the single full-data aggregate
    val perX = df.where(x.isNotNull && y.isNotNull)
      .groupBy(x).agg(min(y).as(yCol))
      .withColumn("__b", floor(x / lit(bucketWidth)).cast("bigint"))
    // stage 2: within-bucket frontier — strict running-min scan
    val inBucket = Window.partitionBy(col("__b")).orderBy(x)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = perX
      .withColumn("__rm", min(y).over(inBucket))
      .where(col("__rm").isNull || y < col("__rm"))
    // stage 3: strictly beat every SMALLER bucket's minimum — the
    // bucket-min relation is #buckets rows, broadcast by the optimizer
    val bucketMins = perX.groupBy(col("__b")).agg(min(y).as("__bm"))
    val priorBuckets = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val priorMin = bucketMins
      .withColumn("__rm", min(col("__bm")).over(priorBuckets))
      .select(col("__b"), col("__rm"))
    local.drop("__rm")
      .join(broadcast(priorMin), Seq("__b"))
      .where(col("__rm").isNull || y < col("__rm"))
      .select(x, y)
  }

  /** The quadratic dominance oracle — exact by definition, gate-sized
    * fixtures only. */
  def oracleSql(relSql: String, xCol: String, yCol: String): String =
    s"""WITH pts AS (
       |  SELECT $xCol AS x, MIN($yCol) AS y FROM ($relSql)
       |  WHERE $xCol IS NOT NULL AND $yCol IS NOT NULL GROUP BY 1)
       |SELECT x AS $xCol, y AS $yCol FROM pts p
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM pts q
       |  WHERE q.x <= p.x AND q.y <= p.y AND (q.x < p.x OR q.y < p.y))
       |ORDER BY x""".stripMargin
}
