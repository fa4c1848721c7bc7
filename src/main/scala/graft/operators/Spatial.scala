package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-bucketed radius (distance) join: all (left, right) point pairs
  * within `radius` in the plane — geo candidate matching, sensor
  * correlation, or any "points near points" linkage. The 2-D sibling of
  * [[RangeJoin.bandJoin]]'s quantize-and-explode rewrite.
  *
  * Scale shape: a raw `dist(l, r) <= radius` join has no equi-key, so
  * Spark plans BroadcastNestedLoopJoin — quadratic, the same
  * scale-killer bandJoin exists to avoid. This rewrite quantizes the
  * plane into radius-sized grid cells: the right side keys by its own
  * cell, the left side explodes to its 3×3 cell neighborhood (a map-side
  * Generate, fan-out 9 — a plan constant), and the join is a plain
  * equi-join on the cell key; the exact squared-distance predicate then
  * refines candidates. Any pair within `radius` differs by at most one
  * cell per axis, so the neighborhood join is lossless; candidates are
  * bounded by cell occupancy (data density × radius²), never by n².
  *
  * Cross-engine reproducibility: the refinement compares the IEEE
  * squared distance (fixed-order arithmetic on doubles) against
  * radius² — bit-identical in any engine; the reported distance rounds
  * the correctly-rounded sqrt to 6.
  */
object Spatial {

  /** All pairs within `radius`. Returns (`leftId`, `rightId`, `dist`),
    * boundary pairs (dist == radius) included; null coordinates drop.
    * `leftId`/`rightId` must differ from the coordinate column names. */
  def radiusJoin(left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      xCol: String, yCol: String, radius: Double): DataFrame = {
    require(radius > 0, s"radius must be positive, got $radius")
    require(leftId != rightId,
      "leftId and rightId must differ (both survive into the output)")
    val reserved = Seq("__xl", "__yl", "__xr", "__yr", "__cx", "__cy",
      "__dx", "__dy", "__gx", "__gy", "dist")
    Seq(left, right).foreach(Reserved.guard("radiusJoin", _, reserved: _*))
    val l = left
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(leftId), col(xCol).as("__xl"), col(yCol).as("__yl"))
      .withColumn("__cx", floor(col("__xl") / radius))
      .withColumn("__cy", floor(col("__yl") / radius))
      .withColumn("__dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col(leftId), col("__xl"), col("__yl"),
        (col("__cx") + col("__dx")).as("__gx"),
        (col("__cy") + col("__dy")).as("__gy"))
    val r = right
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(rightId), col(xCol).as("__xr"), col(yCol).as("__yr"))
      .withColumn("__gx", floor(col("__xr") / radius))
      .withColumn("__gy", floor(col("__yr") / radius))
    val d2 = (col("__xl") - col("__xr")) * (col("__xl") - col("__xr")) +
      (col("__yl") - col("__yr")) * (col("__yl") - col("__yr"))
    l.join(r, Seq("__gx", "__gy"))
      .where(d2 <= lit(radius * radius))
      .select(col(leftId), col(rightId), round(sqrt(d2), 6).as("dist"))
  }
}
