package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-right range (band) joins.
  *
  * A naive `points JOIN ranges ON pt BETWEEN lo AND hi` has no equi-key,
  * so Catalyst plans BroadcastNestedLoopJoin — every point compared to
  * every range, quadratic at scale (the same trap the stream interval
  * join and as-of join avoid). The fix is the standard binning rewrite:
  * quantize the domain into fixed-width buckets, explode each range into
  * the buckets it overlaps, equi-join on the bucket, then refine with the
  * exact predicate. The join is hash/sort-merge on an integer key; each
  * range fans out to `(hi-lo)/bucketWidth + 1` rows, so pick a width
  * comparable to the typical range length (fan-out stays O(1) per range).
  */
object RangeJoin {

  /** Join `points` (value `ptCol`, integral or floating) to `ranges`
    * (`[loCol, hiCol]` inclusive) — returns all point-range pairings with
    * both sides' columns. `bucketWidth` quantizes the shared domain; it
    * must be positive and should approximate the typical range width.
    */
  def bandJoin(points: DataFrame, ptCol: String,
      ranges: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    // the internal bucket key must not collide with a caller column: a
    // pre-existing __b would be silently replaced by withColumn (or make
    // the using-join ambiguous) and corrupt the join
    Seq(points, ranges).foreach(Reserved.guard("bandJoin", _, "__b"))
    // The quantizer must be ONE monotone map applied to every value —
    // then lo <= pt <= hi guarantees bucket(pt) lands inside the exploded
    // [bucket(lo), bucket(hi)] integer interval. Integral columns use
    // true integer division (epoch-nanos longs exceed double's 2^53 exact
    // range; `/` would shift bucket boundaries); floating columns floor.
    // Both maps are monotone, but they disagree on negative values, so
    // mixed integral/floating inputs across the two sides are rejected.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def isIntegral(df: DataFrame, c: String): Boolean =
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    val kinds = Seq(isIntegral(points, ptCol), isIntegral(ranges, loCol),
      isIntegral(ranges, hiCol))
    require(kinds.distinct.size == 1,
      s"mixed integral/floating join columns quantize differently on " +
        s"negatives — cast one side first ($ptCol/$loCol/$hiCol)")
    def bucketOf(name: String): Column =
      if (kinds.head) expr(s"`$name` div ${bucketWidth}L")
      else floor(col(name) / lit(bucketWidth)).cast("bigint")
    val pts = points.withColumn("__b", bucketOf(ptCol))
    val rng = ranges.withColumn("__b",
      explode(sequence(bucketOf(loCol), bucketOf(hiCol))))
    pts.join(rng, "__b")
      .filter(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("__b")
  }
}
