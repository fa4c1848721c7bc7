package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cohort retention analysis over an event log: bucket each entity by its
  * FIRST activity period (the cohort), then count how many of the cohort's
  * entities are active again `offset` periods later — the classic
  * triangular retention matrix behind "week-N retention" product metrics.
  *
  * Scale shape: the naive formulation is `groupBy(entity).agg(min)` plus a
  * join back onto the full event table plus a `countDistinct` (an Expand
  * that doubles the shuffled rows). This one is a single entity-keyed
  * shuffle: one aggregation computes each entity's cohort AND its distinct
  * active-period set together (`collect_set` partials dedup map-side, so
  * the exchange carries distinct (entity, period) pairs, not events), the
  * explode emits one row per (entity, offset) — already distinct by
  * construction — and the second, tiny shuffle sums plain counts by
  * (cohort, offset): no countDistinct Expand, no join back. Per-entity
  * state is the distinct-period set, bounded by the calendar (a 2-year log
  * has ≤ 105 weekly periods) — the same bounded-per-entity assumption
  * sessionization makes.
  *
  * The retention rate divides by the cohort's size — its offset-0 count,
  * since every entity's first period is in its own set — read back with a
  * cohort-partitioned window over the already-tiny matrix.
  *
  * `periodCol` must be an integral period index (e.g. epoch-week). Rows
  * with a null entity or period are dropped (they identify no cohort).
  */
object Cohort {

  /** Returns (`cohort`, `offset`, `users`, `rate`) sorted by cohort then
    * offset; `rate` = users / cohort size, rounded to 6. */
  def retention(events: DataFrame, entity: String, periodCol: Column): DataFrame = {
    val perEntity = events
      .select(col(entity).as("__e"), periodCol.cast("bigint").as("__p"))
      .where(col("__e").isNotNull && col("__p").isNotNull)
      .groupBy(col("__e"))
      .agg(min(col("__p")).as("cohort"), collect_set(col("__p")).as("__ps"))
    val matrix = perEntity
      .select(col("cohort"), explode(col("__ps")).as("__p"))
      .groupBy(col("cohort"), (col("__p") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("users"))
    val w = Window.partitionBy(col("cohort"))
    matrix
      .withColumn("rate", round(
        col("users") / max(when(col("offset") === 0, col("users"))).over(w), 6))
      .orderBy(col("cohort"), col("offset"))
  }

  /** Multi-touch conversion attribution — each conversion event credits
    * the user's FIRST preceding touch (brand discovery) and LAST
    * preceding touch (closing channel), the two standard single-touch
    * models. Conversions with no preceding touch (a user's first event
    * is the purchase) drop out — there is nothing to credit.
    *
    * Scale shape: one user-keyed ordered window (first/last ignoreNulls
    * over the strictly-preceding frame — running state, no self-join,
    * no per-conversion rescan), then a matrix-sized
    * (first_touch, last_touch) aggregate. The same shuffle budget as
    * sessionization.
    *
    * Returns (`first_touch`, `last_touch`, `n_conv`, `revenue`) with
    * revenue the DECIMAL-exact sum of the conversion values cast to
    * double. */
  def touchAttribution(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, valueCol: String,
      convType: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val touch = when(col(typeCol) =!= convType, col(typeCol))
    events
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .where(col(typeCol) === convType && col("last_touch").isNotNull)
      .groupBy(col("first_touch"), col("last_touch"))
      .agg(count(lit(1)).as("n_conv"),
        sum(round(col(valueCol), 6).cast("decimal(38,6)")).cast("double")
          .as("revenue"))
  }

  /** RFM segmentation (Hughes 1994): per entity, recency (latest
    * activity), frequency (row count), monetary (decimal-exact spend),
    * each scored 1..k by exact NTILE over the entity panel — higher
    * score = more recent / frequent / valuable. `segment` packs the
    * three scores as r·100 + f·10 + m (the "555 champions" convention).
    *
    * Scale shape: one entity-keyed aggregate reduces the data to the
    * entity panel; the three NTILEs run through
    * [[GlobalOrder.ntileAtScale]] — exact SQL NTILE semantics from
    * range-partitioned global positions, never a single-partition
    * window, so the scoring scales with the ENTITY count on the same
    * terms as any shuffle. Entity id breaks all ties.
    */
  def rfmScores(df: DataFrame, entityCol: String, tsCol: String,
      amountCol: String, k: Int = 5): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    Reserved.guard("rfmScores", df, "recency", "frequency", "monetary", "r", "f", "m", "segment")
    val base = df
      .where(col(entityCol).isNotNull && col(tsCol).isNotNull &&
        col(amountCol).isNotNull)
      .groupBy(col(entityCol))
      .agg(
        max(col(tsCol)).as("recency"),
        count(lit(1)).as("frequency"),
        sum(round(col(amountCol), 6).cast("decimal(38,6)")).cast("double")
          .as("monetary"))
    val withR = GlobalOrder.ntileAtScale(base, Seq("recency", entityCol), k, "r")
    val withF = GlobalOrder.ntileAtScale(withR, Seq("frequency", entityCol), k, "f")
    val withM = GlobalOrder.ntileAtScale(withF, Seq("monetary", entityCol), k, "m")
    withM.withColumn("segment",
      (col("r") * 100 + col("f") * 10 + col("m")).cast("int"))
  }

  /** Daily/rolling active users: per day, the exact distinct-entity
    * count (DAU) and the exact distinct count over the trailing
    * `window` days (WAU/MAU) — the product-analytics vital signs.
    *
    * Scale shape: one distinct (day, entity) reduction (map-side
    * dedup), then a bounded ×`window` MAP-SIDE expansion — each pair
    * votes for the `window` target days it covers — and one
    * day-keyed distinct count. NO range join and NO per-day rescan:
    * the classic scalable rolling-distinct formulation. Target days
    * with no native activity (pure trailing coverage) are excluded
    * via a semi-join against the active-day set.
    *
    * `dayCol` must be an integral day index. Output:
    * (day, dau, rolling_active). */
  def activeUsers(events: DataFrame, entityCol: String, dayCol: Column,
      window: Int = 7): DataFrame = {
    require(window >= 1 && window <= 370,
      s"need 1 <= window <= 370, got $window")
    val du = events
      .select(dayCol.cast("bigint").as("day"), col(entityCol).as("__e"))
      .where(col("day").isNotNull && col("__e").isNotNull)
      .distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val rolling = du
      .select(explode(sequence(col("day"),
        col("day") + lit(window - 1))).as("day"), col("__e"))
      .groupBy(col("day"))
      .agg(countDistinct(col("__e")).as("rolling_active"))
      .join(du.select(col("day")).distinct(), Seq("day"), "left_semi")
    dau.join(rolling, Seq("day"))
  }
}
