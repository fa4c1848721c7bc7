package graft.operators

import org.apache.spark.sql.DataFrame

/** The reference's `prepare_data` chain (`/root/reference/src/main/
  * dataset_utils.py:138-147`), composed from the pure stages in
  * [[Cleaning]] and [[Features]]:
  *
  *   unique-id → clean → cyclical localtime ×3 → polar month/week →
  *   plane join → custom features → 18-column model projection.
  *
  * Everything stays one lazy Catalyst plan; the only materialization
  * boundary is the 1-row broadcast inside [[Features.cyclicalMonthWeek]].
  * Each [[Features]] stage parses an HHMM column once per row, so the
  * optimized plan holds one `timeAsInt` parse per column per stage that
  * survives the final projection (six), not one per derived value.
  */
object Prepare {

  def prepareData(flights: DataFrame, planeData: DataFrame): DataFrame = {
    val withId    = Cleaning.appendUniqueId(flights)
    val cleaned   = Cleaning.cleanData(withId)
    val localtime = Features.cyclicalLocaltimeAll(cleaned)
    val polar     = Features.cyclicalMonthWeek(localtime)
    val joined    = Cleaning.joinPlaneData(polar, Cleaning.preparePlaneData(planeData))
    val custom    = Features.addNewCustomFeatures(joined)
    Features.selectModelFeatures(custom)
  }
}
