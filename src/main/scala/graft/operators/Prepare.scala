package graft.operators

import org.apache.spark.sql.DataFrame

/** The reference's `prepare_data` chain (`/root/reference/src/main/
  * dataset_utils.py:138-147`), composed from the pure stages in
  * [[Cleaning]] and [[Features]]:
  *
  *   unique-id → clean → cyclical localtime ×3 → plane join → custom
  *   features → 18-column model projection.
  *
  * The reference's polar month/week step sits between the localtime and
  * plane-join steps; it is left out here because the projection discards
  * every column it adds. Its 1-row global max is cross-joined back, and a
  * global aggregate returns one row for any input, empty included, so the
  * output rows are the same without it — it only cost a second scan and
  * dedup of the input (`FeaturesSpec` pins both). The step itself stays
  * as [[Features.cyclicalMonthWeek]].
  *
  * Everything is one lazy Catalyst plan over one scan of `flights`; the
  * plane table joins as a broadcast. Each [[Features]] stage parses an
  * HHMM column once per row, so the optimized plan holds one `timeAsInt`
  * parse per column per stage that survives the final projection (six),
  * not one per derived value.
  */
object Prepare {

  def prepareData(flights: DataFrame, planeData: DataFrame): DataFrame = {
    val withId    = Cleaning.appendUniqueId(flights)
    val cleaned   = Cleaning.cleanData(withId)
    val localtime = Features.cyclicalLocaltimeAll(cleaned)
    val joined    = Cleaning.joinPlaneData(localtime, Cleaning.preparePlaneData(planeData))
    val custom    = Features.addNewCustomFeatures(joined)
    Features.selectModelFeatures(custom)
  }
}
