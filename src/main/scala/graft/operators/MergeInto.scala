package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row-level MERGE — applying a CDC/upsert change batch to a keyed
  * snapshot, the `MERGE INTO` of lakehouse table formats expressed as
  * pure relational algebra over plain parquet. A 100 TB fact table is
  * maintained by periodic change batches (inserts, updates, deletes
  * keyed by primary key, ordered by a version/LSN column); the merge
  * produces the next snapshot without rewriting unaffected history.
  *
  * Scale shape: the change batch first collapses to its LATEST change
  * per key (a window over the batch — batch-sized, not snapshot-sized);
  * survivors of the snapshot are found with a LEFT ANTI join on the key
  * (a typical CDC batch is ≪ the snapshot, so AQE turns this into a
  * broadcast anti join — the snapshot never shuffles); upserts union in
  * by name. Nothing is driver-side; deletes cost the same anti join the
  * updates already pay.
  *
  * Determinism contract: within one batch, (key, version) must be
  * unique — the caller's CDC source provides the LSN. Ties would make
  * "latest" ambiguous; the window breaks them on the op column only to
  * keep the output stable, but the contract is the caller's.
  */
object MergeInto {

  /** Applies `changes` to `snapshot`: per key the highest-`versionCol`
    * change wins; a winning op of `"D"` deletes the key, anything else
    * upserts the change row (projected to the snapshot schema). Keys in
    * `changes` not present in `snapshot` are inserts. Returns the next
    * snapshot. */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
      keyCols: Seq[String], versionCol: String, opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "applyChanges needs key columns")
    val dataCols = snapshot.columns.toSeq
    val missing = (keyCols :+ versionCol :+ opCol).filterNot(changes.columns.contains) ++
      dataCols.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"changes is missing column(s): ${missing.mkString(", ")}")
    Reserved.guard("applyChanges", snapshot, "__rn")

    val latest = changes
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(versionCol).desc, col(opCol))))
      .filter(col("__rn") === 1)
    val upserts = latest.filter(col(opCol) =!= "D")
      .select(dataCols.map(col): _*)
    val deletedOrReplaced = latest.select(keyCols.map(col): _*)
    snapshot
      .join(deletedOrReplaced, keyCols, "left_anti")
      .unionByName(upserts)
  }
}
