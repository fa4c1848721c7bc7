package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-Changing-Dimension Type 2 history construction: turn an
  * append-only change log into versioned validity intervals — one row
  * per (key, attribute-state run) carrying `valid_from` / `valid_to` /
  * `is_current` — the dimension-table time-travel layout every warehouse
  * keeps for "what did this customer's tier look like last March".
  * Complements [[MergeInto.applyChanges]]: MERGE keeps only the latest
  * state; SCD2 keeps the full history, queryable by version predicate.
  *
  * Scale shape: ONE key-partitioned window shuffle does everything —
  * run-collapse (drop a change row whose attributes equal the previous
  * row's: `lag` + null-safe struct compare, so re-stating an unchanged
  * record never opens a spurious version) and interval assembly (`lead`
  * of the surviving versions). No self-join, no per-version pass; the
  * shuffle carries the change log once. Keys partition independently, so
  * a 1000-executor run scales with key cardinality — the classic SCD2
  * MERGE-loop (one pass per batch) is linear in batches, this is one
  * pass total.
  *
  * `versionCol` must be unique per key (a change-log sequence / commit
  * id); `valid_to` is the NEXT run's version — an exclusive upper bound,
  * null for the open current run.
  */
object Scd {

  def scd2(changes: DataFrame, keyCols: Seq[String], versionCol: String,
      attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty,
      "scd2 needs at least one key column and one attribute column")
    Reserved.guard("scd2", changes, "__prev", "valid_from", "valid_to", "is_current")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(versionCol))
    val attrs = struct(attrCols.map(col): _*)
    changes
      .withColumn("__prev", lag(attrs, 1).over(w))
      // null-safe: the first row of a key (prev null) always starts a
      // run, and null-valued attributes compare as values, not unknowns
      .where(!(col("__prev") <=> attrs))
      .select((keyCols ++ attrCols).map(col) :+ col(versionCol): _*)
      .withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(versionCol)
  }
}
