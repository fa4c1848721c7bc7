package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted join for skewed keys (build brief: "salting for skew"). A plain
  * shuffle join sends every row of a hot key to ONE reducer; at 100 TB a
  * single hot key stalls the stage. Salting splits each left key into
  * `salts` sub-keys and replicates the (small-per-key) right side across
  * them, so the hot key's rows spread over `salts` reducers.
  *
  * AQE's skew-join handling covers sort-merge joins adaptively; explicit
  * salting remains the tool when the right side must shuffle too (fact ⋈
  * mid-size dim) or when AQE is unavailable.
  */
object SkewJoin {

  /** Inner equi-join `left.key == right.key` with `salts`-way key salting.
    * The left salt is a deterministic spread (xxhash64 of the whole row);
    * the right side is replicated `salts` times via a generator — no
    * driver-side data movement.
    */
  def saltedInnerJoin(left: DataFrame, right: DataFrame, key: String,
      salts: Int): DataFrame = {
    require(salts > 0)
    val leftSalted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col): _*), lit(salts)).cast("int"))
    val rightReplicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    leftSalted
      .join(rightReplicated, Seq(key, "__salt"))
      .drop("__salt")
  }
}
