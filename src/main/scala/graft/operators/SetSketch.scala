package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Kmv

/** Slice-cardinality ALGEBRA over KMV sketches ([[graft.functions.KmvAgg]]).
  *
  * `approx_count_distinct` answers |A| and HLL union answers |A∪B|, but
  * corpus slice analysis ("how many customers / urls / tokens do two
  * slices SHARE?") needs intersections — and no HLL variant estimates
  * one. KMV closes the algebra: union of sketches is EXACTLY the sketch
  * of the union, and shared-membership inside the union sketch estimates
  * Jaccard, hence |A∩B| (Beyer et al., SIGMOD'07).
  *
  * Everything here after the aggregate is a codegen'd array expression
  * over ≤k-element arrays — map-side, shuffle-free; the aggregate itself
  * carries ≤k longs per group per partition to the exchange.
  *
  * Determinism: sketches are pure functions of the distinct hash set
  * (no RNG), and [[hash60]] is the cross-engine md5-60bit hash
  * (fixed-width hex parses identically in Spark and DuckDB), so every
  * estimate is a deterministic double derivable by the SQL oracle.
  * Cross-engine bit-parity of the estimator: (k−1)·2^60 is exact in a
  * double for k ≤ 2^10, and the long→double cast of h (which DOES round
  * for h > 2^53 — 60-bit hashes are not exactly representable) is the
  * same IEEE round-to-nearest-even conversion in both engines, so the
  * subsequent * and / see identical operands. Parity rests on the
  * shared conversion rule, NOT on operand exactness — keep that in mind
  * before widening the hash or k.
  */
object SetSketch {

  /** md5-60bit hashes are uniform on [0, 2^60) — the `M` of the KMV
    * estimator `D ≈ (k−1)·M / h_(k)`. */
  val HashSpace: Double = 1152921504606846976.0 // 2^60, exact in double

  /** Cross-engine 60-bit content hash (lowercase-hex md5 prefix parsed
    * base-16; DuckDB twin: `('0x' || substr(md5(x),1,15))::BIGINT`).
    * Non-empty `salt` decorrelates independent uses over the same key. */
  def hash60(c: Column, salt: String = ""): Column = {
    val s = if (salt.isEmpty) c.cast("string")
      else concat_ws(":", lit(salt), c.cast("string"))
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")
  }

  /** Aggregate: the k smallest distinct values of `hash`, ascending. */
  def kmvSketch(hash: Column, k: Int): Column = Kmv.kmvSketch(hash, k)

  /** Distinct-count estimate from a sketch: exact (= size) below k,
    * `(k−1)·M / h_(k)` at capacity. */
  def estimateDistinct(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble * HashSpace) /
        element_at(sketch, k).cast("double"))

  /** Sketch of the UNION of the underlying sets — exact closure: the k
    * smallest of K(A) ∪ K(B) are the k smallest of A ∪ B. Map-side.
    * `sort_array`, not `array_sort`: the latter plans a comparator
    * lambda even without one; both order a null-free sketch alike. */
  def unionSketch(a: Column, b: Column, k: Int): Column =
    slice(sort_array(array_distinct(concat(a, b))), 1, k)

  /** Jaccard estimate: the fraction of the union sketch's values present
    * in BOTH input sketches (a value of K(A∪B) that lies in A is
    * necessarily inside K(A), so sketch membership == set membership
    * here). Empty union → 0.0 (both sets empty). */
  def jaccardEstimate(a: Column, b: Column, k: Int): Column = {
    val u = unionSketch(a, b, k)
    val shared = size(array_intersect(array_intersect(u, a), b))
    when(size(u) === 0, lit(0.0))
      .otherwise(shared.cast("double") / size(u).cast("double"))
  }

  /** |A∩B| estimate: Ĵ · D̂(A∪B). Exact when both sketches are below
    * capacity (Ĵ and D̂ are then both exact). */
  def intersectionEstimate(a: Column, b: Column, k: Int): Column =
    jaccardEstimate(a, b, k) * estimateDistinct(unionSketch(a, b, k), k)
}
