package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructField, StructType}

/** Grouped `rank() <= k` / `dense_rank() <= k` as a REAL aggregate.
  *
  * [[TopKAgg]] covers `row_number() <= k` — exactly k rows per group.
  * The rank idioms are NOT heap-equivalent: ties at the k-th boundary
  * mean the output can exceed k rows per group (`rank`), or k DISTINCT
  * key values can cover arbitrarily many rows (`dense_rank`). The
  * window formulation still shuffles and sorts every row of every
  * group; this aggregate keeps a bounded THRESHOLD structure plus the
  * candidate rows above it:
  *
  *  - rank semantics: `rank(r) <= k  ⟺  key(r) >= T` where `T` is the
  *    k-th largest key COUNTING duplicates (or every row qualifies
  *    when the group has fewer than k rows). `T` only rises as rows
  *    arrive, so a bounded top-k key multiset (TreeMap, ≤ k total
  *    count) tracks it exactly; rows below the current `T` are
  *    rejected with two long compares on the fast path (no
  *    allocation), rows at-or-above are retained and lazily compacted
  *    as `T` rises.
  *  - dense semantics: identical with `T` = k-th largest DISTINCT key
  *    (TreeSet of ≤ k keys).
  *
  * Buffer size is O(k + output rows of the group) — the retained set
  * IS (a superset within 2× of) the group's answer, which is the
  * minimum any exact ties-aware operator must hold. Partial (map-side)
  * aggregation applies: each input partition reduces to its own
  * candidate set before the exchange, so at most
  * `(k + ties) × partitions` rows per group shuffle, and no sort of
  * the full group happens anywhere.
  *
  * Output: `array<struct<p: payloadStruct, r: int>>` in (ord, tie)
  * DESCENDING order, `r` carrying the exact rank / dense_rank value —
  * the rewrite rule ([[graft.plans.TopKWindowRewrite]]) explodes it
  * and restores the rank attribute under its original exprId, so a
  * downstream reference to the rank column sees identical values.
  *
  * Ordering/equality contract: ord arrives as a pre-embedded long
  * ([[TopKAgg.sortableKey]] for doubles — equality-preserving: all
  * NaNs tie, −0.0 ties 0.0, exactly Spark's window peer semantics —
  * or the raw value for longs); tie as a long. Rank TIES are equality
  * on the full (ord, tie) pair, which is equality on the original
  * sort key because every embedding used by the rewrite is injective.
  */
object RankTopKAgg {

  /** Hard cap on the bytes one group's retained set may hold.
    *
    * `k` bounds the THRESHOLD structure, not the retained rows: boundary
    * ties are legitimately unbounded (`rank() <= 1` over a constant key
    * retains the whole group), and `dense_rank() <= k` admits every row
    * of the k largest key values. The retained set lives in ONE
    * in-memory buffer per group and serializes into a single byte array
    * (2 GB wire limit, no spill within a group) — so an eligible query
    * over a low-cardinality order key would silently change memory
    * class at scale. Fail LOUDLY at 256 MB instead: the error names the
    * assumption and the remediation, and 256 MB per group is already
    * far past where the window formulation (which spills) is the right
    * plan. The companion bound to [[TopKWindowRewrite.MaxK]]: MaxK
    * bounds k, this bounds ties-volume, which k cannot. */
  val MaxRetainedBytes: Long = 256L << 20

  /** Candidate buffer: top-k key threshold + retained rows. The cap
    * rides as a constructor param only so tests can exercise it without
    * materializing 256 MB; production buffers always get the default. */
  final class Buffer(val k: Int, val dense: Boolean,
      maxRetainedBytes: Long = RankTopKAgg.MaxRetainedBytes)
      extends TopKEntries.Buffer {

    /** Threshold key multiset — keys descending would be natural, but
      * TreeMap's firstKey (smallest) IS the threshold, so natural
      * ascending order serves. Value = multiplicity (always 1 in
      * dense mode). Bounded: Σ values ≤ k (rank) / size ≤ k (dense). */
    private val keys = new java.util.TreeMap[Array[Long], Int](
      new java.util.Comparator[Array[Long]] {
        override def compare(a: Array[Long], b: Array[Long]): Int = {
          val c = java.lang.Long.compare(a(0), b(0))
          if (c != 0) c else java.lang.Long.compare(a(1), b(1))
        }
      })
    private var keyTotal = 0 // Σ multiplicities (rank mode bound)

    // cached threshold for the allocation-free fast reject; valid only
    // once the structure holds k keys (before that, everything retains)
    private var tOrd = 0L
    private var tTie = 0L
    private var tValid = false

    val ords = new ArrayBuffer[Long]()
    val ties = new ArrayBuffer[Long]()
    val rows = new ArrayBuffer[UnsafeRow]()
    private var compactAt = math.max(2 * k, 64)
    private var retainedBytes = 0L

    def size: Int = rows.length
    def ordAt(i: Int): Long = ords(i)
    def tieAt(i: Int): Long = ties(i)
    def rowAt(i: Int): UnsafeRow = rows(i)

    private def belowT(o: Long, t: Long): Boolean =
      tValid && (o < tOrd || (o == tOrd && t < tTie))

    private def refreshT(): Unit = {
      val full = if (dense) keys.size() >= k else keyTotal >= k
      if (full) {
        val f = keys.firstKey()
        tOrd = f(0); tTie = f(1); tValid = true
      }
    }

    /** `row` must already be a defensive copy. */
    def insert(o: Long, t: Long, row: => UnsafeRow): Unit = {
      if (belowT(o, t)) return // can never rank <= k: T only rises
      val key = Array(o, t)
      if (dense) {
        if (!keys.containsKey(key)) {
          keys.put(key, 1)
          if (keys.size() > k) keys.pollFirstEntry()
          refreshT()
        }
      } else {
        keys.merge(key, 1, (a, b) => a + b)
        keyTotal += 1
        if (keyTotal > k) { // evict one unit of the smallest key
          val e = keys.firstEntry()
          if (e.getValue > 1) keys.put(e.getKey, e.getValue - 1)
          else keys.pollFirstEntry()
          keyTotal -= 1
        }
        refreshT()
      }
      // retention check AFTER the threshold update: the inserted key may
      // itself have pushed T past it (k-th duplicate of a higher key)
      if (belowT(o, t)) return
      val r = row
      ords += o; ties += t; rows += r
      retainedBytes += r.getSizeInBytes + 16L
      if (rows.length >= compactAt) {
        compact()
        compactAt = math.max(math.max(2 * rows.length, 2 * k), 64)
      }
      if (retainedBytes > maxRetainedBytes) {
        compact() // ties at-or-above T are never droppable; try anyway
        if (retainedBytes > maxRetainedBytes)
          throw new IllegalStateException(
            s"rank_top_k retained set exceeded ${maxRetainedBytes >> 20} MB " +
              s"for one group (${rows.length} rows at-or-above the k-th key) " +
              "— every retained row legitimately ranks <= k, so the order " +
              "key has pervasive ties (e.g. constant / low-cardinality). " +
              "The ties-aware top-k rewrite assumes bounded tie volume per " +
              "group; for this data shape use the window formulation (add " +
              "a high-cardinality tiebreaker to the ORDER BY, or filter on " +
              "row_number() instead of rank()/dense_rank()).")
      }
    }

    /** Drop retained rows that fell below the (risen) threshold. */
    override def compact(): Unit = {
      if (!tValid) return
      var w = 0
      var i = 0
      val n = rows.length
      var bytes = 0L
      while (i < n) {
        if (!belowT(ords(i), ties(i))) {
          if (w != i) { ords(w) = ords(i); ties(w) = ties(i); rows(w) = rows(i) }
          bytes += rows(w).getSizeInBytes + 16L
          w += 1
        }
        i += 1
      }
      ords.dropRightInPlace(n - w); ties.dropRightInPlace(n - w)
      rows.dropRightInPlace(n - w)
      retainedBytes = bytes
    }
  }
}

/** `rank_top_k(ord, tie, payload, k, dense)` → array<struct<p, r>> of
  * every row whose rank (dense_rank when `dense`) by (ord, tie)
  * descending is <= k, with `r` = that rank. See [[RankTopKAgg$]]. */
case class RankTopKAgg(
    ord: Expression, tie: Expression, payload: Expression, k: Int,
    dense: Boolean, nullAsLowest: Boolean = false,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TopKEntries[RankTopKAgg.Buffer] {

  require(k > 0, s"k must be positive, got $k")

  override def prettyName: String = if (dense) "dense_rank_top_k" else "rank_top_k"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p", payload.dataType, nullable = false),
    StructField("r", IntegerType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): RankTopKAgg.Buffer =
    new RankTopKAgg.Buffer(k, dense)

  override def eval(b: RankTopKAgg.Buffer): Any = {
    val idx = b.sortedIndices
    val out = new Array[Any](idx.length)
    var i = 0
    var rank = 0
    var denseRank = 0
    var prevOrd = 0L
    var prevTie = 0L
    while (i < idx.length) {
      val j = idx(i)
      val isTie = i > 0 && b.ords(j) == prevOrd && b.ties(j) == prevTie
      if (!isTie) { rank = i + 1; denseRank += 1 }
      prevOrd = b.ords(j); prevTie = b.ties(j)
      val r = if (dense) denseRank else rank
      out(i) = InternalRow(payloadAt(b, j), r)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): RankTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RankTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RankTopKAgg =
    copy(ord = f, tie = s, payload = t)
}
