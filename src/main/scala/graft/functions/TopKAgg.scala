package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Grouped top-k as a REAL aggregate, not a window.
  *
  * The standard formulation — `row_number() over (partition by g order by
  * ord desc) <= k` — shuffles EVERY row to its group's partition and sorts
  * entire groups, just to discard all but k rows. At 100 TB with heavy-hit
  * groups that is the dominant shuffle of the whole job. This aggregate
  * keeps a bounded k-element min-heap per group: partial aggregation
  * tops-k within each input partition first, so at most
  * `k × partitions` rows per group ever reach the exchange, and no sort
  * of the full group happens anywhere.
  *
  * Ordering is (ord, tie) lexicographic descending — callers pass a
  * unique tiebreaker (an id) so results are deterministic and
  * oracle-reproducible. Null `ord` rows are ignored, like SQL aggregates.
  */
object TopKAgg {

  /** Order key for nulls when `nullAsLowest` — STRICTLY below every
    * real double's sortable key (the smallest real key is −Inf's
    * 0x800FFF…), so `ORDER BY ord DESC NULLS LAST` is exact even when
    * the data contains −Inf. For LONG ord mode Long.MinValue collides
    * with a real Long.MinValue value — callers must guarantee a
    * non-null long ord (the rewrite rule requires non-nullability). */
  val NullKey: Long = Long.MinValue

  /** Total-order-preserving long embedding of a double: signed long
    * comparison of the keys matches Spark SQL's double ordering
    * (NaN greatest, all NaNs equal — doubleToLongBits canonicalizes;
    * −0.0 normalized to 0.0 first, as Spark's NormalizeFloatingNumbers
    * does for sort keys). This is what lets ONE long-keyed heap serve
    * both double and long primaries losslessly. */
  def sortableKey(d: Double): Long = {
    val n = if (d == 0.0) 0.0 else d // -0.0 sorts equal to 0.0
    val b = java.lang.Double.doubleToLongBits(n)
    b ^ ((b >> 63) & Long.MaxValue)
  }

  /** Bounded min-heap of (ord, tie, payload) keeping the k LARGEST
    * entries by (ord, tie). Root = current minimum = eviction candidate.
    * Ord keys are pre-embedded longs ([[sortableKey]] for doubles; raw
    * values for long ords), so the heap itself is type-agnostic and a
    * long primary never rounds through a double (exact above 2^53). */
  final class Buffer(val k: Int) extends TopKEntries.Buffer {
    val ords = new Array[Long](k)
    val ties = new Array[Long](k)
    val rows = new Array[UnsafeRow](k)
    var size = 0

    def ordAt(i: Int): Long = ords(i)
    def tieAt(i: Int): Long = ties(i)
    def rowAt(i: Int): UnsafeRow = rows(i)

    private def less(o1: Long, t1: Long, o2: Long, t2: Long): Boolean =
      o1 < o2 || (o1 == o2 && t1 < t2)

    private def swap(a: Int, b: Int): Unit = {
      val o = ords(a); ords(a) = ords(b); ords(b) = o
      val t = ties(a); ties(a) = ties(b); ties(b) = t
      val r = rows(a); rows(a) = rows(b); rows(b) = r
    }

    private def siftUp(start: Int): Unit = {
      var i = start
      while (i > 0 && less(ords(i), ties(i), ords((i - 1) / 2), ties((i - 1) / 2))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    }

    private def siftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var m = i
        if (l < size && less(ords(l), ties(l), ords(m), ties(m))) m = l
        if (r < size && less(ords(r), ties(r), ords(m), ties(m))) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }

    /** `row` must already be a defensive copy. */
    def insert(o: Long, t: Long, row: => UnsafeRow): Unit =
      if (size < k) {
        ords(size) = o; ties(size) = t; rows(size) = row
        size += 1; siftUp(size - 1)
      } else if (less(ords(0), ties(0), o, t)) {
        ords(0) = o; ties(0) = t; rows(0) = row
        siftDown()
      }
  }
}

/** `top_k(ord, tie, payload, k)` → array<payload-type> of the k largest
  * rows by (ord, tie) descending. Explode the result for row-per-hit
  * output (see `graft.operators.Profiling.topKPerGroup`).
  *
  * `nullAsLowest = false` (the default) skips null-ord rows like SQL
  * aggregates; `true` ranks them below every non-null value — the exact
  * semantics of `ORDER BY ord DESC NULLS LAST`, which the window-rewrite
  * rule ([[graft.plans.TopKWindowRewrite]]) needs to be row-for-row
  * equivalent when groups have fewer than k non-null rows. */
case class TopKAgg(
    ord: Expression, tie: Expression, payload: Expression, k: Int,
    nullAsLowest: Boolean = false,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TopKEntries[TopKAgg.Buffer] {

  require(k > 0, s"k must be positive, got $k")

  override def prettyName: String = "top_k"
  override def dataType: DataType = ArrayType(payload.dataType, containsNull = false)

  override def createAggregationBuffer(): TopKAgg.Buffer = new TopKAgg.Buffer(k)

  override def eval(b: TopKAgg.Buffer): Any =
    new GenericArrayData(b.sortedIndices.map(payloadAt(b, _)))

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): TopKAgg =
    copy(ord = f, tie = s, payload = t)
}

object TopK {
  /** Column builder: array of the k largest payloads by (ord, tie) desc.
    * `ord` is cast to double, `tie` to long (pass a unique id for
    * deterministic results). */
  def topK(ord: Column, tie: Column, payload: Column, k: Int): Column =
    ColumnBridge.column(TopKAgg(
      ColumnBridge.expression(ord.cast("double")),
      ColumnBridge.expression(tie.cast("long")),
      ColumnBridge.expression(payload), k).toAggregateExpression())
}
