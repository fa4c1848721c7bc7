package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types.LongType

/** The entry codec both grouped top-k aggregates share ([[TopKAgg]]'s
  * heap, [[RankTopKAgg]]'s threshold structure): how an input row
  * becomes an (ord, tie, payload) entry, how buffers merge, the entry
  * wire format, the payload unwrap and the descending (ord, tie) order.
  * Each aggregate keeps only its own buffer and its own `eval`. */
private[functions] object TopKEntries {

  /** A group's retained (ord, tie, payload) entries. Ord keys are
    * pre-embedded longs ([[TopKAgg.sortableKey]] for doubles; raw values
    * for long ords), so the structure itself is type-agnostic. */
  trait Buffer {
    def size: Int
    def ordAt(i: Int): Long
    def tieAt(i: Int): Long
    def rowAt(i: Int): UnsafeRow

    /** `row` must already be a defensive copy. */
    def insert(o: Long, t: Long, row: => UnsafeRow): Unit

    /** Drops entries that can no longer reach the answer (none by default). */
    def compact(): Unit = ()

    /** Indices of the retained entries in (ord, tie) DESCENDING order,
      * compacted first. Compared directly, NOT by negating the keys —
      * −Long.MinValue wraps to itself, which would rank a MinValue tie
      * (a null tie, or the bitwise-NOT of a MaxValue ascending tie) as
      * the LARGEST. */
    def sortedIndices: Array[Int] = {
      compact()
      (0 until size).toArray.sortWith((a, b) =>
        ordAt(a) > ordAt(b) || (ordAt(a) == ordAt(b) && tieAt(a) > tieAt(b)))
    }
  }
}

/** `update`/`merge`/`serialize`/`deserialize` for a top-k aggregate over
  * (ord, tie, payload) children. `nullAsLowest = false` skips null-ord
  * rows like SQL aggregates; `true` ranks them below every non-null value
  * (`ORDER BY ord DESC NULLS LAST`). */
private[functions] trait TopKEntries[B <: TopKEntries.Buffer]
    extends TypedImperativeAggregate[B] with TernaryLike[Expression] {
  def ord: Expression
  def tie: Expression
  def payload: Expression
  def nullAsLowest: Boolean

  override def first: Expression = ord
  override def second: Expression = tie
  override def third: Expression = payload
  override def nullable: Boolean = false

  // 1-field row wrapper so any payload type (struct or atomic) serializes
  // through UnsafeRow uniformly
  @transient private lazy val wrap = UnsafeProjection.create(Array(payload.dataType))

  // a LONG ord ranks by its own value (lossless above 2^53 — the double
  // embedding would collide there); everything else embeds via sortableKey
  @transient private lazy val ordIsLong = ord.dataType == LongType

  override def update(b: B, input: InternalRow): B = {
    val o = ord.eval(input)
    // long-ord mode keys on the RAW value, so the null sentinel
    // (Long.MinValue) is a real long — an ACTUAL null under nullAsLowest
    // would silently tie with real MinValue values. The rewrite rule
    // proves non-nullability before building this; a direct caller who
    // didn't gets a clear error at the first null, not a wrong ranking.
    // (A constructor require would false-positive: plan transformations
    // rebuild this expression with conservatively-nullable children.)
    if (o == null && nullAsLowest && ordIsLong)
      throw new IllegalStateException(
        s"$prettyName with a LONG ord and nullAsLowest met a NULL ord value — " +
          "the null sentinel is a real long; wrap the ord in coalesce")
    if (o != null || nullAsLowest) {
      val ov =
        if (o == null) TopKAgg.NullKey
        else if (ordIsLong) o.asInstanceOf[Number].longValue()
        else TopKAgg.sortableKey(o.asInstanceOf[Number].doubleValue())
      val t = tie.eval(input)
      val tl = if (t == null) Long.MinValue else t.asInstanceOf[Number].longValue()
      b.insert(ov, tl, wrap(InternalRow(payload.eval(input))).copy())
    }
    b
  }

  // a partial buffer retains every entry that could reach its
  // partition's answer; one dropped there is beaten within its partition,
  // hence globally — re-inserting the retained entries loses nothing
  override def merge(b: B, other: B): B = {
    var i = 0
    while (i < other.size) {
      b.insert(other.ordAt(i), other.tieAt(i), other.rowAt(i))
      i += 1
    }
    b
  }

  /** Wire format: entry count, then per entry ord, tie, payload-row
    * length and bytes. Everything else (k, dense) lives in the expression. */
  override def serialize(b: B): Array[Byte] = {
    b.compact()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.size)
    var i = 0
    while (i < b.size) {
      out.writeLong(b.ordAt(i)); out.writeLong(b.tieAt(i))
      val bytes = b.rowAt(i).getBytes
      out.writeInt(bytes.length); out.write(bytes)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  // re-inserting into a fresh buffer rebuilds the heap / threshold
  // structure exactly
  override def deserialize(bytes: Array[Byte]): B = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val o = in.readLong(); val t = in.readLong()
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(1)
      row.pointTo(rowBytes, len)
      b.insert(o, t, row)
      i += 1
    }
    b
  }

  /** Entry `i`'s payload, copied out of the buffer's wrapper row. */
  protected def payloadAt(b: B, i: Int): Any =
    b.rowAt(i).get(0, payload.dataType) match {
      case r: InternalRow => r.copy()
      case v => v
    }
}
