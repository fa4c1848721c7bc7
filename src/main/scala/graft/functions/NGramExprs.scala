package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused word n-gram emission — ONE pass over a token array producing
  * every (n, gram) occurrence for a battery of gram sizes, replacing the
  * `flatten(array(transform(sequence(…)) per n))` higher-order chain in
  * the Gopher repetition signals ([[graft.operators.Repetition]]).
  * Array HOFs are CodegenFallback: any projection containing one drops
  * to interpreted per-element expression dispatch (the round-8/9 defect
  * class — 15-30× on numeric paths, and the repetition gate had grown
  * past the HOF whitelist's own 3 s revisit threshold at sf0.1).
  *
  * Parity contract with the HOF twin (spec-gated in WordNGramsFusedSpec),
  * element for element, in the same order (n ascending as given, then
  * position ascending):
  *   - gram = the n tokens joined by a single space, null tokens
  *     SKIPPED (exactly `array_join(slice(toks, i, n), " ")`);
  *   - a token array shorter than n contributes nothing for that n;
  *   - a null token array is null.
  *
  * The loop lives in a static helper the generated code calls, so the
  * string assembly never inlines into the generated method body. */
object WordNGrams {
  private val sep = UTF8String.fromString(" ")

  def compute(arr: ArrayData, ns: Array[Int]): ArrayData = {
    val len = arr.numElements()
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i)
      i += 1
    }
    var total = 0
    var j = 0
    while (j < ns.length) {
      val n = ns(j)
      if (len >= n) total += len - n + 1
      j += 1
    }
    val out = new Array[Any](total)
    var pos = 0
    j = 0
    while (j < ns.length) {
      val n = ns(j)
      val window = new Array[UTF8String](n)
      var start = 0
      while (start + n <= len) {
        var w = 0
        while (w < n) { window(w) = toks(start + w); w += 1 }
        // concatWs skips nulls — array_join semantics
        val gram = UTF8String.concatWs(sep, window: _*)
        out(pos) = InternalRow(n, gram)
        pos += 1
        start += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  def column(tokens: Column, ns: Seq[Int]): Column =
    ColumnBridge.column(WordNGrams(ColumnBridge.expression(tokens), ns))
}

case class WordNGrams(child: Expression, ns: Seq[Int])
    extends UnaryExpression {
  require(ns.nonEmpty && ns.forall(_ >= 1), s"gram sizes must be >= 1, got $ns")

  override def prettyName: String = "word_ngrams"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("__n", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  @transient private lazy val nsArr: Array[Int] = ns.toArray

  override def nullSafeEval(input: Any): Any =
    WordNGrams.compute(input.asInstanceOf[ArrayData], nsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nsRef = ctx.addReferenceObj("ns", nsArr, "int[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordNGrams.compute($c, $nsRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused non-overlapping chunk SEGMENTS — `ceil(len/chunk)` strings of
  * `chunk` tokens joined by `sep` (the boilerplate-census segment
  * construction: one output element per segment, never per token),
  * replacing the `transform(sequence(0, ceil(n/c)−1), i ->
  * array_join(slice(…)))` HOF chain. Null tokens are skipped inside a
  * segment (array_join semantics); a null array is null; an EMPTY
  * token array yields an EMPTY segment array (the HOF form was only ever
  * planned behind a non-empty-text filter).
  *
  * Fixed-width LINES are `array_join(ChunkSegments.column(toks, n, " "),
  * "\n")`: an empty token array then gives "" — one empty line, exactly
  * the `array_join(transform(sequence(0, (size-1)/n), …), "\n")` twin
  * (spec-gated in WordNGramsFusedSpec, generated inputs included). */
object ChunkSegments {
  def compute(arr: ArrayData, chunk: Int, sep: UTF8String): ArrayData = {
    val len = arr.numElements()
    val nSegs = if (len == 0) 0 else (len - 1) / chunk + 1
    val out = new Array[Any](nSegs)
    var li = 0
    while (li < nSegs) {
      val start = li * chunk
      val end = math.min(start + chunk, len)
      val window = new Array[UTF8String](end - start)
      var w = 0
      while (start + w < end) {
        if (!arr.isNullAt(start + w)) window(w) = arr.getUTF8String(start + w)
        w += 1
      }
      out(li) = UTF8String.concatWs(sep, window: _*)
      li += 1
    }
    new GenericArrayData(out)
  }

  def column(tokens: Column, chunk: Int, sep: String): Column =
    ColumnBridge.column(ChunkSegments(ColumnBridge.expression(tokens),
      chunk, sep))
}

case class ChunkSegments(child: Expression, chunk: Int, sep: String)
    extends UnaryExpression {
  require(chunk >= 1, s"chunk size must be >= 1, got $chunk")

  override def prettyName: String = "chunk_segments"
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  @transient private lazy val sepU = UTF8String.fromString(sep)

  override def nullSafeEval(input: Any): Any =
    ChunkSegments.compute(input.asInstanceOf[ArrayData], chunk, sepU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sepU,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ChunkSegments.compute($c, $chunk, $sepRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
