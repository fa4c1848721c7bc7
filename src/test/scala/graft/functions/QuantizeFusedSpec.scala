package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Quantization

/** QuantizeSymmetric — the fused codegen'd int8 quantizer must be
  * byte-identical to the HOF twin
  * `quantize(v, symmetricScale(v))` on every edge the twin defines. */
class QuantizeFusedSpec extends SparkSpec {
  import spark.implicits._

  private def hofCodes = Quantization.quantize(col("v"),
    Quantization.symmetricScale(col("v")))

  test("byte parity with the HOF twin on random float vectors") {
    val df = spark.range(0, 2000).map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(32)(((r.nextGaussian() * 3).toFloat)))
    }.toDF("id", "v").repartition(7)
    val mismatches = df.select(col("id"),
        Quantization.quantizeFused(col("v")).as("fused"), hofCodes.as("hof"))
      .filter(col("fused") =!= col("hof")).count()
    assert(mismatches == 0)
  }

  test("exact half boundary rounds HALF_UP like Spark's round") {
    // scale = 254/127 = 2.0 exactly; 1.0/2.0 = 0.5 → HALF_UP → 1;
    // -1.0/2.0 = -0.5 → HALF_UP (away from zero) → -1
    val out = Seq((1L, Seq(1.0f, -1.0f, 254.0f))).toDF("id", "v")
      .select(Quantization.quantizeFused(col("v")).as("q"),
        hofCodes.as("h")).head()
    assert(out.getSeq[Byte](0) == Seq[Byte](1, -1, 127))
    assert(out.getSeq[Byte](0) == out.getSeq[Byte](1))
  }

  test("zero vector quantizes to all-zero codes (both forms)") {
    val out = Seq((1L, Seq(0.0f, 0.0f))).toDF("id", "v")
      .select(Quantization.quantizeFused(col("v")).as("q"), hofCodes.as("h"))
      .head()
    assert(out.getSeq[Byte](0) == Seq[Byte](0, 0))
    assert(out.getSeq[Byte](1) == Seq[Byte](0, 0))
  }

  test("null elements: null codes when scale > 0, zero codes when scale == 0") {
    val pos = Seq((1L, Seq(Some(2.0f), None, Some(-4.0f)))).toDF("id", "v")
      .select(Quantization.quantizeFused(col("v")).as("q"), hofCodes.as("h"))
      .head()
    assert(pos.getSeq[Any](0) == Seq(64.toByte, null, (-127).toByte))
    assert(pos.getSeq[Any](0) == pos.getSeq[Any](1))
    val allNull = Seq((1L, Seq[Option[Float]](None, None))).toDF("id", "v")
      .select(Quantization.quantizeFused(col("v")).as("q"), hofCodes.as("h"))
      .head()
    assert(allNull.getSeq[Any](0) == Seq(0.toByte, 0.toByte))
    assert(allNull.getSeq[Any](0) == allNull.getSeq[Any](1))
  }

  test("null vector yields null; non-finite element throws the contract error") {
    val out = Seq((1L, Option.empty[Seq[Float]])).toDF("id", "v")
      .select(Quantization.quantizeFused(col("v"))).head()
    assert(out.isNullAt(0))
    val ex = intercept[Exception] {
      Seq((1L, Seq(Float.NaN, 1.0f))).toDF("id", "v")
        .select(Quantization.quantizeFused(col("v"))).head()
    }
    assert(ex.getMessage.contains("non-finite") ||
      ex.getCause != null && ex.getCause.getMessage.contains("non-finite"))
  }

  test("interpreted eval matches codegen") {
    // force the interpreted path through a fresh expression eval
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types._
    val arr = new GenericArrayData(Array[Any](2.0f, -4.0f, 1.0f))
    val expr = QuantizeSymmetric(BoundReference(0, ArrayType(FloatType), nullable = true))
    val res = expr.eval(InternalRow(arr))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(res.toSeq[Byte](ByteType) == Seq[Byte](64, -127, 32))
  }
}
