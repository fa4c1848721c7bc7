package graft.functions

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** KLL quantile sketch through Spark's built-in `kll_*_double` functions:
  * exact-mode order-statistic semantics (the oracle contract), merge
  * invariance, bounded estimation-mode error, and flat serialized size —
  * the properties that make per-partition sketch storage + merge-anywhere
  * quantiles sound at corpus scale. */
class KllSketchSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  // duplicates on purpose: inclusive-rank ties must resolve identically
  private val xs: Seq[Double] = Seq.fill(500)((rnd.nextInt(200) - 100) / 7.0)

  /** ceil(p*n)-th order statistic, 1-based — the documented exact-mode
    * meaning of getQuantile(p, INCLUSIVE) and the oracle's formulation. */
  private def orderStat(data: Seq[Double], p: Double): Double = {
    val sorted = data.sorted
    sorted(math.ceil(p * sorted.length).toInt - 1)
  }

  private val sk = col("sk")
  /** The q_a_kll read: the built-in throws on an empty sketch, so the
    * quantile is guarded by n > 0 and an empty sketch reads null. */
  private def quantile(p: Double): Column =
    when(kll_sketch_get_n_double(sk) > 0, kll_sketch_get_quantile_double(sk, lit(p)))

  test("exact mode: quantiles are ceil(p*n) order statistics") {
    val df = xs.toDF("v").repartition(7)
    val probs = Seq(0.25, 0.5, 0.75, 1.0)
    val got = df.agg(kll_sketch_agg_double(col("v"), 1024).as("sk"))
      .select(probs.map(p => quantile(p).as(s"q$p")) :+
        kll_sketch_get_n_double(sk).as("n"): _*)
      .head()
    probs.zipWithIndex.foreach { case (p, i) =>
      assert(got.getDouble(i) == orderStat(xs, p),
        s"p=$p: ${got.getDouble(i)} != ${orderStat(xs, p)}")
    }
    assert(got.getLong(probs.length) == xs.length.toLong)
  }

  test("store/merge: merged group sketches equal the direct global sketch") {
    val df = xs.zipWithIndex.map { case (v, i) => (i % 5, v) }.toDF("g", "v")
    val merged = df.groupBy("g").agg(kll_sketch_agg_double(col("v"), 1024).as("sk"))
      .agg(kll_merge_agg_double(sk, 1024).as("sk"))
      .select(quantile(0.5).as("p50"), kll_sketch_get_n_double(sk).as("n"))
      .head()
    assert(merged.getDouble(0) == orderStat(xs, 0.5))
    assert(merged.getLong(1) == xs.length.toLong)
  }

  test("nulls are skipped; an empty sketch yields null quantiles") {
    val got = Seq[Option[Double]](Some(1.0), None, Some(3.0)).toDF("v")
      .agg(kll_sketch_agg_double(col("v"), 64).as("sk"))
      .select(quantile(0.5), kll_sketch_get_n_double(sk)).head()
    assert(got.getDouble(0) == 1.0 && got.getLong(1) == 2L)
    val empty = Seq.empty[Double].toDF("v")
      .agg(kll_sketch_agg_double(col("v"), 64).as("sk"))
      .select(quantile(0.5), kll_sketch_get_n_double(sk)).head()
    assert(empty.isNullAt(0))
    assert(empty.getLong(1) == 0L)
  }

  test("k outside [8, 65535] is refused at analysis") {
    val df = xs.toDF("v")
    Seq(4, 65536).foreach { k =>
      intercept[AnalysisException] {
        df.agg(kll_sketch_agg_double(col("v"), k)).queryExecution.assertAnalyzed()
      }
    }
    // the bounds themselves are accepted
    Seq(8, 65535).foreach { k =>
      df.agg(kll_sketch_agg_double(col("v"), k)).queryExecution.assertAnalyzed()
    }
  }

  test("estimation mode: bounded rank error and flat serialized size") {
    // 100k items through k=200 — far past exact mode. KLL's normalized
    // rank error at k=200 is ~1.65% (99% conf); assert a loose 5%.
    val n = 100000
    val big = (0 until n).map(_.toDouble)
    val df = big.toDF("v").repartition(13)
    val row = df.agg(kll_sketch_agg_double(col("v"), 200).as("sk"))
      .select(quantile(0.5).as("p50"),
        length(sk).as("bytes"), kll_sketch_get_n_double(sk).as("n"))
      .head()
    val estRank = (row.getDouble(0) + 1) / n // true rank of the estimate
    assert(math.abs(estRank - 0.5) <= 0.05, s"rank of estimate: $estRank")
    assert(row.getLong(2) == n.toLong) // n stays exact in estimation mode
    // serialized size is O(k log(n/k)), not O(n): a few KB for 100k items
    assert(row.getInt(1) < 10000, s"sketch bytes: ${row.getInt(1)}")
  }
}
