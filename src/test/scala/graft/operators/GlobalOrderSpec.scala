package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Distributed global index / ntile: exact SQL NTILE semantics without
  * a single-partition window, layout independence. */
class GlobalOrderSpec extends SparkSpec {
  import spark.implicits._

  test("global index is the exact sort position, any layout") {
    val df = (1L to 97L).map(i => ((i * 53) % 101, i)).toDF("v", "id")
    def run(parts: Int) =
      GlobalOrder.withGlobalIndex(df.repartition(parts), Seq("v", "id"))
        .select("id", "gidx").as[(Long, Long)].collect().toMap
    val expect = (1L to 97L).sortBy(i => ((i * 53) % 101, i))
      .zipWithIndex.map { case (id, g) => id -> g.toLong }.toMap
    assert(run(1) == expect)
    assert(run(13) == expect)
  }

  test("ntileAtScale equals the window NTILE for every k incl. remainders") {
    val df = (1L to 23L).map(i => ((i * 7) % 29, i)).toDF("v", "id")
    for (k <- Seq(1, 2, 4, 5, 23, 40)) {
      val got = GlobalOrder.ntileAtScale(df, Seq("v", "id"), k, "nt")
        .select("id", "nt").as[(Long, Int)].collect().toMap
      val expect = df.select(col("id"),
          ntile(k).over(Window.orderBy(col("v"), col("id"))).as("nt"))
        .as[(Long, Int)].collect().toMap
      assert(got == expect, s"k=$k")
    }
  }

  test("prefix sum is the exact exclusive weighted running total, any layout") {
    val df = (1L to 50L).map(i => ((i * 37) % 61, i, i % 5 + 1)).toDF("v", "id", "w")
    def run(parts: Int) =
      GlobalOrder.withPrefixSum(df.repartition(parts), Seq("v", "id"), "w", "ps")
        .select("id", "ps").as[(Long, Long)].collect().toMap
    val sorted = (1L to 50L).map(i => ((i * 37) % 61, i, i % 5 + 1))
      .sortBy(t => (t._1, t._2))
    val expect = sorted.scanLeft(0L)(_ + _._3).zip(sorted)
      .map { case (pre, t) => t._2 -> pre }.toMap
    assert(run(1) == expect)
    assert(run(7) == expect)
  }

  test("prefix sum fails fast on a null weight instead of counting it as 0") {
    val df = Seq((1L, 1L, Some(2L)), (2L, 2L, None), (3L, 3L, Some(4L)))
      .toDF("v", "id", "w")
    val e = intercept[Exception](
      GlobalOrder.withPrefixSum(df, Seq("v", "id"), "w", "ps").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("weight column `w` holds a null")),
      msgs.mkString("\n"))
  }

  test("abcClassification: inclusive cumulative-share cuts, exact cents") {
    // revenues 50, 30, 15, 5 → shares 0.5, 0.8, 0.95, 1.0 → A A B C
    val df = Seq(("p1", 50.0), ("p2", 30.0), ("p3", 15.0), ("p4", 5.0))
      .toDF("k", "v")
    val got = GlobalOrder.abcClassification(df, "k", "v")
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(got.toSeq == Seq(
      ("p1", 5000L, 0.5, "A"), ("p2", 3000L, 0.8, "A"),
      ("p3", 1500L, 0.95, "B"), ("p4", 500L, 1.0, "C")))
  }

  test("exactCdf: counts, cumulative counts, and shares per distinct value") {
    val df = Seq(3.0, 1.0, 2.0, 1.0, 3.0, 3.0, 1.0, 1.0).toDF("v")
    val out = GlobalOrder.exactCdf(df, "v").orderBy("v").collect()
    assert(out.map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq == Seq(
        (1.0, 4L, 4L, 0.5), (2.0, 1L, 5L, 0.625), (3.0, 3L, 8L, 1.0)))
  }

  test("rfmScores: monotone metrics land monotone scores; ties break by id") {
    // customer i: i orders of 10.0 each on day i → all three metrics
    // increase with i, so r = f = m and segments are perfect nnn
    val orders = (1 to 10).flatMap(c => (1 to c).map(_ =>
      (c.toLong, c.toLong * 1000L, 10.0))).toDF("cust", "ts", "amt")
    val out = Cohort.rfmScores(orders, "cust", "ts", "amt")
      .orderBy("cust").collect()
    val segs = out.map(r => r.getAs[Long]("cust") -> r.getAs[Int]("segment"))
    assert(segs.map(_._2).toSeq == Seq(111, 111, 222, 222, 333, 333, 444, 444, 555, 555))
  }
}
