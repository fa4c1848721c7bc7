package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Misra-Gries frequent-items: exactness below capacity, the error bound
  * under eviction, heavy-hitter retention, and cross-partition merge. */
class FreqSketchSpec extends SparkSpec {
  import spark.implicits._

  private def hits(df: org.apache.spark.sql.DataFrame, col0: String,
      capacity: Int, k: Int): Seq[(String, Long)] =
    df.agg(FreqItems.freqItems(col(col0), capacity, k).as("top"))
      .select(explode(col("top")).as("h"))
      .select(col("h.item"), col("h.est"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  test("exact counts when distinct <= capacity, across forced merges") {
    val rows = Seq.fill(40)("a") ++ Seq.fill(25)("b") ++ Seq.fill(10)("c") ++
      Seq.fill(5)("d")
    val df = scala.util.Random.shuffle(rows).toDF("x").repartition(8)
    assert(hits(df, "x", capacity = 16, k = 4) ==
      Seq(("a", 40L), ("b", 25L), ("c", 10L), ("d", 5L)))
  }

  test("ties order deterministically by item") {
    val df = (Seq.fill(3)("z") ++ Seq.fill(3)("m") ++ Seq.fill(3)("a"))
      .toDF("x").repartition(4)
    assert(hits(df, "x", capacity = 8, k = 3).map(_._1) == Seq("a", "m", "z"))
  }

  test("nulls are skipped like SQL aggregates") {
    val df = Seq(Some("a"), None, Some("a"), None, Some("b")).toDF("x")
    assert(hits(df, "x", capacity = 4, k = 2) == Seq(("a", 2L), ("b", 1L)))
  }

  test("heavy hitter survives eviction pressure within the MG error bound") {
    // 600 hot + 400 distinct singletons, capacity 8: eviction fires
    // constantly, yet freq(hot) = 0.6n > n/(capacity+1) guarantees survival
    // with true - n/(cap+1) <= est <= true
    val n = 1000
    val rows = Seq.fill(600)("hot") ++ (1 to 400).map(i => s"tail_$i")
    val df = scala.util.Random.shuffle(rows).toDF("x").repartition(4)
    val top = hits(df, "x", capacity = 8, k = 1)
    assert(top.head._1 == "hot")
    val est = top.head._2
    assert(est <= 600L, s"MG must never overcount, got $est")
    assert(est >= 600L - n / 9, s"est $est below the error bound")
  }

  test("grouped usage: one sketch per group") {
    val df = Seq(("g1", "x"), ("g1", "x"), ("g1", "y"), ("g2", "z"))
      .toDF("g", "v")
    val out = df.groupBy("g")
      .agg(FreqItems.freqItems(col("v"), 8, 1).as("top"))
      .select(col("g"), col("top")(0).getField("item").as("item"),
        col("top")(0).getField("est").as("est"))
      .orderBy("g")
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out == Seq(("g1", "x", 2L), ("g2", "z", 1L)))
  }
}
