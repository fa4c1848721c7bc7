package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("mortonCode interleaves bits (reference loop parity)") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L)((acc, j) =>
        acc | (((x >> j) & 1L) << (2 * j)) | (((y >> j) & 1L) << (2 * j + 1)))
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (5L, 9L),
      (1023L, 0L), (0L, 1023L), (700L, 300L))
    val out = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.mortonCode(Seq(col("x"), col("y")), 10).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (x, y, z) => assert(z == ref(x, y, 10), s"($x,$y)") }
    // known small values: x occupies even bits, y odd
    assert(ref(1, 0, 10) == 1L && ref(0, 1, 10) == 2L && ref(3, 3, 10) == 15L)
  }

  test("quantize maps the range onto [0, 2^bits) with clamped edges") {
    val df = Seq(0.0, 2.5, 5.0, 10.0).toDF("v")
    val q = df.select(
      Layout.quantize(col("v"), lit(0.0), lit(10.0), 4).as("q")).as[Long]
      .collect()
    assert(q(0) == 0L && q(3) == 15L) // min -> 0, max clamps to 2^bits - 1
    assert(q(1) == 4L && q(2) == 8L)  // interior: equal-width bins
    // degenerate span (all values equal) -> bucket 0, no div-by-zero
    val const = Seq(7.0, 7.0).toDF("v")
      .select(Layout.quantize(col("v"), lit(7.0), lit(7.0), 4).as("q"))
      .as[Long].collect()
    assert(const.forall(_ == 0L))
  }

  test("Z-ordered files prune on the SECOND dimension; a linear sort does not") {
    // a deterministic 1000 x 100 grid: x and y vary INDEPENDENTLY (two
    // linear-in-id pseudo-random columns would be perfectly correlated —
    // a 1-D lattice where any sort looks clustered)
    val n = 100000L
    val df = spark.range(n).select(
      (col("id") % 1000).as("x"),
      ((col("id") / 1000).cast("long") * 10).as("y"))
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_layout_" + System.nanoTime()).getAbsolutePath
    Layout.writeZordered(df, s"$base/z", Seq("x", "y"), partitions = 16,
      bits = 10)
    IO.compact(df, s"$base/linear", Seq("x"), partitions = 16)

    def boxes(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    val zb = boxes(s"$base/z"); val lb = boxes(s"$base/linear")
    assert(zb.length == 16 && lb.length == 16)
    // a narrow y-slice predicate: which files COULD contain y <= 99?
    val zHit = zb.count { case (_, _, y0, _) => y0 <= 99 }
    val lHit = lb.count { case (_, _, y0, _) => y0 <= 99 }
    assert(lHit == 16, s"x-sorted layout should smear y across all files, hit $lHit")
    assert(zHit <= 8, s"z-order should skip at least half the files on y, hit $zHit")
    // and the data itself round-trips intact
    assert(spark.read.parquet(s"$base/z").count() == n)
    // x predicates keep pruning too: both layouts bound x per file
    val zxHit = zb.count { case (x0, _, _, _) => x0 <= 99 }
    assert(zxHit <= 8, s"z-order lost x locality, hit $zxHit")
  }

  test("writeZordered rejects an input that carries its reserved column") {
    val df = Seq((1L, 2L)).toDF("x", "__z")
    assertThrows[IllegalArgumentException] {
      Layout.writeZordered(df, "/tmp/never", Seq("x"), partitions = 2)
    }
  }

  // ─────────────── compaction planning ───────────────

  test("compactionPlan packs small files toward target and isolates oversized") {
    import org.apache.spark.sql.functions._
    // partition p: one 5000-byte monster + eight 900-byte smalls, target 2000
    val files = (Seq(("p", "big", 5000L)) ++
      (0 until 8).map(i => ("p", f"s$i%02d", 900L))).toDF("part", "path", "bytes")
    val plan = Layout.compactionPlan(files, "part", "path", "bytes", 2000L)
      .orderBy(col("bin"), col("path")).collect()
      .map(r => (r.getString(1), r.getLong(3), r.getBoolean(4)))
    // the oversized file is flagged and alone in its bin
    val byBin = plan.groupBy(_._2)
    val bigBin = plan.find(_._1 == "big").get._2
    assert(plan.find(_._1 == "big").get._3)
    assert(byBin(bigBin).length == 1)
    // every small-file bin totals < target + one small (2900)
    val sizes = Map(("big", 5000L)) ++ (0 until 8).map(i => (f"s$i%02d", 900L))
    byBin.foreach { case (bin, members) =>
      if (bin != bigBin) {
        val tot = members.map(m => sizes(m._1)).sum
        assert(tot <= 2900, s"bin $bin overfull: $tot")
        assert(members.forall(!_._3))
      }
    }
    // deterministic: all 9 files planned, bins dense from 0 per partition
    assert(plan.length == 9)
  }

  test("compactionPlan is per-partition: identical files in two partitions get identical bins") {
    val files = (for (p <- Seq("a", "b"); i <- 0 until 6)
      yield (p, f"f$i", 700L + i * 10)).toDF("part", "path", "bytes")
    val plan = Layout.compactionPlan(files, "part", "path", "bytes", 1500L)
      .select("part", "path", "bin").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val a = plan.filter(_._1 == "a").map(t => (t._2, t._3)).sortBy(_._1).toSeq
    val b = plan.filter(_._1 == "b").map(t => (t._2, t._3)).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("compactionPlan rejects reserved columns and non-positive targets") {
    val df = Seq(("p", "f", 1L, 0L)).toDF("part", "path", "bytes", "bin")
    assertThrows[IllegalArgumentException] {
      Layout.compactionPlan(df, "part", "path", "bytes", 100L)
    }
    assertThrows[IllegalArgumentException] {
      Layout.compactionPlan(df.drop("bin"), "part", "path", "bytes", 0L)
    }
  }
}
