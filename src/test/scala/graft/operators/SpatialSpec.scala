package graft.operators

import graft.SparkSpec

/** Grid-bucketed radius join semantics ([[Spatial.radiusJoin]]). */
class SpatialSpec extends SparkSpec {
  import spark.implicits._

  private def pts(rows: (Long, Double, Double)*)(id: String) =
    rows.toDF(id, "x", "y")

  test("equivalent to the naive cross-join filter, negatives included") {
    // deterministic scatter across positive AND negative coordinates —
    // floor-division cells must agree on negatives
    val left = (1L to 80L).map(i => (i, (i * 37 % 101) - 50.0, (i * 53 % 97) - 48.0))
    val right = (1L to 90L).map(i => (i + 1000, (i * 41 % 103) - 51.0, (i * 59 % 89) - 44.0))
    val l = pts(left: _*)("lid")
    val r = pts(right: _*)("rid")
    val got = Spatial.radiusJoin(l, r, "lid", "rid", "x", "y", 7.5)
      .as[(Long, Long, Double)].collect().toSet
    val naive = for {
      (li, lx, ly) <- left
      (ri, rx, ry) <- right
      d2 = (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)
      if d2 <= 7.5 * 7.5
    } yield (li, ri, math.round(math.sqrt(d2) * 1e6) / 1e6)
    assert(got == naive.toSet)
    assert(got.nonEmpty)
  }

  test("boundary pairs at exactly radius are kept; nulls drop") {
    val l = Seq((1L, Some(0.0), Some(0.0)), (2L, None, Some(1.0)))
      .toDF("lid", "x", "y")
    val r = Seq((10L, Some(3.0), Some(4.0)), (11L, Some(3.0), Some(4.1)))
      .toDF("rid", "x", "y")
    val got = Spatial.radiusJoin(l, r, "lid", "rid", "x", "y", 5.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 10L, 5.0))) // 3-4-5 triangle, dist == radius
  }

  test("reserved names and bad arguments are rejected") {
    val bad = Seq((1L, 0.0, 0.0, 9.9)).toDF("lid", "x", "y", "dist")
    val ok = pts((1L, 0.0, 0.0))("rid")
    assert(intercept[IllegalArgumentException] {
      Spatial.radiusJoin(bad, ok, "lid", "rid", "x", "y", 1.0)
    }.getMessage.contains("dist"))
    assert(intercept[IllegalArgumentException] {
      Spatial.radiusJoin(ok, ok, "rid", "rid", "x", "y", 1.0)
    }.getMessage.contains("differ"))
  }
}
