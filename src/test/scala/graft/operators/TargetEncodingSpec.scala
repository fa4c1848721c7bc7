package graft.operators

import graft.SparkSpec

/** Leave-one-out target encoding semantics ([[TargetEncoding.looEncode]]). */
class TargetEncodingSpec extends SparkSpec {
  import spark.implicits._

  // cat a: labels 1, 3, 5; cat b: sole label 10; cat c: only unlabeled;
  // null cat: labels 2, 4
  private lazy val df = Seq(
    (1L, Some("a"), Some(1.0)), (2L, Some("a"), Some(3.0)),
    (3L, Some("a"), Some(5.0)), (4L, Some("a"), None),
    (5L, Some("b"), Some(10.0)),
    (6L, Some("c"), None),
    (7L, None, Some(2.0)), (8L, None, Some(4.0))
  ).toDF("id", "cat", "label")

  private lazy val enc = TargetEncoding.looEncode(df, "cat", "label")
    .select("id", "encoded").as[(Long, Double)].collect().toMap
  private val globalMean = (1.0 + 3 + 5 + 10 + 2 + 4) / 6

  test("labeled rows encode as the mean of the category's OTHER labels") {
    assert(enc(1L) == 4.0)   // (3+5)/2 — own label excluded
    assert(enc(2L) == 3.0)   // (1+5)/2
    assert(enc(3L) == 2.0)   // (1+3)/2
  }

  test("unlabeled rows get the plain category mean — nothing to leak") {
    assert(enc(4L) == 3.0)   // (1+3+5)/3
  }

  test("sole-label and unlabeled categories fall back to the global mean") {
    assert(enc(5L) == math.rint(globalMean * 1e6) / 1e6) // b: no other label
    assert(enc(6L) == math.rint(globalMean * 1e6) / 1e6) // c: no labels at all
  }

  test("null categories share stats like any other category") {
    assert(enc(7L) == 4.0)   // the other null-cat label
    assert(enc(8L) == 2.0)
  }

  test("reserved output names are rejected") {
    val bad = df.withColumnRenamed("label", "encoded")
    assert(intercept[IllegalArgumentException] {
      TargetEncoding.looEncode(bad, "cat", "encoded")
    }.getMessage.contains("encoded"))
  }
}
