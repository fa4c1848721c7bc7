package graft.operators

import graft.SparkSpec

/** C4-style corpus-level boilerplate removal: census threshold,
  * in-order reassembly, tail segments, all-boilerplate docs. */
class BoilerplateSpec extends SparkSpec {
  import spark.implicits._

  // "ad click here" opens docs 1-3 (boilerplate at minDocs=3);
  // the 2-doc segment "buy now please" survives; doc 4 is pure content;
  // doc 5 is ONLY the boilerplate segment; doc 6 is whitespace-only.
  private def docs = Seq(
    (1L, "ad click here alpha beta gamma buy now please"),
    (2L, "ad click here delta epsilon zeta buy now please"),
    (3L, "ad click here eta theta iota"),
    (4L, "kappa lambda mu nu xi omicron pi"),
    (5L, "ad click here"),
    (6L, "   ")
  ).toDF("doc_id", "text")

  private def run(minDocs: Int = 3) =
    Boilerplate.removeRepeatedSegments(docs, "doc_id", "text",
        segTokens = 3, minDocs = minDocs)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()

  test("segments in >= minDocs distinct docs drop; reassembly keeps order") {
    val r = run().map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, "alpha beta gamma buy now please", 2L, 1L)))
    assert(r(2L) == ((2L, "delta epsilon zeta buy now please", 2L, 1L)))
    assert(r(3L) == ((3L, "eta theta iota", 1L, 1L)))
    assert(r(4L) == ((4L, "kappa lambda mu nu xi omicron pi", 3L, 0L)))
  }

  test("an all-boilerplate doc emits '' (not null); whitespace docs drop") {
    val r = run()
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(r.find(_._1 == 5L).get == ((5L, "", 0L, 1L)))
  }

  test("the tail segment is shorter than segTokens but still censused") {
    // doc 4 has 7 tokens -> segments of 3+3+1; the 1-token tail "pi"
    // is unique, so everything survives intact
    val r = run().find(_._1 == 4L).get
    assert(r._2 == "kappa lambda mu nu xi omicron pi" && r._3 == 3L)
  }

  test("raising minDocs above the census keeps every segment") {
    // "ad click here" appears in 4 distinct docs (1, 2, 3, AND 5) —
    // minDocs must exceed that census to keep everything
    val r = run(minDocs = 5)
    assert(r.forall(_._4 == 0L))
    assert(r.find(_._1 == 1L).get._2 == "ad click here alpha beta gamma buy now please")
  }

  test("bad arguments are rejected") {
    intercept[IllegalArgumentException] {
      Boilerplate.removeRepeatedSegments(docs, "doc_id", "text", segTokens = 0)
    }
    intercept[IllegalArgumentException] {
      Boilerplate.removeRepeatedSegments(docs, "doc_id", "text", minDocs = 1)
    }
  }
}
