package graft.operators

import graft.SparkSpec

/** Inverted-index TF-IDF similarity: identical docs score 1, overlap ranks
  * above disjoint, the df cap severs stop-term-only connections. */
class SparseSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def pairs(docs: Seq[(Long, String)], maxDf: Long, minCos: Double) =
    SparseSimilarity.tfidfPairs(
        docs.toDF("id", "text"), "id", "text", maxDf, minCos)
      .orderBy("id1", "id2")
      .collect().toSeq
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap

  test("identical documents have cosine 1; disjoint ones never pair") {
    val p = pairs(Seq(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta gamma delta",
      3L -> "omega psi chi phi"), maxDf = 10L, minCos = 0.0)
    assert(p((1L, 2L)) == 1.0)
    assert(!p.contains((1L, 3L)) && !p.contains((2L, 3L)))
  }

  test("partial overlap scores between disjoint and identical") {
    // the fourth doc keeps alpha/beta off a df = n_docs count — a term in
    // EVERY document has idf = ln(1) = 0 and contributes nothing, which is
    // exactly the intended tf-idf semantics
    val p = pairs(Seq(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta epsilon zeta",
      3L -> "alpha beta gamma delta",
      4L -> "omega psi chi rho"), maxDf = 10L, minCos = 0.0)
    assert(p((1L, 3L)) == 1.0)
    assert(p((1L, 2L)) > 0.0 && p((1L, 2L)) < p((1L, 3L)))
  }

  test("df cap severs documents connected only through ubiquitous terms") {
    // "the" appears in every doc; with maxDf = 2 it leaves the index and
    // docs 1/2 (sharing nothing else) generate no candidate pair at all —
    // the fan-out bound that keeps the join linear at corpus scale
    val docs = Seq(
      1L -> "the apple orchard",
      2L -> "the steel furnace",
      3L -> "the apple orchard")
    assert(!pairs(docs, maxDf = 2L, minCos = 0.0).contains((1L, 2L)))
    assert(pairs(docs, maxDf = 2L, minCos = 0.0)((1L, 3L)) == 1.0)
    // raising the cap restores the stop-term connection
    assert(pairs(docs, maxDf = 10L, minCos = 0.0).contains((1L, 2L)))
  }

  test("minCos filters the output, not the candidate math") {
    val docs = Seq(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta epsilon zeta",
      3L -> "alpha beta gamma delta")
    val loose = pairs(docs, maxDf = 10L, minCos = 0.0)
    val tight = pairs(docs, maxDf = 10L, minCos = 0.9)
    assert(tight.keySet == loose.filter(_._2 >= 0.9).keySet)
  }
}
