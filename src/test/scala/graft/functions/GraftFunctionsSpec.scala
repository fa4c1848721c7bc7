package graft.functions

import graft.SparkSpec

/** SQL-surface registration: the native kernels callable from spark.sql
  * on a session built by [[graft.GraftSession]], which injects them
  * through `spark.sql.extensions`. */
class GraftFunctionsSpec extends SparkSpec {

  test("registered SQL functions evaluate the native kernels") {
    val cos = spark.sql(
      """SELECT cosine_similarity(
        |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)

    val dot = spark.sql(
      """SELECT vector_dot(
        |  array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)),
        |  array(CAST(4.0 AS FLOAT), CAST(5.0 AS FLOAT))) AS d""".stripMargin)
      .head().getDouble(0)
    assert(dot == 23.0)

    val sh = spark.sql("SELECT word_shingles('a b c d', 3) AS s")
      .head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))

    val sig = spark.sql(
      "SELECT minhash_signature(word_shingles('a b c d e f', 2), 16) AS s")
      .head().getSeq[Long](0)
    assert(sig.length == 16)

    val same = spark.sql(
      """SELECT simhash64(split('x y z', ' ')) = simhash64(split('x y z', ' ')) AS eq,
        |       min_k_hashes(split('p q r s t', ' '), 3) AS mk""".stripMargin).head()
    assert(same.getBoolean(0))
    assert(same.getSeq[Long](1).length == 3)
  }

  test("session-extensions class wires the same builders") {
    // the injection list itself (session-construction path is exercised in
    // production via spark.sql.extensions=graft.functions.GraftExtensions)
    assert(GraftFunctions.builders.map(_._1).toSet == Set(
      "cosine_similarity", "vector_dot", "word_shingles",
      "minhash_signature", "min_k_hashes", "simhash64"))
    new GraftExtensions() // constructible
  }
}
