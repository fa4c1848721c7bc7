package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sparse (TF-IDF) document similarity via an inverted-index join.
  *
  * The scale-right alternative to all-pairs text cosine: instead of a
  * doc×doc cross product, weights are joined TERM-partitioned — only
  * documents that actually share a surviving term ever meet, which is the
  * inverted-index trick every search engine uses. The shuffles are
  * (doc, word) for TF, (word) for the index join, (id1, id2) for the dot
  * aggregation — all key-partitioned, no broadcast of anything
  * corpus-sized, no cross join (cf. the dense-embedding path in
  * [[Similarity]], which buckets by hyperplane instead).
  *
  * `maxDf` caps the document frequency a term may have and still enter
  * the pair join. A term with df=d generates d·(d-1)/2 candidate pairs, so
  * ubiquitous terms are quadratic poison — and they carry near-zero IDF
  * weight anyway. The cap bounds the join fan-out to maxDf·df_distribution
  * regardless of corpus size; documents similar ONLY through dropped
  * stop-terms score lower, the standard and intended trade.
  */
object SparseSimilarity {

  /** Pairs of documents with TF-IDF cosine >= `minCos`, computed
    * inverted-index style. Tokenization is whitespace (matching
    * [[TextAnalysis.vocabulary]]); `idf = ln(n_docs/df)` rounded to 6
    * places (cross-engine libm parity); dot products and norms accumulate
    * as DECIMAL so results are aggregation-order-independent.
    *
    * Output: (id1, id2, cos) with id1 < id2, cosine rounded to 6.
    */
  def tfidfPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Long, minCos: Double): DataFrame = {
    val tf = docs
      .select(col(idCol).as("__doc"),
        explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .groupBy(col("__doc"), col("word"))
      .agg(count(lit(1)).as("tf"))
    // df comes off tf (already one row per (doc, word)) — no second corpus
    // scan; the corpus size is a 1-row broadcast (the W2 pattern)
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val weights = tf
      .join(df, "word") // inner: drops capped terms from every doc vector
      .crossJoin(broadcast(nDocs))
      .select(col("__doc"), col("word"),
        (col("tf") * round(log(col("__n").cast("double") / col("df")), 6))
          .as("w"))
    val norms = weights
      .groupBy(col("__doc"))
      .agg(sqrt(sum((col("w") * col("w")).cast("decimal(38,12)"))
        .cast("double")).as("nrm"))
    val dots = weights.as("a")
      .join(weights.as("b"),
        col("a.word") === col("b.word") && col("a.__doc") < col("b.__doc"))
      .groupBy(col("a.__doc").as("id1"), col("b.__doc").as("id2"))
      .agg(sum((col("a.w") * col("b.w")).cast("decimal(38,12)"))
        .cast("double").as("dot"))
    dots
      .join(norms.select(col("__doc").as("id1"), col("nrm").as("nrm1")), "id1")
      .join(norms.select(col("__doc").as("id2"), col("nrm").as("nrm2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("dot") / (col("nrm1") * col("nrm2")), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
