package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Name-based record linkage on Jaro-Winkler similarity — the
  * complement to [[Dedup.fuzzyPairs]]' Levenshtein path: JW is the
  * standard metric for person/company/product NAMES (transpositions
  * cost half a mismatch, shared prefixes are rewarded), where absolute
  * edit distance over-penalizes long strings.
  *
  * Scale shape: candidates come from an equi-join on a blocking key
  * (default: the name's first token + a length bucket — same-entity
  * name variants overwhelmingly share their first word), so the join
  * never goes corpus²; scoring runs the fused codegen
  * [[graft.functions.JaroWinkler]] expression per candidate pair. The
  * within-block candidate set is quadratic in block size — same
  * domain-knowledge contract as fuzzyPairs, so prefer blocking keys
  * with bounded selectivity or pre-cap hot blocks upstream.
  */
object Linkage {

  /** All (id1 < id2) pairs whose names block together and score
    * jw ≥ `threshold`. Output: (id1, id2, jw) with jw rounded to 6. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, nameCol: String,
      threshold: Double, lengthBucket: Int = 8): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"need 0 < threshold <= 1, got $threshold")
    require(lengthBucket >= 1, s"lengthBucket must be >= 1, got $lengthBucket")
    val keyed = df
      .where(col(idCol).isNotNull && col(nameCol).isNotNull)
      .select(col(idCol).as("__id"), col(nameCol).as("__name"),
        split(col(nameCol), " ").getItem(0).as("__b1"),
        (length(col(nameCol)) / lengthBucket).cast("int").as("__b2"))
    val a = keyed.select(col("__id").as("id1"), col("__name").as("__n1"),
      col("__b1"), col("__b2"))
    val b = keyed.select(col("__id").as("id2"), col("__name").as("__n2"),
      col("__b1"), col("__b2"))
    a.join(b, Seq("__b1", "__b2"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(graft.functions.StringSimilarityExprs.jaroWinkler(
          col("__n1"), col("__n2")), 6).as("jw"))
      .where(col("jw") >= threshold)
  }

  /** Token-sort canonicalization: records whose names are the same
    * multiset of tokens in a different order ("acme trading corp" /
    * "corp acme trading") collapse onto one key — the zero-candidate-
    * join member of the linkage family (fuzzyPairs and
    * jaroWinklerPairs catch typos; this catches permutations, the
    * token_sort_ratio idea as an exact-key group-by).
    *
    * Scale shape: the key is a pure map-side expression (lowercase →
    * split → sort → join), so the whole operator is one hash
    * aggregate on the canonical key — no pair generation at all.
    *
    * Output: one row per key matched by ≥ 2 records —
    * (key, n, min_id, max_id). */
  def tokenSortGroups(df: DataFrame, idCol: String,
      nameCol: String): DataFrame = {
    val key = array_join(sort_array(split(lower(col(nameCol)), " ")), " ")
    df.where(col(idCol).isNotNull && col(nameCol).isNotNull)
      .groupBy(key.as("key"))
      .agg(count(lit(1)).as("n"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
      .where(col("n") >= 2)
  }

  /** Survivorship: collapse each entity cluster to its golden record —
    * the step after candidate pairs close into clusters
    * ([[graft.operators.Dedup.connectedComponents]]) where one
    * representative row must be CHOSEN, not synthesized. The survivor
    * is the cluster member ranking first under `precedence` (the
    * business rule — e.g. highest completeness, most recent, largest
    * balance), with `idCol` ascending as the deterministic final tie
    * break.
    *
    * Scale shape: one equi-join of the records to the cluster
    * assignment (both keyed on the record id) + one cluster-keyed
    * row_number window — state bounded by cluster size, which the
    * upstream blocking already bounds. Singleton ids absent from
    * `clusters` pass through as their own golden record.
    *
    * Output: records schema + (`cluster`, `n_members`).
    */
  def goldenRecords(records: DataFrame, idCol: String,
      clusters: DataFrame, precedence: Seq[org.apache.spark.sql.Column])
      : DataFrame = {
    require(precedence.nonEmpty, "need at least one precedence column")
    Reserved.guard("goldenRecords", records, "cluster", "n_members", "__rn", "id")
    val assigned = records.join(clusters.select(col("id"), col("cluster")),
        records(idCol) === col("id"), "left")
      .withColumn("cluster",
        coalesce(col("cluster"), records(idCol)))
      .drop("id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(precedence :+ col(idCol).asc: _*)
    assigned
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))))
      .where(col("__rn") === 1)
      .drop("__rn")
  }
}
