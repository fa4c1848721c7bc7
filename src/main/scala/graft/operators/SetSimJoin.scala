package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join via prefix filtering (the All-Pairs /
  * PPJoin family) — every pair of documents whose token-set Jaccard
  * meets the threshold, with no approximation and no n² candidate
  * stage. The exact complement to MinHash-LSH: LSH trades recall for
  * speed; prefix filtering keeps recall = 1 and prunes instead by a
  * completeness argument.
  *
  * The prefix principle: order every token by a GLOBAL rarity order
  * (document frequency ascending, token as tie-break) and sort each
  * document's distinct tokens by it. If J(a,b) >= t, the pair must
  * share at least one token among the first `|d| - ceil(t·|d|) + 1`
  * tokens of EACH side — so indexing only those prefixes loses nothing.
  * Rare tokens sort first and land in prefixes (tiny posting lists);
  * hot stopwords sort last and almost never do — the frequency skew
  * that kills a naive token-inverted-index join is exactly what prefix
  * filtering exploits.
  *
  * Scale shape: a token-df aggregate (vocabulary-sized exchange with
  * map-side combine), one per-doc sort of its own tokens (sort_array
  * inside the row — no global sort anywhere; NOT array_sort, whose
  * default comparator is a LambdaFunction), a candidate equi-join
  * keyed on PREFIX tokens only (posting lists bounded by the rarity
  * order), a length filter (`t·|a| <= |b| <= |a|/t`) before dedup, and
  * exact verification only on surviving candidate ids. Nothing is
  * quadratic in corpus size; the only data-sized shuffles are the
  * df count and the doc-keyed token collect.
  */
object SetSimJoin {

  /** All pairs (id1 < id2) with token-set Jaccard >= `threshold`.
    * Returns (`id1`, `id2`, `jaccard`), jaccard rounded to 6.
    * Tokens are whitespace-split, distinct, empty-dropped; docs with
    * no tokens cannot pair. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"),
        explode(array_distinct(split(trim(col(textCol)), "\\s+"))).as("__t"))
      .where(length(col("__t")) > 0)
    // word-token sets are compact (distinct words per doc), so cutting
    // the 4x sets-subtree re-execution with one materialization wins —
    // measured at the 10x rung: q_x_setjoin 4.38→3.36 s sf0.1,
    // q_x_leakage 3.63→1.56 s sf0.1 / 2.36→1.48 s sf1
    pairsFromTokens(toks, threshold, _.localCheckpoint())
  }

  /** [[jaccardJoin]] in word-SHINGLE space (distinct n-gram shingles,
    * [[Dedup.shingles]] semantics) — the exact ground truth for the
    * MinHash-LSH near-dup path, which blocks on the same shingle sets:
    * recall/precision of the LSH candidate stage are measured against
    * THIS relation ([[Dedup.lshRecallEval]]). Same prefix-filter scale
    * shape; recall of the exact join itself is 1 by construction. */
  def jaccardShingleJoin(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"),
        explode(Dedup.shingles(col(textCol), shingleN)).as("__t"))
    // NO sets materialization here, deliberately: shingle arrays are
    // ~3x the text bytes per doc, and the same-window 10x A/B showed
    // the checkpoint LOSING to re-derivation for this space
    // (q_x_dedup_eval 2.74→4.15 s sf0.1 / 6.23→10.39 s sf1 with it) —
    // storing heavy arrays costs more than re-running the compact
    // explode+join subtree
    pairsFromTokens(toks, threshold, identity)
  }

  private def pairsFromTokens(toks: DataFrame, threshold: Double,
      materializeSets: DataFrame => DataFrame): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val dfs = toks.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    // per-doc token array in global (df, token) rarity order — struct
    // sort is lexicographic by field, so no dense global rank is needed
    // (a rank would be a full-vocabulary window: a single-partition sort)
    val sets = materializeSets(toks.join(dfs, "__t")
      .groupBy(col("__id"))
      // sort_array, NOT array_sort: array_sort's default comparator is a
      // LambdaFunction (a higher-order function even unparameterized);
      // sort_array is the plain ascending sort — identical order on this
      // null-free struct array
      .agg(sort_array(collect_list(struct(col("__df"), col("__t")))).as("__sd"))
      .select(col("__id"),
        // field access over an array<struct> is Catalyst's own
        // GetArrayStructFields — codegen'd, no lambda
        col("__sd").getField("__t").as("__set"),
        size(col("__sd")).as("__n")))
    // three plan references consume `sets` (the prefix explode and both
    // verification joins), and the round-12 q_x_setjoin plan shows ZERO
    // exchange reuse across them — the scan → explode → df-join →
    // collect_list subtree planned and EXECUTED four times (the corpus
    // scan eight times, counting the df aggregate's copies). Whether one
    // materialization beats three re-derivations depends on the SET
    // WIDTH — the callers choose via materializeSets (see jaccardJoin
    // vs jaccardShingleJoin).
    val pref = sets
      .withColumn("__p",
        col("__n") - ceil(lit(threshold) * col("__n")).cast("int") + 1)
      .select(col("__id"), col("__n"),
        explode(slice(col("__set"), lit(1), col("__p"))).as("__t"))
    val a = pref.select(col("__t"), col("__id").as("id1"), col("__n").as("n1"))
    val b = pref.select(col("__t"), col("__id").as("id2"), col("__n").as("n2"))
    val cands = a.join(b, Seq("__t"))
      .where(col("id1") < col("id2") &&
        col("n1") * lit(threshold) <= col("n2") &&
        col("n2") * lit(threshold) <= col("n1"))
      .select(col("id1"), col("id2"))
      .distinct()
    val withSets = cands
      .join(sets.select(col("__id").as("id1"), col("__set").as("s1"),
        col("__n").as("n1")), "id1")
      .join(sets.select(col("__id").as("id2"), col("__set").as("s2"),
        col("__n").as("n2")), "id2")
    val inter = size(array_intersect(col("s1"), col("s2")))
    withSets
      .select(col("id1"), col("id2"), inter.as("__o"),
        col("n1"), col("n2"))
      .where(col("__o").cast("double") /
        (col("n1") + col("n2") - col("__o")) >= threshold)
      .select(col("id1"), col("id2"),
        round(col("__o").cast("double") /
          (col("n1") + col("n2") - col("__o")), 6).as("jaccard"))
  }

  /** Cross-source near-duplicate leakage matrix — the contamination
    * census a multi-source pretraining mix needs: how many exact-Jaccard
    * near-dup pairs ([[jaccardJoin]]) cross each pair of sources (same-
    * source pairs are ordinary within-corpus duplication; CROSS-source
    * pairs mean one source leaks into another, double-counting content
    * the mix weighted separately).
    *
    * Scale shape: the pair set is the (already pruned) join output —
    * orders of magnitude smaller than the corpus; attaching sources is
    * two id-keyed joins of pairs against the (id, source) projection,
    * then a matrix-sized aggregate. The source pair is normalized
    * (least, greatest) so the matrix is upper-triangular.
    */
  def leakageMatrix(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, threshold: Double): DataFrame = {
    val pairs = jaccardJoin(df, idCol, textCol, threshold)
    val src = df.select(col(idCol), col(srcCol))
    pairs
      .join(src.select(col(idCol).as("id1"), col(srcCol).as("__sa")), "id1")
      .join(src.select(col(idCol).as("id2"), col(srcCol).as("__sb")), "id2")
      .groupBy(least(col("__sa"), col("__sb")).as("src1"),
        greatest(col("__sa"), col("__sb")).as("src2"))
      .agg(count(lit(1)).as("n_pairs"),
        // decimal-exact sum (jaccard is already round-6), divide in DOUBLE
        round(sum(col("jaccard").cast("decimal(38,6)")).cast("double") /
          count(lit(1)), 6).as("avg_jaccard"))
  }

  /** The DuckDB twin of [[jaccardJoin]] over a parquet-view `table` —
    * identical rarity order (array_agg ORDER BY df, t), prefix slice,
    * length filter, and single-division jaccard, so the gate hashes
    * exactly. Generated from the same threshold parameter. */
  def oracleSql(table: String, idCol: String, textCol: String,
      threshold: Double): String =
    s"""WITH toks AS (
       |  SELECT $idCol AS doc_id,
       |         unnest(list_distinct(regexp_split_to_array(trim($textCol), '\\s+'))) AS t
       |  FROM $table),
       |toks2 AS (SELECT * FROM toks WHERE length(t) > 0),
       |dfs AS (SELECT t, count(*) AS df FROM toks2 GROUP BY t),
       |sets AS (
       |  SELECT doc_id, array_agg(t ORDER BY d.df, t) AS s,
       |         CAST(count(*) AS INTEGER) AS n
       |  FROM toks2 JOIN dfs d USING (t) GROUP BY doc_id),
       |pref AS (
       |  SELECT doc_id, n,
       |         unnest(s[1 : n - CAST(ceil($threshold * n) AS INTEGER) + 1]) AS t
       |  FROM sets),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id
       |  WHERE a.n * $threshold <= b.n AND b.n * $threshold <= a.n),
       |v AS (
       |  SELECT id1, id2, CAST(len(list_intersect(sa.s, sb.s)) AS INTEGER) AS o,
       |         sa.n AS na, sb.n AS nb
       |  FROM cand
       |  JOIN sets sa ON sa.doc_id = cand.id1
       |  JOIN sets sb ON sb.doc_id = cand.id2)
       |SELECT id1, id2,
       |       ROUND(CAST(o AS DOUBLE) / (na + nb - o), 6) AS jaccard
       |FROM v
       |WHERE CAST(o AS DOUBLE) / (na + nb - o) >= $threshold
       |ORDER BY id1, id2""".stripMargin
}
