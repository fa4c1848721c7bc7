package graft.gates

import org.apache.spark.sql.functions._
import graft.Gate, Gate.{NoOracle, Sql}
import Shared._

/** Dedup, sort, limit and sample (SURVEY §2.6). */
private[graft] object SampleGates {
  val gates: Seq[Gate] = Seq(
    // D1: distinct projection (dropDuplicates semantics on the projected key)
    Gate("q_d1_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Sql(() => """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // D2: seeded Bernoulli sample (helper_methods.py:44)
    Gate("q_d2_sample", (s, dir) =>
      t(s, dir, "lineitem").sample(0.1, 42L)
        .agg(count(lit(1)).as("n")),
      NoOracle("engine-specific seeded RNG: rows-only check")),

    // D5 + D7: distributed top-k (TakeOrderedAndProject)
    Gate("q_d5_topk", (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice")),
      Sql(() => """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // D7: full descending sort (small dim)
    Gate("q_d7_sort_desc", (s, dir) =>
      t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_name").desc),
      Sql(() => "SELECT n_nationkey, n_name FROM nation ORDER BY n_name DESC")),

    // D2b: seeded stratified sample (sampleBy on the lang strata)
    Gate("q_d2b_stratified", (s, dir) => {
      val fractions = Map("en" -> 0.5, "es" -> 0.25, "fr" -> 0.25,
        "de" -> 0.25, "zh" -> 0.1)
      t(s, dir, "documents").stat.sampleBy("lang", fractions, 42L)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    },
      NoOracle("engine-specific seeded RNG like q_d2_sample: rows-only check; " +
        "per-stratum fraction tolerance asserted in TextAnalysisSpec")),

    // D-hash-sample: deterministic content-keyed sampling — md5-threshold
    // gate, engine-reproducible (unlike seeded RNG sampling, which is
    // partition-layout-dependent and rows-only in this gate), monotone in
    // the fraction. THE oracled sampling path.
    Gate("q_d_hash_sample", (s, dir) =>
      graft.operators.Sampling.hashSample(
          t(s, dir, "documents"), "doc_id", fraction = 0.25, salt = "g1")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("lang")),
      // hash sample: identical md5-threshold gate — fixed-length lowercase
      // hex compares identically in both engines; 0.25 → 0x40000000 prefix
      Sql(() => """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR) || 'g1')
        |      < '40000000000000000000000000000000'
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // D-group-split: leakage-safe train/val/test folds — every row of a
    // source lands in the same fold (correlated rows never straddle a
    // train/eval boundary); deterministic salted-hash cuts
    Gate("q_d_group_split", (s, dir) =>
      graft.operators.Sampling.groupSplit(
          t(s, dir, "documents"), "source", cuts = Seq(0.8, 0.9), salt = "g2")
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("doc_id")).as("sum_id"))
        .orderBy(col("fold")),
      // group split: same salted-hash cuts (0.8 → 0xcccccccc, 0.9 → 0xe6666666)
      Sql(() => """SELECT CAST(fold AS INTEGER) AS fold, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM (
        |  SELECT doc_id, source,
        |    CASE WHEN md5(source || 'g2') < 'cccccccc000000000000000000000000' THEN 0
        |         WHEN md5(source || 'g2') < 'e6666666000000000000000000000000' THEN 1
        |         ELSE 2 END AS fold
        |  FROM documents)
        |GROUP BY fold ORDER BY fold""".stripMargin)),

    // D-stratified-det: deterministic per-stratum sampling — the
    // engine-reproducible twin of sampleBy (whose seeded RNG is
    // layout-dependent and rows-only in q_d2b): each source keeps its
    // own md5-threshold fraction, map-side only
    Gate("q_d_stratified_det", (s, dir) =>
      graft.operators.Sampling.stratifiedHashSample(
          t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.75), salt = "g5")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("source")),
      // stratified deterministic sample: same per-source thresholds
      // (0.5 → 0x80…, 0.25 → 0x40…, 0.75 → 0xc0…); unlisted sources drop
      Sql(() => """SELECT source, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR) || 'g5') <
        |  CASE source
        |    WHEN 'src0' THEN '80000000000000000000000000000000'
        |    WHEN 'src1' THEN '40000000000000000000000000000000'
        |    WHEN 'src2' THEN 'c0000000000000000000000000000000'
        |    ELSE '00000000000000000000000000000000' END
        |GROUP BY source ORDER BY source""".stripMargin)),

    // D-group-bottomk: deterministic fixed-size sample WITHIN each group
    // (balanced panel) — hash-order row_number capped by WindowGroupLimit
    // (≤ k rows/group/partition at the exchange, the window twin of the
    // TopK aggregate); engine-reproducible, prefix-stable in k.
    Gate("q_d_group_bottomk", (s, dir) =>
      graft.operators.Sampling.bottomKPerGroup(
          t(s, dir, "documents").select("doc_id", "source", "lang"),
          "source", "doc_id", k = 2, salt = "g5")
        .orderBy(col("source"), col("doc_id")),
      // per-group bottom-k: same salted-hash order, rank within group
      Sql(() => """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || 'g5'), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 2
        |ORDER BY source, doc_id""".stripMargin)),

    // D-bottomk: deterministic fixed-SIZE uniform sample — the k rows
    // with the smallest salted key-hash (bottom-k/KMV sketch). Plans as
    // TakeOrderedAndProject (bounded per-partition heap, no global
    // sort); prefix-stable in k, engine-reproducible.
    Gate("q_d_bottomk", (s, dir) =>
      graft.operators.Sampling.bottomK(
        t(s, dir, "documents").select("doc_id", "lang", "source"),
        "doc_id", k = 25, salt = "g3"),
      // bottom-k sample: same salted-hash order, LIMIT k
      Sql(() => """SELECT doc_id, lang, source FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR) || 'g3'), doc_id
        |LIMIT 25""".stripMargin)),

    // D-weighted: deterministic weighted sample without replacement —
    // A-ES priorities u^(1/w) realized as the MAX OF w SALTED HASHES
    // (the max of w uniforms has exactly that distribution): no pow, no
    // libm, bit-identical in any engine. src0 weighted 4×, src1 2×.
    Gate("q_d_weighted", (s, dir) =>
      graft.operators.Sampling.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("source"))
          .withColumn("w", when(col("source") === "src0", 4)
            .when(col("source") === "src1", 2).otherwise(1)),
        "doc_id", "w", k = 30, maxWeight = 4, salt = "g4"),
      // weighted sample: identical max-of-w-hashes priority (w slices of
      // the same 4-draw list), ranked descending
      Sql(() => """SELECT doc_id, source, w FROM (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN source = 'src0' THEN 4
        |              WHEN source = 'src1' THEN 2 ELSE 1 END AS INTEGER) AS w,
        |    list_max(list_slice([
        |      md5(CAST(doc_id AS VARCHAR) || 'g4#1'),
        |      md5(CAST(doc_id AS VARCHAR) || 'g4#2'),
        |      md5(CAST(doc_id AS VARCHAR) || 'g4#3'),
        |      md5(CAST(doc_id AS VARCHAR) || 'g4#4')], 1,
        |      CASE WHEN source = 'src0' THEN 4
        |           WHEN source = 'src1' THEN 2 ELSE 1 END)) AS prio
        |  FROM documents)
        |ORDER BY prio DESC, doc_id LIMIT 30""".stripMargin)),

    // D-neyman: minimum-variance stratified sampling — budget allocated
    // ∝ N_h·σ_h per event type, kept via the salted content-hash uniform
    // (deterministic, no RNG); gate hashes the per-stratum census
    Gate("q_d_neyman", (s, dir) =>
      graft.operators.Sampling.neymanAllocation(
          t(s, dir, "events"), "event_type", "event_id", "value",
          totalBudget = 300, salt = "ney")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n_kept"),
          sum(col("event_id")).cast("bigint").as("sum_id"))
        .orderBy(col("event_type")),
      // Neyman allocation: identical per-stratum σ (computational formula
      // over round-6 decimal sums), round-6 N·σ weights into a DECIMAL
      // total, same left-assoc rate chain and md5-uniform keep rule
      Sql(() => """WITH stats AS (
        |  SELECT event_type AS src, count(*) AS n,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT src, n,
        |    ROUND(n * (CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 0
        |               THEN sqrt((s2 - s1 * s1 / n) / (n - 1))
        |               ELSE 0.0 END), 6) AS w
        |  FROM stats),
        |wt AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS wt FROM w),
        |rates AS (
        |  SELECT src, LEAST(1.0, 300.0 * w / wt.wt / n) AS rate
        |  FROM w, wt),
        |kept AS (
        |  SELECT e.event_id, e.event_type
        |  FROM events e JOIN rates r ON r.src = e.event_type
        |  WHERE ('0x' || substring(md5(CAST(event_id AS VARCHAR) || 'ney'), 1, 13))::BIGINT
        |        / 4503599627370496.0 < r.rate)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM kept GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // D-systematic: every-7th event along (ts, event_id) — global
    // positions via range partitioning + a partition-count pass, never
    // a single-partition sort
    Gate("q_d_systematic", (s, dir) =>
      graft.operators.Sampling.systematicSample(
          t(s, dir, "events").select("event_id", "ts"),
          Seq("ts", "event_id"), k = 7, offset = 3)
        .select(col("event_id"))
        .orderBy(col("event_id")),
      // systematic sampling: the global row_number twin of the
      // range-partitioned distributed index
      Sql(() => """WITH r AS (
        |  SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_id FROM r WHERE (rn - 1) % 7 = 3
        |ORDER BY event_id""".stripMargin)),

    // D-seqpoisson: sequential Poisson weighted sampling — real-valued
    // weights, u/w priorities from the salted key hash, bounded-heap
    // top-k; deterministic across runs/layouts/engines
    Gate("q_d_seqpoisson", (s, dir) =>
      graft.operators.Sampling.sequentialPoisson(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          "o_orderkey", "o_totalprice", k = 25, salt = "sp1")
        .orderBy(col("o_orderkey")),
      // sequential Poisson: same 52-bit uniform and u/w priorities
      Sql(() => """SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || 'sp1'), 1, 13))::BIGINT
        |     / 4503599627370496.0) / o_totalprice AS prio
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
        |  ORDER BY prio, o_orderkey LIMIT 25)
        |ORDER BY o_orderkey""".stripMargin))
  )
}
