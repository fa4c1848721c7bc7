package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Near-duplicate detection, record linkage and hash goldens. */
private[graft] object DedupGates {
  val gates: Seq[Gate] = Seq(
    // X-dedup: exact-dup census over the corpus
    Gate("q_x_dedup_exact", (s, dir) =>
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique")),
      Sql(() => """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_unique
        |FROM documents""".stripMargin)),

    // X-text: winnowed 64-bit document fingerprint over the PLANTED
    // corpus — xxhash64 is engine-specific, so the oracle is the
    // independently-computed golden VALUES table
    // ([[graft.operators.HashGoldens]]: plain-Scala shingle → min-k →
    // roll-up sharing only the XXH64 primitive). Any plumbing
    // regression (shingling, distinctness, selection, roll-up chain)
    // lands off-golden and is hash-visible.
    Gate("q_x_fingerprint", (s, dir) =>
      graft.operators.HashGoldens.corpusDF(s)
        .select(col("doc_id"),
          graft.operators.TextAnalysis.fingerprint64(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      // native xxhash64 sketch paths: planted corpus + independently-
      // computed golden VALUES tables (same closure pattern as the
      // multimodal goldens — plain-Scala pipeline sharing only the XXH64
      // primitive; see [[graft.operators.HashGoldens]])
      Sql(() => graft.operators.HashGoldens.fingerprintOracleSql)),

    // X-dedup: SimHash fingerprints over the planted corpus, golden-
    // oracled (same scheme; tokenization + vote loop gated)
    Gate("q_x_simhash", (s, dir) =>
      graft.operators.Dedup.withSimhash(
        graft.operators.HashGoldens.corpusDF(s), "text")
        .select("doc_id", "fp").orderBy(col("doc_id")),
      Sql(() => graft.operators.HashGoldens.simhashOracleSql)),

    // X-simhash-md5: the fully-ORACLED SimHash twin — 60-bit md5 token
    // hashes, ±1 bit votes, pure HOFs in both engines (the last sketch
    // family to gain an oracled twin; the native xxhash64 expression
    // above stays the production path)
    Gate("q_x_simhash_md5", (s, dir) =>
      tw(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          graft.operators.Dedup.simhash60Md5(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      // md5-simhash twin: identical 60-bit vote formulation — 15 md5 hex
      // chars parse to the same BIGINT in both engines
      Sql(() => """SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 60), j ->
        |    CASE WHEN list_sum(list_transform(
        |           list_transform(regexp_split_to_array(trim(text), '\s+'),
        |             t -> ('0x' || substring(md5(t), 1, 15))::BIGINT),
        |           h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |         THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS fp
        |FROM documents
        |WHERE length(trim(text)) > 0
        |ORDER BY doc_id""".stripMargin)),

    // X-dedup: MinHash LSH band table over the planted corpus, golden-
    // oracled (shingle → 32-seed signature → 8-band salted hash all
    // reproduced independently driver-side)
    Gate("q_x_minhash_bands", (s, dir) => {
      val d = graft.operators.HashGoldens.corpusDF(s)
      val sig = d.select(col("doc_id"),
        graft.operators.Dedup.minhashSignature(
          graft.operators.Dedup.shingles(col("text"), 3), 32).as("sig"))
      graft.operators.Dedup.lshBands(sig, "doc_id", "sig", 32, 8)
        .orderBy(col("doc_id"), col("band_idx"))
    },
      Sql(() => graft.operators.HashGoldens.minhashBandsOracleSql)),

    // X-dedup: MD5-based MinHash near-dup candidates — the cross-engine-
    // hashable twin of q_x_minhash_bands. Per (doc, seed) the sketch is
    // min over shingles of md5(seed ':' shingle); fixed-length lowercase
    // hex compares lexicographically == numerically in BOTH engines, so
    // the whole sketch (and the (seed, minhash)-bucket candidate join
    // behind it) is DuckDB-oracled hash-exact. Plan shape is the real
    // near-dup shape at scale: explode → map-side-combined min per
    // (doc, seed) → bucket self-join on (seed, hash) — never O(n²).
    Gate("q_x_minhash_md5", (s, dir) => {
      val shingled = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.operators.Dedup.shingles(col("text"), 3)).as("sh"))
      // 8 parallel min-aggregates over ONE pass of the exploded shingles
      // (a seed-explode would push every shingle row through the shuffle
      // 8×); the wide row then unpivots to (seed, h) for the bucket join
      val minAggs = (0 until 8).map(i =>
        min(md5(concat_ws(":", lit(i), col("sh")))).as(s"h$i"))
      val wide = shingled.groupBy(col("doc_id"))
        .agg(minAggs.head, minAggs.tail: _*)
      val mins = wide.select(col("doc_id"),
        posexplode(array((0 until 8).map(i => col(s"h$i")): _*))
          .as(Seq("seed", "h")))
      val a = mins.select(col("seed"), col("h"), col("doc_id").as("id1"))
      val b = mins.select(col("seed"), col("h"), col("doc_id").as("id2"))
      a.join(b, Seq("seed", "h"))
        .filter(col("id1") < col("id2"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).cast("bigint").as("n_shared_slots"))
        .orderBy(col("id1"), col("id2"))
    },
      // md5-minhash twin: identical sketch formulation in both engines —
      // md5 hex is lowercase fixed-length in each, so MIN() compares
      // lexicographically == numerically; the candidate join then
      // reproduces exactly
      Sql(() => """WITH sh AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |mins AS (
        |  SELECT doc_id, i AS seed, min(md5(i || ':' || s)) AS h
        |  FROM sh, range(0, 8) t(i)
        |  GROUP BY doc_id, i)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(count(*) AS BIGINT) AS n_shared_slots
        |FROM mins a JOIN mins b
        |  ON a.seed = b.seed AND a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // X-setjoin: EXACT set-similarity self-join via prefix filtering
    // (All-Pairs/PPJoin) — recall-1 complement to MinHash-LSH: tokens
    // sort by global rarity, only each doc's `n - ceil(t·n) + 1`-token
    // prefix is indexed (completeness guaranteed by the prefix
    // principle), candidates equi-join on prefix tokens + length
    // filter, exact Jaccard verifies survivors only
    // (gate runs on the stable doc_id < 500 slice: the fixture corpus
    // is a near-clone family — tiny shared vocabulary — so the TRUE
    // >=0.8 pair set grows ~quadratically with the doc count; the
    // slice keeps the hash gate's result set bounded across SFs while
    // exercising the full operator. Adversarial-vocab pruning behavior
    // is SetSimJoinSpec's stopword test.)
    Gate("q_x_setjoin", (s, dir) =>
      graft.operators.SetSimJoin.jaccardJoin(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", 0.8)
        .orderBy(col("id1"), col("id2")),
      // exact prefix-filtered Jaccard join: identical rarity order,
      // prefix slice, length filter, and single-division jaccard —
      // generated from the same threshold
      Sql(() => graft.operators.SetSimJoin.oracleSql(
        "(SELECT * FROM documents WHERE doc_id < 500) dslice",
        "doc_id", "text", 0.8))),

    // X-text: MD5 winnow fingerprint — the cross-engine twin of the
    // xxhash64 min-k sketch (q_x_fingerprint stays rows-only): the 4
    // smallest distinct md5(shingle) values per doc, ranked. Same
    // fixed-length-hex ordering argument as q_x_minhash_md5, so fully
    // DuckDB-oracled.
    Gate("q_x_fingerprint_md5", (s, dir) => {
      val hashed = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          explode(graft.operators.Dedup.shingles(col("text"), 3)).as("sh"))
        .select(col("doc_id"), md5(col("sh")).as("h"))
        .distinct()
      val w = Window.partitionBy(col("doc_id")).orderBy(col("h"))
      hashed.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 4)
        .orderBy(col("doc_id"), col("rank"))
    },
      // md5 winnow fingerprint: same distinct-shingle formulation, ranked
      // by the hex hash (lexicographic == numeric for fixed-length hex)
      Sql(() => """WITH sh0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents WHERE doc_id < 200)),
        |sh AS (SELECT DISTINCT doc_id, md5(s) AS h FROM sh0),
        |r AS (
        |  SELECT doc_id, h,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY h) AS INT) AS rank
        |  FROM sh)
        |SELECT doc_id, h, rank FROM r WHERE rank <= 4
        |ORDER BY doc_id, rank""".stripMargin)),

    // X-dedup: exact word-3-gram Jaccard on explicit candidate pairs (the
    // verify stage every sketch method shares) — fully DuckDB-oracled,
    // unlike the hash-sketch stages
    Gate("q_x_ngram_jaccard", (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("id1"))
        .filter(col("id1") % 2 === 0)
        .withColumn("id2", col("id1") + 1)
        .join(d.select(col("doc_id").as("id2")), "id2")
        .select("id1", "id2")
      graft.operators.Dedup.ngramJaccard(pairs, d, "doc_id", "text", 3)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id1"))
    },
      Sql(() => """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0
        |ORDER BY id1""".stripMargin)),

    // X-dedup: embedding-cosine near-dup pairs — hyperplane-bucket
    // candidate join + fused-cosine exact verify. The fixture has no
    // natural near-dups (max pairwise cos ≈ 0.51), so 20 exact duplicate
    // vectors are planted identically in both engines; identical vectors
    // share every hyperplane sign, so the bucket join finds each planted
    // pair with probability 1 and the result is fully DuckDB-oracled
    // (the oracle verifies via exact all-pairs cosine).
    Gate("q_x_emb_neardups", (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      val corpus = emb.unionByName(planted)
      graft.operators.Dedup.embeddingNearDups(corpus, "vec_id", "embedding",
          threshold = 0.999, planes = 8, dim = 64)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy(col("id1"), col("id2"))
    },
      // embedding near-dups: the oracle checks ALL pairs with exact cosine
      // (no bucketing) — a hash match proves the bucket-join candidate
      // generation lost no qualifying pair
      Sql(() => """WITH c AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 20),
        |p AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |  FROM c a JOIN c b ON a.vec_id < b.vec_id)
        |SELECT id1, id2, cos FROM p WHERE cos >= 0.999
        |ORDER BY id1, id2""".stripMargin)),

    // X-dedup: the q_x_emb_neardups chain over INT8 scalar-quantized
    // codes — every bucket-/id-keyed shuffle carries array<tinyint>
    // (~4× smaller than floats; floats drop map-side before the first
    // exchange), the 100 TB shuffle-bytes lever. Verification cosine
    // runs on the codes, whose double dot/norm sums are EXACT integers
    // (|q| <= 127), so engine and oracle agree bit-for-bit with no
    // float-accumulation caveat. Same planted 20-copy family.
    Gate("q_x_sq_neardups", (s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      val corpus = emb.unionByName(planted)
      graft.operators.Dedup.quantizedNearDups(corpus, "vec_id", "embedding",
          threshold = 0.99, planes = 8, dim = 64)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy(col("id1"), col("id2"))
    },
      // quantized near-dups: the oracle re-quantizes with the q_x_quantized
      // recipe (scale = max|x|/127, round half away from zero — the
      // established cross-engine rounding parity) and checks ALL code pairs
      // with exact integer-cosine — a hash match proves the code-space
      // bucket join lost no qualifying pair AND that code arithmetic is
      // bit-identical (integer sums are exact in double in both engines)
      Sql(() => """WITH c AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 20),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[], x ->
        |      CASE WHEN s > 0 THEN round(x / s) ELSE 0 END) AS codes
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
        |        FROM c)),
        |p AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    ROUND(list_cosine_similarity(a.codes, b.codes), 6) AS cos
        |  FROM q a JOIN q b ON a.vec_id < b.vec_id)
        |SELECT id1, id2, cos FROM p WHERE cos >= 0.99
        |ORDER BY id1, id2""".stripMargin)),

    // X-dedup: near-dup CLUSTERS — MinHash-LSH pairs (deterministic seeded
    // hashes; every fixture near-dup pair sits at jaccard >= 0.9, where the
    // 16-band/r=4 detection probability is 1 - 4e-8, so the candidate set
    // equals the oracle's all-pairs set) fed through iterative min-label
    // connected components. The oracle recomputes the edge set exactly and
    // closes it with a recursive CTE.
    Gate("q_x_dup_clusters", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dedup.nearDupClusters(d, "doc_id", "text")
        .orderBy(col("id"))
    },
      // Connected-components closure of the exact near-dup pair set (all
      // pairs at trigram jaccard >= 0.8; the Spark side reaches the same
      // pair set through deterministic MinHash-LSH candidates — every
      // fixture pair sits at jaccard >= 0.9 where band-detection probability
      // is 1 - 4e-8 — then exact-jaccard verification).
      Sql(() => """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |edges AS (
        |  SELECT a.doc_id id1, b.doc_id id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |sym AS (SELECT id1 a, id2 b FROM edges UNION SELECT id2, id1 FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a)
        |SELECT a AS id, LEAST(a, MIN(b)) AS cluster
        |FROM reach GROUP BY a ORDER BY id""".stripMargin)),

    // X-dedupeval: LSH detection-quality harness — exact prefix-filter
    // shingle-Jaccard ground truth vs the raw band-bucket candidate
    // set; hash-dependent recall/precision stay engine-side, the
    // output is the exact truth count + the error-contract booleans
    Gate("q_x_dedup_eval", (s, dir) =>
      graft.operators.Dedup.lshRecallEval(
        t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = 64, bands = 16, threshold = 0.8,
        minRecall = 0.95, minPrecision = 0.05),
      // dedup eval: the exact shingle-Jaccard edge census (the
      // q_x_dup_clusters relation) + the contract booleans as literals
      Sql(() => """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |edges AS (
        |  SELECT a.doc_id id1, b.doc_id id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
        |SELECT CAST(count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok,
        |  TRUE AS precision_ok
        |FROM edges""".stripMargin)),

    // X-clustersplit: dedup-AWARE train/val/test folds — near-dup
    // cluster members share a fold (no eval row has a near-copy in
    // train); folds are salted-hash cuts of the content-derived
    // CLUSTER id (LSH pairs → connected components → left join →
    // map-side hash). The gate panels per-fold counts + id sums; the
    // oracle recomputes clusters with the exact-jaccard recursive CTE
    // and the same md5 thresholds.
    Gate("q_x_cluster_split", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dedup.leakageSafeSplit(
          d, "doc_id", "text", cuts = Seq(0.8, 0.9), salt = "g7")
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("doc_id")).as("sum_id"))
        .orderBy(col("fold"))
    },
      // Dedup-aware folds: the q_x_dup_clusters closure feeding the
      // q_d_group_split md5-threshold idiom on the CLUSTER id
      Sql(() => """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |edges AS (
        |  SELECT a.doc_id id1, b.doc_id id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |sym AS (SELECT id1 a, id2 b FROM edges UNION SELECT id2, id1 FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
        |cl AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster
        |       FROM reach GROUP BY a),
        |wc AS (
        |  SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
        |f AS (
        |  SELECT doc_id, cluster,
        |    CASE WHEN md5(CAST(cluster AS VARCHAR) || 'g7') < 'cccccccc000000000000000000000000' THEN 0
        |         WHEN md5(CAST(cluster AS VARCHAR) || 'g7') < 'e6666666000000000000000000000000' THEN 1
        |         ELSE 2 END AS fold
        |  FROM wc)
        |SELECT CAST(fold AS INTEGER) AS fold, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin)),

    // X-dedup: benchmark decontamination — docs sharing >= 3 distinct
    // trigram shingles with the held-out "benchmark" slice (doc_id >= 490);
    // benchmark shingles broadcast, corpus probes map-side
    Gate("q_x_decontam", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dedup.contaminationFlags(
          d.filter(col("doc_id") < 490), "doc_id", "text",
          d.filter(col("doc_id") >= 490), "text")
        .orderBy(col("id"))
    },
      Sql(() => """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |bench AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id >= 490),
        |doc AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id < 490)
        |SELECT d.doc_id AS id, CAST(COUNT(DISTINCT d.s) AS BIGINT) AS n_overlap
        |FROM doc d JOIN bench b ON d.s = b.s
        |GROUP BY d.doc_id HAVING COUNT(DISTINCT d.s) >= 3
        |ORDER BY id""".stripMargin)),

    // X-dedup: incremental ingest dedup — distributed Bloom filter over
    // the "existing" half (broadcast 1-row build side), map-side probe of
    // the "incoming" half, exact anti-join verify on only the positive
    // sliver. Output is exact: incoming docs whose text never appeared in
    // the existing corpus.
    Gate("q_x_incremental", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dedup.incrementalNovel(
          d.filter(col("doc_id") >= 250), d.filter(col("doc_id") < 250),
          "text", expectedItems = 100000L)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      // incremental dedup: plain NOT EXISTS anti-semantics on the text key
      Sql(() => """SELECT a.doc_id FROM documents a
        |WHERE a.doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM documents b
        |  WHERE b.doc_id < 250 AND b.text = a.text)
        |ORDER BY a.doc_id""".stripMargin)),

    // X-fuzzy: edit-distance duplicate pairs (entity resolution) —
    // length-band + first-char blocked equi-join, exact levenshtein on
    // candidates only; supplier names pair when one digit differs
    Gate("q_x_fuzzy", (s, dir) =>
      graft.operators.Dedup.fuzzyPairs(
          t(s, dir, "supplier"), "s_suppkey", "s_name", maxDist = 1)
        .orderBy(col("id1"), col("id2")),
      // fuzzy pairs: same blocked semantics (first char + length band),
      // same classic levenshtein in both engines
      Sql(() => """SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
        |       CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS dist
        |FROM supplier a JOIN supplier b
        |  ON a.s_suppkey < b.s_suppkey
        | AND substring(a.s_name, 1, 1) = substring(b.s_name, 1, 1)
        | AND abs(length(a.s_name) - length(b.s_name)) <= 1
        |WHERE levenshtein(a.s_name, b.s_name) <= 1
        |ORDER BY id1, id2""".stripMargin)),

    // X-entity: entity-resolution capstone — near-identical names
    // (edit distance <= 1) become an edge list, closed into entity
    // clusters by iterative min-label connected components (the same
    // composition MinHash and TF-IDF pairs get in q_x_dup_clusters /
    // q_x_tfidf_clusters, over the FUZZY candidate generator). The
    // gate's supplier blocks sit far below fuzzyPairs' refinement
    // threshold, so the depth-1 (first char, length band) SQL twin is
    // the exact edge set; the oracle closes it with a recursive CTE.
    Gate("q_x_entity", (s, dir) => {
      // the candidate edge list materializes ONCE before the closure:
      // connectedComponents' symmetric union references its child twice,
      // which would recompute the whole fuzzy census + candidate join
      // per branch
      val edges = graft.operators.Dedup.fuzzyPairs(
          t(s, dir, "supplier"), "s_suppkey", "s_name", maxDist = 1)
        .select(col("id1"), col("id2")).localCheckpoint()
      graft.operators.Dedup.connectedComponents(edges)
        .orderBy(col("id"))
    },
      // entity resolution: the q_x_fuzzy edge set (same depth-1 blocked
      // twin) closed into clusters by the recursive-CTE reachability
      // pattern of q_x_dup_clusters
      Sql(() => """WITH RECURSIVE edges AS (
        |  SELECT a.s_suppkey id1, b.s_suppkey id2
        |  FROM supplier a JOIN supplier b
        |    ON a.s_suppkey < b.s_suppkey
        |   AND substring(a.s_name, 1, 1) = substring(b.s_name, 1, 1)
        |   AND abs(length(a.s_name) - length(b.s_name)) <= 1
        |  WHERE levenshtein(a.s_name, b.s_name) <= 1),
        |sym AS (SELECT id1 a, id2 b FROM edges UNION SELECT id2, id1 FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a)
        |SELECT a AS id, LEAST(a, MIN(b)) AS cluster
        |FROM reach GROUP BY a ORDER BY id""".stripMargin)),

    // X-spans: exact duplicated-passage detection — stride-sampled char
    // windows keyed by md5 (cross-engine), reduced per hash; the shuffle
    // carries hashes and ids, never text. Catches verbatim spans repeated
    // across otherwise-distinct documents, which whole-doc dedup and
    // per-doc sketches both miss.
    Gate("q_x_dup_spans", (s, dir) =>
      graft.operators.Dedup.duplicatedSpans(
          tw(s, dir, "documents"), "doc_id", "text",
          window = 40, stride = 10, minDocs = 2)
        .orderBy(col("h")),
      // duplicated spans: identical stride/window formulation — md5 hex is
      // engine-shared, positions are 1-based in both substring dialects
      Sql(() => """WITH spans AS (
        |  SELECT doc_id, md5(substring(text, i, 40)) AS h
        |  FROM documents,
        |       LATERAL unnest(range(1, length(text) - 38, 10)) t(i)
        |  WHERE length(text) >= 40)
        |SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY h""".stripMargin)),

    // X-cdc: content-defined duplicated-passage detection — windows
    // emitted at positions the CONTENT selects (md5 anchor band), so a
    // copied passage collides on the same span hashes at ANY offset —
    // the shift-robust refinement of q_x_dup_spans' stride sampling
    Gate("q_x_cdc_spans", (s, dir) =>
      graft.operators.Dedup.anchoredSpans(
          tw(s, dir, "documents"), "doc_id", "text",
          window = 40, gram = 8, sel = "0", minDocs = 2)
        .orderBy(col("h")),
      // content-defined spans: identical anchor predicate (md5 of the
      // 8-char context in the '0…' band) and span key in both engines
      Sql(() => """WITH spans AS (
        |  SELECT doc_id, md5(substring(text, i, 40)) AS h
        |  FROM documents,
        |       LATERAL unnest(range(1, length(text) - 38)) t(i)
        |  WHERE length(text) >= 40
        |    AND md5(substring(text, i, 8)) LIKE '0%')
        |SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY h""".stripMargin)),

    // X-cdc-fast: the fused native twin of q_x_cdc_spans — one xxhash64
    // per scanned byte via a single codegen'd expression pass instead of
    // an md5 digest per position. Runs over the planted corpus (docs
    // 100-103 share a passage at different offsets — the shift-robust
    // case; docs 0/104 are verbatim copies) and is golden-oracled: the
    // anchor mask + span hash + per-span reduce are reproduced
    // independently driver-side ([[graft.operators.HashGoldens]]).
    Gate("q_x_cdc_fast", (s, dir) =>
      graft.operators.Dedup.anchoredSpansFast(
          graft.operators.HashGoldens.corpusDF(s), "doc_id", "text",
          window = 40, gram = 8, maskBits = 4, minDocs = 2)
        .orderBy(col("h")),
      Sql(() => graft.operators.HashGoldens.cdcOracleSql(2))),

    // X-leakage: cross-source near-dup contamination matrix — the exact
    // jaccard pair set (q_x_setjoin's operator) rolled up by normalized
    // source pair; cross-source cells are mix-weighting leaks
    Gate("q_x_leakage", (s, dir) =>
      graft.operators.SetSimJoin.leakageMatrix(
          t(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", "source", 0.8)
        .orderBy(col("src1"), col("src2")),
      // leakage matrix: the generated exact-jaccard pair twin rolled up by
      // normalized source pair; decimal-exact avg of round-6 jaccards
      Sql(() => {
      val pairSql = graft.operators.SetSimJoin.oracleSql(
        "(SELECT * FROM documents WHERE doc_id < 500) dslice",
        "doc_id", "text", 0.8)
      s"""WITH pairs AS ($pairSql),
         |src AS (SELECT doc_id, source FROM documents WHERE doc_id < 500)
         |SELECT LEAST(a.source, b.source) AS src1,
         |       GREATEST(a.source, b.source) AS src2,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(38,6))) AS DOUBLE)
         |             / count(*), 6) AS avg_jaccard
         |FROM pairs JOIN src a ON pairs.id1 = a.doc_id
         |           JOIN src b ON pairs.id2 = b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    })),

    // X-jaro: Jaro-Winkler name linkage over part names — first-token +
    // length-bucket blocking feeds the fused codegen JaroWinkler
    // expression (pinned bit-exact to DuckDB's jaro_winkler_similarity
    // by a 3000-case fuzz); never corpus²
    Gate("q_x_jaro", (s, dir) =>
      graft.operators.Linkage.jaroWinklerPairs(
          t(s, dir, "part").filter(col("p_partkey") <= 400),
          "p_partkey", "p_name", threshold = 0.90)
        .orderBy(col("id1"), col("id2")),
      // Jaro-Winkler linkage: DuckDB's jaro_winkler_similarity IS the
      // reference the engine expression is fuzz-pinned to
      Sql(() => """WITH k AS (
        |  SELECT p_partkey AS id, p_name AS nm,
        |    split_part(p_name, ' ', 1) AS b1,
        |    CAST(length(p_name) // 8 AS INT) AS b2
        |  FROM part
        |  WHERE p_partkey <= 400 AND p_partkey IS NOT NULL
        |    AND p_name IS NOT NULL)
        |SELECT a.id AS id1, b.id AS id2,
        |       ROUND(jaro_winkler_similarity(a.nm, b.nm), 6) AS jw
        |FROM k a JOIN k b ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.id < b.id
        |WHERE ROUND(jaro_winkler_similarity(a.nm, b.nm), 6) >= 0.90
        |ORDER BY id1, id2""".stripMargin)),

    // X-compsizes: connected-component SIZE DISTRIBUTION — the
    // dedup/percolation readout over the sparse mod-500 quantity≤2
    // projection (sf0.001 sits below the percolation threshold with a
    // 7-size histogram; sf0.01 pins the fully-percolated giant — the
    // k-core both-SFs-differently rule); min-label closure + two tiny
    // keyed aggregates
    Gate("q_x_comp_sizes", (s, dir) => {
      val edges = t(s, dir, "lineitem")
        .where(col("l_quantity") <= 2 &&
          col("l_orderkey") % 500 =!= col("l_partkey") % 500)
        .select(least(col("l_orderkey") % 500, col("l_partkey") % 500)
            .as("id1"),
          greatest(col("l_orderkey") % 500, col("l_partkey") % 500)
            .as("id2"))
        .distinct().localCheckpoint()
      graft.operators.Dedup.connectedComponents(edges)
        .groupBy(col("cluster")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("component_size"))
        .agg(count(lit(1)).as("n_components"))
        .orderBy(col("component_size"))
    },
      // component sizes: identical sparse projection + recursive closure
      Sql(() => """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT
        |    least(l_orderkey % 500, l_partkey % 500) AS id1,
        |    greatest(l_orderkey % 500, l_partkey % 500) AS id2
        |  FROM lineitem
        |  WHERE l_quantity <= 2 AND l_orderkey % 500 <> l_partkey % 500),
        |sym AS (SELECT id1 a, id2 b FROM edges UNION SELECT id2, id1 FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
        |cl AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster
        |       FROM reach GROUP BY a),
        |sz AS (SELECT cluster, count(*) AS s FROM cl GROUP BY 1)
        |SELECT CAST(s AS BIGINT) AS component_size,
        |  CAST(count(*) AS BIGINT) AS n_components
        |FROM sz GROUP BY s ORDER BY component_size""".stripMargin)),

    // X-soundex: phonetic blocking codes — Spark's native codegen
    // soundex over a planted textbook corpus, oracled against an
    // INDEPENDENT plain-Scala implementation (the HashGoldens pattern)
    Gate("q_x_soundex", (s, dir) =>
      graft.operators.Phonetic.corpusDF(s)
        .select(col("name"), soundex(col("name")).as("code"))
        .orderBy(col("name")),
      // soundex: dump-time VALUES from the independent implementation
      Sql(() => graft.operators.Phonetic.goldenSql)),

    // X-kanon: k-anonymity / l-diversity audit — one QI-keyed
    // aggregate, output bounded to the violating groups
    Gate("q_x_kanon", (s, dir) =>
      graft.operators.Privacy.kAnonymityAudit(
          t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
          "c_acctbal", k = 10, l = 8)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      // k-anonymity / l-diversity: one QI aggregate + violation filter
      Sql(() => """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment, n, n_sensitive,
        |  n >= 10 AS k_ok, n_sensitive >= 8 AS l_ok
        |FROM g WHERE NOT (n >= 10) OR NOT (n_sensitive >= 8)
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // X-tokensort: permutation-duplicate detection — token-sort keys
    // collapse reordered names with ZERO pair generation (one map-side
    // key + one hash aggregate); the gate plants reversed-token
    // variants of every 10th part name
    Gate("q_x_tokensort", (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val rev = p.where(col("id") % 10 === 0)
        .select((col("id") + 1000000L).as("id"),
          array_join(reverse(split(col("name"), " ")), " ").as("name"))
      graft.operators.Linkage.tokenSortGroups(p.unionByName(rev),
          "id", "name")
        .orderBy(col("key"))
    },
      // token-sort keys: list_sort/list_reverse twins of sort_array/
      // reverse — lowercase ASCII tokens sort identically (binary order)
      Sql(() => """WITH src AS (
        |  SELECT p_partkey AS id, p_name AS name FROM part
        |  UNION ALL
        |  SELECT p_partkey + 1000000,
        |    array_to_string(list_reverse(string_split(p_name, ' ')), ' ')
        |  FROM part WHERE p_partkey % 10 = 0),
        |k AS (
        |  SELECT id,
        |    array_to_string(list_sort(string_split(lower(name), ' ')), ' ')
        |      AS key
        |  FROM src)
        |SELECT key, CAST(count(*) AS BIGINT) AS n,
        |  min(id) AS min_id, max(id) AS max_id
        |FROM k GROUP BY key HAVING count(*) >= 2
        |ORDER BY key""".stripMargin)),

    // X-golden: survivorship capstone — entity clusters collapsed to
    // one golden record each (max balance, id tiebreak); cluster-keyed
    // row_number bounded by block size, singletons pass through as
    // their own golden record. The candidate edges add a
    // sorted-neighborhood band (|Δid| ≤ 3) on top of fuzzyPairs — the
    // classic SNM refinement; without it the synthetic name space
    // chains every record into one cluster and the pick is trivial
    Gate("q_x_golden", (s, dir) => {
      val sup = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_acctbal")
      val edges = graft.operators.Dedup.fuzzyPairs(
          t(s, dir, "supplier"), "s_suppkey", "s_name", maxDist = 1)
        .where(abs(col("id1") - col("id2")) <= 3)
        .select(col("id1"), col("id2")).localCheckpoint()
      val clusters = graft.operators.Dedup.connectedComponents(edges)
      graft.operators.Linkage.goldenRecords(sup, "s_suppkey", clusters,
          Seq(col("s_acctbal").desc))
        .select(col("cluster"), col("s_suppkey"), col("s_name"),
          col("s_acctbal"), col("n_members"))
        .orderBy(col("cluster"))
    },
      // golden records: the entity closure (with the SNM |Δid| ≤ 3 band)
      // + survivorship window
      Sql(() => """WITH RECURSIVE edges AS (
        |  SELECT a.s_suppkey id1, b.s_suppkey id2
        |  FROM supplier a JOIN supplier b
        |    ON a.s_suppkey < b.s_suppkey
        |   AND substring(a.s_name, 1, 1) = substring(b.s_name, 1, 1)
        |   AND abs(length(a.s_name) - length(b.s_name)) <= 1
        |  WHERE levenshtein(a.s_name, b.s_name) <= 1
        |    AND abs(a.s_suppkey - b.s_suppkey) <= 3),
        |sym AS (SELECT id1 a, id2 b FROM edges UNION SELECT id2, id1 FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
        |cl AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster
        |       FROM reach GROUP BY a),
        |asg AS (
        |  SELECT s.s_suppkey, s.s_name, s.s_acctbal,
        |    COALESCE(cl.cluster, s.s_suppkey) AS cluster
        |  FROM supplier s LEFT JOIN cl ON s.s_suppkey = cl.id),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY cluster
        |                       ORDER BY s_acctbal DESC, s_suppkey) AS rn,
        |    count(*) OVER (PARTITION BY cluster) AS n_members
        |  FROM asg)
        |SELECT cluster, s_suppkey, s_name, s_acctbal,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin))
  )
}
