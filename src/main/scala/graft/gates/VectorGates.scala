package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import graft.operators.{Alignment, Pca, ProductQuantization, Similarity}
import Shared._

/** Embedding gates: similarity search, ANN indexes, clustering,
  * quantization, PCA and selection. */
private[graft] object VectorGates {
  // Engine-trained state the fitted gates' twins inline, fitted once per
  // sfDir; gates that share a fit share its instance.
  private val pcaFit = new PerDir[DataFrame, Pca.PcaModel](
    (emb, _) => Pca.fit(emb, "embedding", 64, k = 2))
  private val pqFit =
    new PerDir[DataFrame, (ProductQuantization.PQModel, Array[Double])]((emb, _) => {
      val model = ProductQuantization.train(emb, "vec_id", "embedding", 64, 4, 8, 2)
      val q = emb.orderBy(col("vec_id")).limit(1)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      (model, q)
    })
  private val opqFit = new PerDir[DataFrame, ProductQuantization.OpqModel](
    (base, _) => ProductQuantization.trainOpq(base, "vec_id", "__xs", 16, 4, 8, 2))
  private val procrustesFit = new PerDir[DataFrame, Alignment.ProcrustesModel](
    (paired, _) => Alignment.fitPair(paired))
  private val pipeline5Fit =
    new PerDir[DataFrame, (Alignment.ProcrustesModel, Similarity.Codebook)](
      (paired, dir) => (procrustesFit(paired, dir), Alignment.trainPairCodebook(paired)))
  private val mnnIvfFit = new PerDir[DataFrame, Similarity.Codebook](
    (emb, _) => Similarity.trainCodebook(emb, "embedding", 8))
  private val pipeline3Fit = new PerDir[DataFrame, (Pca.PcaModel, Similarity.Codebook)](
    (emb, _) => Similarity.fitPcaIvf(emb))
  private val pipeline3AutoFit = new PerDir[DataFrame, (Pca.PcaModel, Similarity.Codebook)](
    (emb, _) => Similarity.fitPcaIvf(emb, kIvf = 0))

  /** The OPQ gates' corpus: the first 16 embedding dims as `__xs`. */
  private def opqBase(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), expr("slice(embedding, 1, 16)").as("__xs"))

  // empty-marker columns several fitted gates share
  private val adistCols = Seq("vec_id" -> "BIGINT", "adist" -> "DOUBLE")
  private val pcaCols = Seq("vec_id" -> "BIGINT", "pc1" -> "DOUBLE", "pc2" -> "DOUBLE")
  private val mnnCols =
    Seq("cid" -> "INTEGER", "id1" -> "BIGINT", "id2" -> "BIGINT", "cos" -> "DOUBLE")

  val gates: Seq[Gate] = Seq(
    // X-sim: brute-force cosine top-k against the vec_id=0 embedding —
    // the exact ANN baseline (fused native cosine expression)
    Gate("q_x_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.operators.Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
    },
      Sql(() => """SELECT vec_id,
        |       ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        |FROM embeddings ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    // X-negatives: hard-negative mining for contrastive training —
    // bounded broadcast anchor batch × one linear corpus scan
    // (label-mismatch filtered map-side), per-anchor top-3 window
    Gate("q_x_hard_negatives", (s, dir) =>
      graft.operators.Similarity.hardNegatives(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label",
          col("vec_id") < 10, k = 3)
        .orderBy(col("qid"), col("rank")),
      // hard negatives: same anchor batch, cross-label scoring, and
      // (cos desc, neg) tie rule
      Sql(() => """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv, label AS qlab
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.qid, e.vec_id AS neg,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qv AS DOUBLE[])), 6) AS cos
        |  FROM embeddings e JOIN q ON e.label <> q.qlab)
        |SELECT qid, CAST(rn AS INTEGER) AS rank, neg, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, neg) AS rn
        |  FROM s)
        |WHERE rn <= 3 ORDER BY qid, rank""".stripMargin)),

    // X-pq: product quantization — the memory side of billion-scale
    // ANN (IVF prunes which vectors a probe touches; PQ shrinks what
    // each probe costs to m byte codes + table lookups). Subspace
    // codebooks train on the ALREADY-ORACLED k-means loop over vector
    // slices; encode is the fused nearest-centroid per slice
    // (map-side); ADC distance folds m literal-table lookups and plans
    // as TakeOrderedAndProject. The generated oracle re-encodes every
    // vector independently from the inlined codebooks.
    Gate.fitted("q_x_pq", adistCols: _*)((s, dir) => {
      val pq = ProductQuantization
      val emb = t(s, dir, "embeddings")
      val (model, qv) = pqFit(emb, dir)
      (model, qv) -> pq.adcTopK(pq.encode(emb, "vec_id", "embedding", model),
        "vec_id", "codes", model, qv, 10)
    })(
      // product quantization: generated twin re-encodes from the inlined
      // codebooks (same distance fold + tie rule as the fused expression)
      // and re-ranks with the same literal lookup chain
      { case (model, qv) => ProductQuantization.adcOracleSql(
        "embeddings", "vec_id", "embedding", model, qv, 10) }),

    // X-opq: OPTIMIZED product quantization (Ge et al., CVPR'13, one
    // non-parametric alternation) — rotate the space (orthogonal
    // Procrustes against the raw-PQ reconstruction) so the same m×k
    // code budget cuts more error. Composition of three already-gated
    // pieces: the oracled k-means loop, the dim² Procrustes moment fit,
    // the fused nearest-centroid encode. Output: mean squared
    // reconstruction error under raw PQ vs OPQ (the training objective)
    // — the oracle independently re-encodes every vector against BOTH
    // inlined codebooks and re-derives both distortions.
    Gate.fitted("q_x_opq", "n" -> "BIGINT", "distortion_raw" -> "DOUBLE",
        "distortion_opq" -> "DOUBLE", "orth_err" -> "DOUBLE")((s, dir) => {
      val base = opqBase(t(s, dir, "embeddings"))
      val model = opqFit(base, dir)
      model -> ProductQuantization.opqDistortionReport(base, "__xs", model)
    })(
      // OPQ: rotation + both codebooks inlined from the fitted model;
      // identical assignment tie rules and left-assoc distortion folds
      ProductQuantization.opqOracleSql(_)),

    // X-opq-serve: the OPQ SERVE shape an ANN user actually runs —
    // rotate the query (driver, model-sized), rotate+encode the corpus
    // map-side (fused argmins over rotated slices), ADC top-k against
    // the OPQ codebooks via the rotated query's literal lookup tables
    // (TakeOrderedAndProject bounded heap; zero pre-top-k shuffles).
    // Same per-dir trained model as q_x_opq (shared fit — whichever gate
    // runs first trains), probing the first-16 slice of the vec_id=5
    // fixture vector the codebooks were trained over; the oracle
    // re-derives rotation → assignment → ADC fold end to end.
    Gate.fitted("q_x_opq_serve", adistCols: _*)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = opqBase(emb)
      val model = opqFit(base, dir)
      val q = emb.filter(col("vec_id") === 5L)
        .select(expr("slice(embedding, 1, 16)"))
        .head().getSeq[Float](0).toArray
      (model, ProductQuantization.rotateQuery(model.rotation, q)) ->
        ProductQuantization.opqServeTopK(base, "vec_id", "__xs", model, q, 10)
    })(
      // OPQ serve: rotation, OPQ codebooks and the ROTATED query's ADC
      // lookup tables inlined from the fitted state; the twin re-rotates
      // every corpus vector, re-assigns with the shared (d, cid) tie rule
      // and re-ranks with the same literal lookup chain
      { case (model, rq) => ProductQuantization.opqServeOracleSql(model, rq) }),

    // X-sim: hyperplane-LSH ANN top-k, gated through its recall
    // contract (SimilaritySpec additionally asserts recall on planted
    // fixtures)
    Gate("q_x_lsh_topk", (s, dir) => {
      // ERROR-CONTRACT oracled (the HLL within_bound pattern): the
      // output rows are the EXACT brute-force top-10 (fully DuckDB-
      // verified values) carrying the ANN contract panel — the LSH
      // probe returned exactly k rows AND recall@10 >= 0.8 — which the
      // oracle asserts as literals. The approximation stays engine-
      // side; its CONTRACT is hash-gated.
      val sim = graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val brute = sim.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      val ann = sim.lshTopK(emb, "vec_id", "embedding", q, 10)
      annContractGate(brute, ann, minHits = 8)
    },
      // ANN error-contract gates: exact brute-force top-10 (DuckDB
      // recomputes the values) + the contract panel — the probe returned
      // exactly k rows AND recall@10 >= 0.8 — asserted as literals. The
      // approximate result set stays engine-side; its CONTRACT is what's
      // hash-gated (the q_a_hll within_bound pattern).
      Sql(() => annContractOracleSql)),

    // X-sim: IVF ANN top-k against a PRE-BUILT index (kmeans quantizer +
    // cid-partitioned lists, built once offline — see [[ivfIndex]]): the
    // gated query measures the per-query probe only — broadcast-centroid
    // argmax, then a partition-PRUNED scan of the nprobe lists — gated
    // through its recall contract (SimilaritySpec asserts recall too)
    Gate("q_x_ivf_topk", (s, dir) => {
      // ERROR-CONTRACT oracled like q_x_lsh_topk: exact brute-force
      // top-10 values + (probe returned k rows, recall@10 >= 0.8)
      // asserted against literals; the probe itself stays the
      // partition-pruned nprobe-list scan.
      val sim = graft.operators.Similarity
      val idx = ivfIndex(s, dir)
      import s.implicits._
      val centroids = idx.centroids.toDF("cid", "cvec")
        .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
      val assigned = s.read.parquet(idx.listsDir)
      val ann = sim.ivfTopK(assigned, "vec_id", "embedding", centroids,
        idx.query, 10, nprobe = 3)
      val brute = sim.bruteForceTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", idx.query, 10)
      annContractGate(brute, ann, minHits = 8)
    },
      Sql(() => annContractOracleSql)),

    // X-sim: IVF recall-vs-cost curve — recall@10 and candidate rows
    // scanned at nprobe ∈ {1,2,4,8}, the panel a deployment tunes nprobe
    // with. The quantizer is a DETERMINISTIC literal panel (8 corpus
    // vectors), so unlike the trained-quantizer gates the recall VALUES
    // themselves are DuckDB-recomputable end to end (round-6 argmax
    // assignment, probe order, per-nprobe top-k) — a fully hash-oracled
    // recall curve, not an error contract.
    Gate("q_x_ivf_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centIds = Seq(3L, 63L, 123L, 183L, 243L, 303L, 363L, 423L)
      val cents = emb.filter(col("vec_id").isin(centIds: _*))
        .orderBy(col("vec_id")).select(col("embedding"))
        .collect().map(_.getSeq[Float](0).toArray).toSeq
      val query = emb.filter(col("vec_id") === 1L)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.operators.Similarity.ivfRecallCurve(
        emb, "vec_id", "embedding", cents, query, k = 10, Seq(1, 2, 4, 8))
    },
      // IVF recall-vs-cost curve: FULLY recomputed — the deterministic
      // 8-vector quantizer panel lets DuckDB replay round-6 argmax
      // assignment (ties → low cid), probe order, per-nprobe top-10 and
      // recall@10 exactly; the recall values hash, not just their floor
      Sql(() => """WITH cents AS MATERIALIZED (
        |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
        |         CAST(embedding AS DOUBLE[]) AS cvec
        |  FROM embeddings WHERE vec_id IN (3,63,123,183,243,303,363,423)
        |), qv AS MATERIALIZED (
        |  SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 1
        |), assigned AS MATERIALIZED (
        |  SELECT id, qcos, cid FROM (
        |    SELECT e.vec_id AS id,
        |      ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q), 6) AS qcos,
        |      c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC,
        |                 c.cid) AS rn
        |    FROM embeddings e CROSS JOIN cents c CROSS JOIN qv q
        |  ) WHERE rn = 1
        |), probeorder AS MATERIALIZED (
        |  SELECT c.cid, ROW_NUMBER() OVER (
        |    ORDER BY ROUND(list_cosine_similarity(c.cvec, q.q), 6) DESC, c.cid) AS proberank
        |  FROM cents c CROSS JOIN qv q
        |), brute AS MATERIALIZED (
        |  SELECT id FROM assigned ORDER BY qcos DESC, id LIMIT 10
        |), nps AS (SELECT * FROM (VALUES (1),(2),(4),(8)) v(nprobe)),
        |topk AS MATERIALIZED (
        |  SELECT np.nprobe, a.id,
        |    ROW_NUMBER() OVER (PARTITION BY np.nprobe ORDER BY a.qcos DESC, a.id) AS rn
        |  FROM nps np
        |  JOIN probeorder p ON p.proberank <= np.nprobe
        |  JOIN assigned a ON a.cid = p.cid
        |), hitsq AS (
        |  SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS hits FROM topk t
        |  WHERE t.rn <= 10 AND t.id IN (SELECT id FROM brute) GROUP BY t.nprobe
        |), costq AS (
        |  SELECT np.nprobe, CAST(COUNT(*) AS BIGINT) AS cand_n FROM nps np
        |  JOIN probeorder p ON p.proberank <= np.nprobe
        |  JOIN assigned a ON a.cid = p.cid GROUP BY np.nprobe
        |)
        |SELECT np.nprobe, costq.cand_n, COALESCE(hitsq.hits, 0) AS hits,
        |  CAST(COALESCE(hitsq.hits, 0) AS DOUBLE) / 10.0 AS recall
        |FROM nps np JOIN costq USING (nprobe) LEFT JOIN hitsq USING (nprobe)
        |ORDER BY np.nprobe""".stripMargin)),

    // X-sim: the recall curve over a QUERY PANEL — mean recall@10 per
    // nprobe over 8 queries (a single query's curve is one draw; tuning
    // reads the panel mean). One query-independent map-side assignment
    // pass + the broadcast-panel scoring crossJoin inside the same
    // linear scan; salted per-(query, list) top-k; mean recall is an
    // exact integer ratio — fully hash-oracled like the single curve.
    Gate("q_x_ivf_recall_panel", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centIds = Seq(3L, 63L, 123L, 183L, 243L, 303L, 363L, 423L)
      val cents = emb.filter(col("vec_id").isin(centIds: _*))
        .orderBy(col("vec_id")).select(col("embedding"))
        .collect().map(_.getSeq[Float](0).toArray).toSeq
      val qIds = Seq(1L, 41L, 81L, 121L, 161L, 201L, 241L, 281L)
      val queries = emb.filter(col("vec_id").isin(qIds: _*))
        .select(col("vec_id"), col("embedding"))
      graft.operators.Similarity.ivfRecallCurveBatch(
        emb, "vec_id", "embedding", cents, queries, "vec_id", "embedding",
        k = 10, Seq(1, 2, 4, 8))
    },
      // IVF recall panel: the multi-query twin — one query-independent
      // assignment, per-query probe order and top-10 re-ranked PARTITION
      // BY qid, mean recall as the exact hits/(8·10) ratio
      Sql(() => """WITH cents AS MATERIALIZED (
        |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
        |         CAST(embedding AS DOUBLE[]) AS cvec
        |  FROM embeddings WHERE vec_id IN (3,63,123,183,243,303,363,423)
        |), qs AS MATERIALIZED (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q
        |  FROM embeddings WHERE vec_id IN (1,41,81,121,161,201,241,281)
        |), assigned AS MATERIALIZED (
        |  SELECT id, cid FROM (
        |    SELECT e.vec_id AS id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC,
        |                 c.cid) AS rn
        |    FROM embeddings e CROSS JOIN cents c
        |  ) WHERE rn = 1
        |), scored AS MATERIALIZED (
        |  SELECT q.qid, e.vec_id AS id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q), 6) AS qcos,
        |    a.cid
        |  FROM embeddings e JOIN assigned a ON a.id = e.vec_id
        |  CROSS JOIN qs q
        |), probeorder AS MATERIALIZED (
        |  SELECT q.qid, c.cid, ROW_NUMBER() OVER (PARTITION BY q.qid
        |    ORDER BY ROUND(list_cosine_similarity(c.cvec, q.q), 6) DESC, c.cid) AS proberank
        |  FROM cents c CROSS JOIN qs q
        |), brute AS MATERIALIZED (
        |  SELECT qid, id FROM (
        |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY qcos DESC, id) AS rn FROM scored) WHERE rn <= 10
        |), nps AS (SELECT * FROM (VALUES (1),(2),(4),(8)) v(nprobe)),
        |topk AS MATERIALIZED (
        |  SELECT np.nprobe, s.qid, s.id,
        |    ROW_NUMBER() OVER (PARTITION BY np.nprobe, s.qid
        |      ORDER BY s.qcos DESC, s.id) AS rn
        |  FROM nps np
        |  JOIN probeorder p ON p.proberank <= np.nprobe
        |  JOIN scored s ON s.cid = p.cid AND s.qid = p.qid
        |), hitsq AS (
        |  SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS hits_total FROM topk t
        |  WHERE t.rn <= 10
        |    AND EXISTS (SELECT 1 FROM brute b WHERE b.qid = t.qid AND b.id = t.id)
        |  GROUP BY t.nprobe
        |), costq AS (
        |  SELECT np.nprobe, CAST(COUNT(*) AS BIGINT) AS cand_total FROM nps np
        |  JOIN probeorder p ON p.proberank <= np.nprobe
        |  JOIN assigned a ON a.cid = p.cid GROUP BY np.nprobe
        |)
        |SELECT np.nprobe, CAST(8 AS BIGINT) AS n_queries, costq.cand_total,
        |  COALESCE(hitsq.hits_total, 0) AS hits_total,
        |  CAST(COALESCE(hitsq.hits_total, 0) AS DOUBLE) / 80.0 AS mean_recall
        |FROM nps np JOIN costq USING (nprobe) LEFT JOIN hitsq USING (nprobe)
        |ORDER BY np.nprobe""".stripMargin)),

    // X-cluster: relational Lloyd's k-means over the embedding corpus —
    // driver-resident centroids fold into a map-side codegen assignment
    // (no shuffle to assign), the update is one (cid, pos) keyed shuffle
    // with decimal sums, per-iteration round-12 makes every round
    // bit-identical cross-engine. Fully oracled through the generated
    // unrolled-CTE twin (the third iterative generated oracle, after
    // BPE and PageRank). Output: cluster sizes + decimal-exact centroid
    // fingerprints.
    Gate("q_x_kmeans", (s, dir) => {
      val km = graft.operators.Clustering.kMeans(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, dim = 64, iters = 3)
      val sizes = km.assignments.groupBy("cid").agg(count(lit(1)).as("n"))
      val fp = km.centroids.groupBy("cid")
        .agg(round(sum(col("c").cast("decimal(38,12)")).cast("double"), 6).as("c_sum"))
      sizes.join(fp, "cid").orderBy(col("cid"))
    },
      // k-means: the same loop unrolled as generated CTE stages — identical
      // init, left-fold distances, decimal-mean updates, carry-forward
      Sql(() => graft.operators.Clustering.sizesOracleSql(
        "embeddings", "vec_id", "embedding", 8, 64, 3))),

    // X-cluster: the per-vector assignments under the final centroids —
    // the membership side of the same k-means, hash-gated on a slice
    Gate("q_x_kmeans_assign", (s, dir) => {
      graft.operators.Clustering.kMeans(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, dim = 64, iters = 3)
        .assignments.filter(col("vec_id") < 50).orderBy(col("vec_id"))
    },
      Sql(() => graft.operators.Clustering.assignOracleSql(
        "embeddings", "vec_id", "embedding", 8, 64, 3, "vid < 50"))),

    // X-cluster: SemDeDup-style semantic dedup — k-means clusters scope
    // the pairwise cosine step (quadratic in cluster size, never in the
    // corpus), dropped docs point at their smallest smaller-id near-dup.
    // The fixture corpus has no natural near-dups (max random cos≈0.45),
    // so exact-copy vectors are planted IN-PLAN under fresh ids — both
    // engines construct them identically, copies provably land in their
    // original's cluster, and the gate output is the planted set.
    Gate("q_x_semdedup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") < 2000).select("vec_id", "embedding")
        .unionByName(e.filter(col("vec_id") < 100)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding")))
      graft.operators.Clustering.semanticDedup(
          corpus, "vec_id", "embedding", k = 16, dim = 64, iters = 2, minCos = 0.9)
        .orderBy(col("vec_id"))
    },
      // semantic dedup: the same kMeans CTE chain over the same planted
      // union, within-cluster pairs, three cosine folds (no cluster here
      // approaches the default maxBlock=4096, so the uncapped twin still
      // describes the engine exactly — the capped path is q_x_semdedup_capped)
      Sql(() => graft.operators.Clustering.semanticDedupOracleSql(
        """(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000
          | UNION ALL
          | SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 100) plant"""
          .stripMargin,
        "vec_id", "embedding", 16, 64, 2, 0.9))),

    // X-cluster: semantic dedup under a DELIBERATELY tiny block cap —
    // the refinement path itself, fully oracled: a 120-copy family
    // planted in-plan blows its k-means cluster past maxBlock=16, the
    // hyperplane sub-split cannot separate exact copies (identical
    // signs by construction), so the family lands in an OVERFLOW
    // sub-bucket and is recalled through the sorted-neighborhood chain
    // (copies share the projection, sort by id, pair with the next 8) —
    // candidates stay linear in block size, never block². The twin
    // replicates census, bit count, sub-bucket signs, and the window.
    Gate("q_x_semdedup_capped", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") < 300).select("vec_id", "embedding")
        .unionByName(e.filter(col("vec_id") === 7)
          .select(explode(sequence(lit(0L), lit(119L))).as("__i"),
            col("embedding"))
          .select((col("__i") + lit(1000000L)).as("vec_id"),
            col("embedding")))
      graft.operators.Clustering.semanticDedup(
          corpus, "vec_id", "embedding", k = 4, dim = 64, iters = 1,
          minCos = 0.9, maxBlock = 16, overflowWindow = 8)
        .orderBy(col("vec_id"))
    },
      // capped semantic dedup: the generated refinement twin — census,
      // integer-exact bit count, identical plane-sign sub-buckets,
      // overflow sorted-neighborhood window
      Sql(() => graft.operators.Clustering.semanticDedupCappedOracleSql(
        """(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300
          | UNION ALL
          | SELECT 1000000 + r.range AS vec_id, embedding
          | FROM embeddings, range(0, 120) r WHERE vec_id = 7) plant"""
          .stripMargin,
        "vec_id", "embedding", 4, 64, 1, 0.9, 16, 8))),

    // X-tfidf: sparse text similarity via the inverted-index join — only
    // documents sharing a surviving term ever meet (term-partitioned
    // shuffle), vs the all-pairs cross product; df cap bounds the
    // candidate fan-out. Decimal-accumulated dots/norms keep the cosine
    // aggregation-order-independent, so the oracle hash-matches.
    Gate("q_x_tfidf_pairs", (s, dir) =>
      graft.operators.SparseSimilarity.tfidfPairs(
          tw(s, dir, "documents"), "doc_id", "text",
          maxDf = 50L, minCos = 0.30)
        .orderBy(col("id1"), col("id2")),
      // tf-idf pairs: same inverted-index formulation — whitespace tokens,
      // idf ROUND(ln(n/df),6) (libm parity), df cap, DECIMAL-accumulated
      // dots and norms (order-independent), cosine ROUND(,6); the filter
      // compares the ROUNDED value in both engines so the threshold can
      // never flip on an ulp
      Sql(() => """WITH tf AS (
        |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |        FROM documents)
        |  GROUP BY 1, 2),
        |df AS (
        |  SELECT word, count(*) AS df FROM tf
        |  GROUP BY 1 HAVING count(*) <= 50),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |w AS (
        |  SELECT tf.doc_id, tf.word,
        |         tf.tf * ROUND(ln(n.n_docs / df.df), 6) AS w
        |  FROM tf JOIN df USING (word) CROSS JOIN n),
        |nr AS (
        |  SELECT doc_id,
        |         sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        |  FROM w GROUP BY 1),
        |dotp AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |         CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,12))) AS DOUBLE) AS dot
        |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, ROUND(dot / (x.nrm * y.nrm), 6) AS cos
        |FROM dotp JOIN nr x ON x.doc_id = id1 JOIN nr y ON y.doc_id = id2
        |WHERE ROUND(dot / (x.nrm * y.nrm), 6) >= 0.30
        |ORDER BY id1, id2""".stripMargin)),

    // X-tfidf-clusters: second clustering capstone — connected components
    // over the TF-IDF cosine edge set (vs q_x_dup_clusters' MinHash
    // edges): inverted-index pair generation feeds the iterative
    // min-label propagation; the oracle closes the same edge set with a
    // recursive CTE. Different edge semantics, same scale shape: no
    // cross join anywhere, edges and labels shuffle by id.
    Gate("q_x_tfidf_clusters", (s, dir) => {
      val edges = graft.operators.SparseSimilarity.tfidfPairs(
          tw(s, dir, "documents"), "doc_id", "text",
          maxDf = 50L, minCos = 0.95)
        .select("id1", "id2")
      graft.operators.Dedup.connectedComponents(edges)
        .orderBy(col("id"))
    },
      // tfidf clusters: the tf-idf edge set (same formulation as
      // q_x_tfidf_pairs at cos >= 0.95) closed with a recursive CTE —
      // min reachable id per node, like the q_x_dup_clusters oracle
      Sql(() => """WITH RECURSIVE tf AS (
        |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dfx AS (
        |  SELECT word, count(*) AS df FROM tf
        |  GROUP BY 1 HAVING count(*) <= 50),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |w AS (
        |  SELECT tf.doc_id, tf.word,
        |         tf.tf * ROUND(ln(n.n_docs / dfx.df), 6) AS w
        |  FROM tf JOIN dfx USING (word) CROSS JOIN n),
        |nr AS (
        |  SELECT doc_id,
        |         sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        |  FROM w GROUP BY 1),
        |dotp AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |         CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,12))) AS DOUBLE) AS dot
        |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT id1, id2
        |  FROM dotp JOIN nr x ON x.doc_id = id1 JOIN nr y ON y.doc_id = id2
        |  WHERE ROUND(dot / (x.nrm * y.nrm), 6) >= 0.95),
        |sym AS (SELECT id1 a, id2 b FROM edges UNION SELECT id2, id1 FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a)
        |SELECT a AS id, LEAST(a, MIN(b)) AS cluster
        |FROM reach GROUP BY a ORDER BY id""".stripMargin)),

    // X-jl: Johnson-Lindenstrauss random projection 64 → 8 dims — the
    // distance-preserving shrink before ANN/clustering and an 8× vector
    // storage cut; the md5-derived ±1 matrix rides as a codegen
    // reference object (never shuffled), each row projects map-side
    // through ONE fused JlProject pass inside whole-stage codegen (the
    // HOF form was CodegenFallback — kept only as the spec twin),
    // decimal-accumulated so the gate hashes exactly.
    Gate("q_x_jl_project", (s, dir) =>
      graft.operators.Projection.randomProject(
          t(s, dir, "embeddings").where(col("vec_id") % 7 === 0)
            .select("vec_id", "embedding"),
          "embedding", dim = 64, outDim = 8, salt = "jl")
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "v")))
        .orderBy(col("vec_id"), col("j")),
      // JL projection: generated twin — the sign VALUES inline from the
      // same md5 computation, float→double widen exact, ±1 multiply
      // exact, DECIMAL accumulation
      Sql(() => graft.operators.Projection.oracleSql(
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0",
      dim = 64, outDim = 8, salt = "jl"))),

    // X-quantize: per-vector symmetric int8 embedding quantization — 4×
    // storage shrink for a 100 TB vector corpus, pure map-side array
    // math (no UDF, no shuffle). The gate pins every code via the
    // integer code-sum plus the double reconstruction error. NOTE: this
    // gate deliberately exercises the HOF (transform/aggregate) twin —
    // those are CodegenFallback (interpreted) in Spark, fine at fixture
    // scale; data-sized paths use Quantization.quantizeFused, whose
    // byte parity with this twin is spec-gated (QuantizeFusedSpec).
    Gate("q_x_quantized", (s, dir) => {
      val qz = graft.operators.Quantization
      t(s, dir, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"),
          qz.symmetricScale(col("embedding")).as("__s"),
          col("embedding"))
        .select(col("vec_id"),
          round(col("__s"), 9).as("scale"),
          size(col("embedding")).as("n_dims"),
          aggregate(qz.quantize(col("embedding"), col("__s")), lit(0L),
            (a, q) => a + q.cast("long")).as("code_sum"),
          round(qz.reconstructionMse(col("embedding"), col("__s")), 6).as("mse"))
        .orderBy(col("vec_id"))
    },
      // quantization: identical per-vector scheme — scale from an ordered
      // max-abs fold, codes checked exactly through their integer sum,
      // reconstruction error in ordered double folds
      Sql(() => """WITH q AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings WHERE vec_id < 200)
        |SELECT vec_id,
        |  ROUND(scale, 9) AS scale,
        |  CAST(len(v) AS INTEGER) AS n_dims,
        |  CAST(list_sum(list_transform(v, x ->
        |    CASE WHEN scale > 0 THEN CAST(round(x / scale) AS BIGINT)
        |         ELSE 0 END)) AS BIGINT) AS code_sum,
        |  ROUND(list_sum(list_transform(v, x ->
        |    (x - (CASE WHEN scale > 0 THEN round(x / scale) ELSE 0 END) * scale)
        |    * (x - (CASE WHEN scale > 0 THEN round(x / scale) ELSE 0 END) * scale)))
        |    / len(v), 6) AS mse
        |FROM q ORDER BY vec_id""".stripMargin)),

    // X-centroids: per-group embedding centroids — the element-wise mean
    // by (group, dimension) keyed shuffle (cluster representatives / the
    // IVF quantizer update); joined to documents for a language grouping
    Gate("q_x_centroids", (s, dir) => {
      val withLang = t(s, dir, "embeddings")
        .join(t(s, dir, "documents").select(col("doc_id").as("vec_id"),
          col("lang")), "vec_id")
      graft.operators.Similarity.groupCentroids(withLang, "lang", "embedding")
        .filter(col("pos") < 8) // gate keeps the first 8 dims per group
        .orderBy(col("lang"), col("pos"))
    },
      // centroids: zipped unnest + generate_subscripts (1-based → pos-1),
      // identical decimal-mean formulation
      Sql(() => """WITH ex AS (
        |  SELECT d.lang,
        |    generate_subscripts(e.embedding, 1) - 1 AS pos,
        |    unnest(e.embedding)::DOUBLE AS v
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id)
        |SELECT lang, CAST(pos AS INTEGER) AS pos,
        |  ROUND(CAST(SUM(CAST(v AS DECIMAL(38,9))) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE), 6) AS c
        |FROM ex WHERE pos < 8
        |GROUP BY lang, pos ORDER BY lang, pos""".stripMargin)),

    // X-ndcg: retrieval NDCG@10 with same-label relevance — bounded
    // broadcast query batch, pre-rounded discount literals (no runtime
    // log), label populations broadcast for the ideal ranking
    Gate("q_x_ndcg", (s, dir) =>
      graft.operators.Similarity.retrievalNdcg(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label",
          col("vec_id") < 20, k = 10)
        .orderBy(col("qid")),
      // NDCG: generated discount VALUES + identical left-fold idcg
      Sql(() => {
      val disc = graft.operators.Similarity.ndcgDiscounts(10)
      val discVals = disc.zipWithIndex
        .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
      val idcg = disc.zipWithIndex
        .map { case (d, i) =>
          s"CASE WHEN nl - 1 >= ${i + 1} THEN $d ELSE 0.0 END" }
        .reduce((a, b) => s"($a + $b)")
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
         |  FROM embeddings WHERE vec_id < 20),
         |sc AS (
         |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
         |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |      CAST(q.qvec AS DOUBLE[])), 6) AS cos
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rnk
         |  FROM sc),
         |t AS (SELECT * FROM r WHERE rnk <= 10),
         |d(rnk, disc) AS (VALUES $discVals),
         |pq AS (
         |  SELECT qid, qlabel,
         |    CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_rel,
         |    CAST(SUM(CAST(ROUND(CASE WHEN label = qlabel THEN 1.0
         |      ELSE 0.0 END * disc, 9) AS DECIMAL(38,9))) AS DOUBLE) AS dcg
         |  FROM t JOIN d ON t.rnk = d.rnk GROUP BY qid, qlabel),
         |lc AS (SELECT label AS qlabel, count(*) AS nl
         |       FROM embeddings GROUP BY 1)
         |SELECT qid, n_rel,
         |  CASE WHEN $idcg > 0 THEN ROUND(dcg / ($idcg), 6) END AS ndcg
         |FROM pq JOIN lc USING (qlabel) ORDER BY qid""".stripMargin
    })),

    // X-silhouette: centroid-form clustering quality per label — k-row
    // broadcast centroid panel, one scoring pass, one label-keyed mean
    Gate("q_x_silhouette", (s, dir) =>
      graft.operators.Clustering.silhouetteByLabel(
          t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy(col("label")),
      // silhouette: identical centroid panel (REAL[] quantization = the
      // float expression input), scoring, and label means
      Sql(() => """WITH ex AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS pos,
        |    unnest(embedding)::DOUBLE AS v
        |  FROM embeddings),
        |cm AS (
        |  SELECT label, pos,
        |    ROUND(CAST(SUM(CAST(v AS DECIMAL(38,9))) AS DOUBLE)
        |          / CAST(count(*) AS DOUBLE), 6) AS c
        |  FROM ex GROUP BY 1, 2),
        |cl AS (
        |  SELECT label AS clabel,
        |    CAST(CAST(list(c ORDER BY pos) AS REAL[]) AS DOUBLE[]) AS cvec
        |  FROM cm GROUP BY label),
        |sc AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      c.cvec), 6) AS cos
        |  FROM embeddings e CROSS JOIN cl c),
        |ab AS (
        |  SELECT vec_id, label,
        |    MAX(CASE WHEN label = clabel THEN cos END) AS cosown,
        |    MAX(CASE WHEN label <> clabel THEN cos END) AS cosoth
        |  FROM sc GROUP BY 1, 2),
        |s AS (
        |  SELECT label,
        |    CASE WHEN GREATEST(ROUND(1.0 - cosown, 6), ROUND(1.0 - cosoth, 6)) > 0
        |         THEN ROUND((ROUND(1.0 - cosoth, 6) - ROUND(1.0 - cosown, 6))
        |              / GREATEST(ROUND(1.0 - cosown, 6),
        |                         ROUND(1.0 - cosoth, 6)), 6)
        |         ELSE 0.0 END AS sv
        |  FROM ab)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_points,
        |  ROUND(CAST(SUM(CAST(sv AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6)
        |    AS mean_silhouette
        |FROM s GROUP BY label ORDER BY label""".stripMargin)),

    // X-pca: principal components over the embedding corpus — ONE
    // aggregate of 2 145 decimal moment sums (the only data-scale
    // pass), driver Jacobi eigen-solve on the 64×64 covariance
    // (config-sized), then pure map-side projection through the fused
    // dot expression; the oracle is generated at dump time from the
    // fitted components (the q_x_pq memo pattern)
    Gate.fitted("q_x_pca", pcaCols: _*)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pcaFit(emb, dir)
      model -> Pca.project(emb, "vec_id", "embedding", model).orderBy(col("vec_id"))
    })(
      // PCA projection: dump-time twin from the fitted components as
      // DOUBLE[] literals — same dot fold, same offset literal, round-6
      Pca.oracleSql(_)),

    // X-outliers: whitened-subspace outlier mining — Mahalanobis
    // distance in the kept PCA subspace as one map-side pass over the
    // memoized model, top-k via TakeOrderedAndProject
    Gate.fitted("q_x_outliers", "vec_id" -> "BIGINT", "score" -> "DOUBLE")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pcaFit(emb, dir)
      model -> Pca.outlierTopK(emb, model)
    })(
      // outliers: whitened-projection twin as a subquery, same
      // left-fold squared norm and top-k tie rule
      Pca.outlierOracleSql(_)),

    // X-procrustes: embedding-version alignment — one dim² cross-moment
    // aggregate + driver polar-factor solve (Jacobi on MᵀM), then one
    // map-side residual pass scoring the shipped float rotation against
    // a planted signed-permutation target (must recover: mean_cos 1.0,
    // frob_rel 0.0)
    Gate.fitted("q_x_procrustes", "n" -> "BIGINT", "mean_cos" -> "DOUBLE",
        "frob_rel" -> "DOUBLE", "orth_err" -> "DOUBLE")((s, dir) => {
      val paired = Alignment.withPair(t(s, dir, "embeddings"))
      val model = procrustesFit(paired, dir)
      model -> Alignment.procrustesResidual(paired, model)
    })(
      // procrustes: dump-time twin — literal rotation rows, same
      // planted pair, left-fold dots, round-6 cosine, round-9 residuals
      Alignment.procrustesOracleSql(_)),

    // X-pipeline5: serve-while-backfilling capstone — old-space queries
    // align through the fitted rotation, then hit the NEW-space IVF
    // index (fused map-side assign both sides, one block-keyed top-1
    // join); per-centroid census of self-retrieval + mean cosine
    // (the rotation is q_x_procrustes' shared fit)
    Gate.fitted("q_x_pipeline5", "cid" -> "INTEGER", "n_q" -> "BIGINT",
        "n_self" -> "BIGINT", "mean_cos" -> "DOUBLE")((s, dir) => {
      val paired = Alignment.withPair(t(s, dir, "embeddings"))
      val (model, cents) = pipeline5Fit(paired, dir)
      (model, cents) -> Alignment.alignedServe(paired, model, cents)
    })(
      // pipeline5: rotation + codebook as literals; the oracle
      // realigns, re-assigns both sides (crossJoin+window argmax twin),
      // and recomputes the top-1 census independently
      { case (model, cents) => Alignment.alignedServeOracleSql(model, cents) }),

    // X-pca: WHITENED projection — the same memoized fit, each
    // component scaled to unit variance by / sqrt(λ) with λ as an
    // in-plan literal both engines sqrt at execution (IEEE-exact)
    Gate.fitted("q_x_pca_whiten", pcaCols: _*)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pcaFit(emb, dir)
      model -> Pca.projectWhitened(emb, "vec_id", "embedding", model)
        .orderBy(col("vec_id"))
    })(
      // PCA whitening: the same dump-time twin with / sqrt(λ) literals
      Pca.oracleSql(_, whiten = true)),

    // X-mutualnn: mutual-nearest-neighbor pairs within label blocks —
    // the reciprocity-filtered embedding-dedup refinement; quadratic
    // only inside the bounded block (the semanticDedup contract)
    Gate("q_x_mutual_nn", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // the exhaustive oracle twin holds only while no label block
      // refines — enforce the fixture-scale assumption, don't assume it
      graft.operators.Similarity.requireBlocksWithin(
        e, "label", 4096, "q_x_mutual_nn")
      graft.operators.Similarity.mutualNearestPairs(
          e, "vec_id", "embedding", "label", maxBlock = 4096)
        .orderBy(col("id1"))
    },
      // mutual NN: the same block-scoped scoring + top-1 windows + the
      // reciprocity self-join; list_cosine_similarity parity as in
      // q_x_cosine_topk
      Sql(() => """WITH s AS (
        |  SELECT a.label AS label, a.vec_id AS ida, b.vec_id AS idb,
        |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |t1 AS (
        |  SELECT label, ida, idb, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY label, ida
        |                                 ORDER BY cos DESC, idb) AS rn
        |    FROM s)
        |  WHERE rn = 1)
        |SELECT x.label AS label, x.ida AS id1, x.idb AS id2, x.cos AS cos
        |FROM t1 x JOIN t1 y ON x.ida = y.idb AND x.idb = y.ida
        |WHERE x.ida < x.idb
        |ORDER BY id1""".stripMargin)),

    // X-dbscan: block-scoped density clustering — bounded-block
    // candidate pairs, one degree aggregate (core = neighborhood ≥
    // minPts incl. self), min-label components over the core subgraph,
    // min-core-neighbor border assignment; noise stays unclustered
    Gate("q_x_dbscan", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.requireBlocksWithin(
        e, "label", 4096, "q_x_dbscan")
      graft.operators.Clustering.dbscan(
          e, "vec_id", "embedding", "label", minCos = 0.25, minPts = 3,
          dim = 64)
        .orderBy(col("id"))
    },
      // DBSCAN: exhaustive within-label neighbor relation (the
      // requireBlocksWithin contract), identical core rule, recursive-CTE
      // closure of the core subgraph, min-core-neighbor borders
      Sql(() => """WITH RECURSIVE nb AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nbr
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id
        |  WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) >= 0.25),
        |deg AS (SELECT id, count(*) AS d FROM nb GROUP BY id),
        |core AS (SELECT id FROM deg WHERE d + 1 >= 3),
        |ce AS (
        |  SELECT nb.id AS a, nb.nbr AS b FROM nb
        |  WHERE nb.id IN (SELECT id FROM core)
        |    AND nb.nbr IN (SELECT id FROM core)),
        |reach(a, b) AS (
        |  SELECT a, b FROM ce
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN ce s ON r.b = s.a
        |  WHERE s.b <> r.a),
        |ccl AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster
        |        FROM reach GROUP BY a),
        |corecl AS (
        |  SELECT c.id, COALESCE(ccl.cluster, c.id) AS cluster
        |  FROM core c LEFT JOIN ccl ON ccl.id = c.id),
        |border AS (
        |  SELECT nb.id, MIN(corecl.cluster) AS bcl
        |  FROM nb JOIN corecl ON nb.nbr = corecl.id
        |  WHERE nb.id NOT IN (SELECT id FROM core)
        |  GROUP BY nb.id)
        |SELECT e.vec_id AS id,
        |  CASE WHEN corecl.id IS NOT NULL THEN 'core'
        |       WHEN border.id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  CASE WHEN corecl.id IS NOT NULL THEN corecl.cluster
        |       ELSE border.bcl END AS cluster
        |FROM embeddings e
        |LEFT JOIN corecl ON corecl.id = e.vec_id
        |LEFT JOIN border ON border.id = e.vec_id
        |ORDER BY id""".stripMargin)),

    // X-knngraph: per-node top-3 cosine neighbors within label blocks —
    // the adjacency downstream graph curation consumes; bounded-block
    // contract as q_x_mutual_nn (exhaustive twin valid while nothing
    // refines, enforced)
    Gate("q_x_knn_graph", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Similarity.requireBlocksWithin(
        e, "label", 4096, "q_x_knn_graph")
      graft.operators.Similarity.knnGraph(
          e, "vec_id", "embedding", "label", k = 3, maxBlock = 4096,
          dim = 64)
        .orderBy(col("id"), col("rank"))
    },
      // kNN graph: exhaustive within-label top-3 window — same cosine
      // parity and tie rule as the engine's bounded-candidate rank
      Sql(() => """WITH s AS (
        |  SELECT a.label AS label, a.vec_id AS ida, b.vec_id AS idb,
        |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id)
        |SELECT label, ida AS id, rn AS rank, idb AS nbr, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label, ida
        |                               ORDER BY cos DESC, idb) AS rn
        |  FROM s)
        |WHERE rn <= 3
        |ORDER BY id, rank""".stripMargin)),

    // X-kcenter: greedy k-center coreset (farthest-first) over the
    // embedding corpus — diverse-subset selection as k map-side passes
    // + a 1-row argmax each; the oracle recomputes the full selection
    // as an unrolled CTE (no engine state crosses)
    Gate("q_x_kcenter", (s, dir) =>
      graft.operators.Selection.farthestFirst(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .orderBy(col("rank")),
      // greedy k-center / MMR: fully independent unrolled-CTE selection
      // replays (round-6 cosines, IEEE score arithmetic, lowest-id ties)
      Sql(() => graft.operators.Selection.farthestFirstOracleSql(
      "embeddings", "vec_id", "embedding", k = 8))),

    // X-mmr: maximal marginal relevance top-k (λ=0.7) against the
    // lowest-id vector as the query — relevance/diversity trade
    // selection, same k-pass scale shape and unrolled-CTE oracle
    Gate("q_x_mmr", (s, dir) =>
      graft.operators.Selection.mmr(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .orderBy(col("rank")),
      Sql(() => graft.operators.Selection.mmrOracleSql(
      "embeddings", "vec_id", "embedding", k = 8))),

    // X-mmrrerank: RETRIEVE-THEN-RERANK — brute-force top-50 by cosine
    // to the vec-0 query, then MMR (λ=0.7) reranks the candidate set
    // to a diverse top-8. The mmr contract composes cleanly: vec 0 is
    // rank 1 of its own retrieval (cos 1.0) AND the lowest id, so the
    // rerank's query IS the retrieval query and is excluded from the
    // output. The candidate pull is one corpus scan + top-k; the
    // rerank runs on the config-sized candidate set.
    Gate("q_x_mmr_rerank", (s, dir) => {
      val sim = graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // materialize the (50-row) candidate set once: each of the 8
      // rerank rounds runs an action against it
      val cands = sim.bruteForceTopK(emb, "vec_id", "embedding", q, 50)
        .join(emb.select("vec_id", "embedding"), Seq("vec_id"))
        .select("vec_id", "embedding").localCheckpoint()
      graft.operators.Selection.mmr(cands, "vec_id", "embedding", k = 8)
        .orderBy(col("rank"))
    },
      // retrieve-then-rerank: candidate CTE = the same round-6 cosine
      // top-50 (cos DESC, id tiebreak), then the mmr chain over it —
      // the rerank query resolves to vec 0 (lowest candidate id)
      Sql(() => graft.operators.Selection.mmrOracleSql(
      "cands", "vec_id", "embedding", k = 8, ctePrefix =
        """cands AS MATERIALIZED (
          |  SELECT e.vec_id, e.embedding
          |  FROM embeddings e
          |  ORDER BY ROUND(list_cosine_similarity(
          |      CAST(e.embedding AS DOUBLE[]),
          |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
          |       WHERE vec_id = 0)), 6) DESC, e.vec_id
          |  LIMIT 50)""".stripMargin))),

    // X-pipeline4: the ANNOTATION-BUDGET pipeline — near-dup dedup
    // (mutual-NN at cos ≥ 0.99 over label blocks; 20 planted exact
    // copies make the dedup real) with a keep-the-NEWEST survivorship
    // policy (drop id1 of each pair, so the surviving seed shifts and
    // the downstream selection provably differs from q_x_kcenter),
    // then greedy k-center over the survivors. The oracle replays the
    // ENTIRE chain — planted corpus, MNN pairs, drops, survivors,
    // selection — with zero engine state.
    Gate("q_x_pipeline4", (s, dir) => {
      val sim = graft.operators.Similarity
      val e = t(s, dir, "embeddings").select("vec_id", "label", "embedding")
      val corpus = e.unionByName(e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000L).as("vec_id"), col("label"),
          col("embedding")))
      sim.requireBlocksWithin(corpus, "label", 4096, "q_x_pipeline4")
      val drops = sim.mutualNearestPairs(corpus, "vec_id", "embedding",
          "label", maxBlock = 4096, dim = 64)
        .where(col("cos") >= 0.99)
        .select(col("id1").as("vec_id")).distinct()
      // materialize the (tiny) survivor set once: the k selection
      // rounds each run an action, and re-deriving the MNN chain 8×
      // would multiply the dedup cost by k
      val survivors = corpus.join(drops, Seq("vec_id"), "left_anti")
        .select("vec_id", "embedding").localCheckpoint()
      graft.operators.Selection.farthestFirst(
          survivors, "vec_id", "embedding", k = 8)
        .orderBy(col("rank"))
    },
      // dedup → k-center pipeline: the full chain replayed — planted
      // corpus, label-blocked MNN (the q_x_mutual_nn idiom), ≥0.99
      // drops with keep-newest survivorship, then the selection CTEs
      // over the survivor relation
      Sql(() => graft.operators.Selection.farthestFirstOracleSql(
      "survivors", "vec_id", "embedding", k = 8, ctePrefix =
        """base AS MATERIALIZED (
          |  SELECT vec_id, label, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 10000, label, embedding FROM embeddings
          |  WHERE vec_id < 20),
          |sc AS (
          |  SELECT a.label AS label, a.vec_id AS ida, b.vec_id AS idb,
          |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |      CAST(b.embedding AS DOUBLE[])), 6) AS cos
          |  FROM base a JOIN base b
          |    ON a.label = b.label AND a.vec_id <> b.vec_id),
          |t1 AS (
          |  SELECT label, ida, idb, cos FROM (
          |    SELECT *, row_number() OVER (PARTITION BY label, ida
          |                                 ORDER BY cos DESC, idb) AS rn
          |    FROM sc)
          |  WHERE rn = 1),
          |drops AS (
          |  SELECT DISTINCT x.ida AS vec_id
          |  FROM t1 x JOIN t1 y ON x.ida = y.idb AND x.idb = y.ida
          |  WHERE x.ida < x.idb AND x.cos >= 0.99),
          |survivors AS MATERIALIZED (
          |  SELECT vec_id, embedding FROM base
          |  WHERE vec_id NOT IN (SELECT vec_id FROM drops))""".stripMargin))),

    // X-kcentercover: the selection-quality eval closing the k-center
    // loop — per-threshold corpus coverage of the selected 8 centers
    // (one map-side scan, 8 fused cosines, single 1-row aggregate);
    // the oracle re-runs the full selection AND the curve
    Gate("q_x_kcenter_cover", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val centers = graft.operators.Selection.farthestFirstCenters(
        e, "vec_id", "embedding", k = 8)
      graft.operators.Selection.coverageCurve(e, "vec_id", "embedding",
          centers.map(_._2), Seq(0.85, 0.95, 1.0, 1.05))
        .orderBy(col("threshold"))
    },
      Sql(() => graft.operators.Selection.coverageOracleSql(
      "embeddings", "vec_id", "embedding", k = 8,
      thresholds = Seq(0.85, 0.95, 1.0, 1.05)))),

    // X-dedupsweep: dedup operating-point curve — drops per candidate
    // threshold over label-blocked pairs (50 planted exact copies top
    // up the natural ~0.4-0.5 cos band, so the curve has both a
    // near-1.0 shelf and a natural tail); blocks stay under maxBlock
    // so the all-pairs oracle describes the engine exactly
    Gate("q_x_dedup_sweep", (s, dir) => {
      val sim = graft.operators.Similarity
      val e = t(s, dir, "embeddings").select("vec_id", "label", "embedding")
      val corpus = e.unionByName(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 20000L).as("vec_id"), col("label"),
          col("embedding")))
      sim.requireBlocksWithin(corpus, "label", 4096, "q_x_dedup_sweep")
      sim.dedupThresholdCurve(corpus, "vec_id", "embedding", "label",
        thresholds = Seq(0.4, 0.45, 0.5, 0.999), maxBlock = 4096, dim = 64)
    },
      // Dedup threshold sweep: all-pairs within label blocks (the gate
      // guards that nothing refines), same round-6 cosine, thresholds as
      // DOUBLE in both engines
      Sql(() => """WITH c AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 20000, label, embedding FROM embeddings
        |  WHERE vec_id < 50),
        |p AS (
        |  SELECT b.vec_id AS id2,
        |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |  FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id),
        |t AS (SELECT CAST(unnest([0.4, 0.45, 0.5, 0.999]) AS DOUBLE) AS threshold)
        |SELECT t.threshold AS threshold,
        |  CAST(count(DISTINCT p.id2) AS BIGINT) AS n_dropped
        |FROM t JOIN p ON p.cos >= t.threshold
        |GROUP BY t.threshold ORDER BY threshold""".stripMargin)),

    // X-mnnivf: the PRODUCTION MNN composition — quantizer training
    // (MLlib k-means, memoized per dir) → IVF assignment → mutual-NN
    // inside the trained centroid blocks; the oracle is generated at
    // dump time from the trained centroids (the q_x_pq pattern), so
    // the engine-specific training state is itself under the gate
    Gate.fitted("q_x_mnn_ivf", mnnCols: _*)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = mnnIvfFit(emb, dir)
      cents -> Similarity.mnnIvf(emb, cents).orderBy(col("id1"))
    })(
      // MNN over trained IVF blocks: dump-time twin from the trained
      // centroids — same raw-cosine argmax assignment (fold order, ties
      // to lowest cid) and the same block-scoped MNN
      Similarity.mnnIvfOracleSql(_)),

    // X-pipeline3: the FULL production embedding chain — PCA(k=16)
    // reduction (one moment aggregate + map-side projection) → IVF
    // quantizer trained ON the reduced vectors → mutual-NN dedup
    // inside the trained blocks; PCA components and the trained
    // codebook both memoize per dir so the dump-time twin regenerates
    // the whole chain from literals
    Gate.fitted("q_x_pipeline3", mnnCols: _*)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (model, cents) = pipeline3Fit(emb, dir)
      (model, cents) -> Similarity.pcaIvfMnn(emb, model, cents).orderBy(col("id1"))
    })(
      // PCA → trained IVF → block MNN: dump-time twin regenerating the
      // whole chain (projection literals → argmax assignment → MNN)
      { case (model, cents) => Similarity.pcaIvfMnnOracleSql(model, cents) }),

    // X-pipeline3-auto: the PRODUCTION variant of the chain above —
    // the IVF codebook AUTO-SIZES with the corpus (kIvf = 0 →
    // trainCentroids → suggestedNlist: expected cell ~256 rows) so the
    // quadratic block-scoped MNN stays constant-per-cell as the corpus
    // grows. The fixed-8-cell gate above measured 18.0× wall for 10×
    // data at the round-11 sf1 sweep — this path is what a user gets
    // by DEFAULT now, and the sweep gates its ratio. Same dump-time
    // oracle mechanics (the twin inlines the trained codebook).
    Gate.fitted("q_x_pipeline3_auto", mnnCols: _*)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (model, cents) = pipeline3AutoFit(emb, dir)
      (model, cents) -> Similarity.pcaIvfMnn(emb, model, cents).orderBy(col("id1"))
    })(
      // the AUTO-SIZED production path: same dump-time twin, regenerated
      // from the auto variant's fitted model + codebook (the twin
      // inlines whatever centroid count training produced)
      { case (model, cents) => Similarity.pcaIvfMnnOracleSql(model, cents) }),

    // X-pipeline4-auto: the annotation-budget chain on the PRODUCTION
    // defaults — mutualNearestPairs' maxBlock auto-resolves to
    // DefaultMnnBlock (256), the cap the sf1 p4bisect rung priced at
    // 7.1 s where the gate-pinned 4096 exact regime pays 40.5 s
    // (labels are fixed-cardinality, so exact blocks grow with the
    // corpus). NO fixture guard: the oracle is the stage-by-stage
    // BOUNDED twin (census → bits → sub-bucket signs → overflow
    // window → directed top-1 → mutual), which describes the engine
    // exactly whether refinement engages or not — below the cap it
    // degenerates to the all-pairs replay. ScaleBench runs this gate
    // at the 10× fixture where refinement IS engaged.
    Gate("q_x_pipeline4_auto", (s, dir) => {
      val sim = graft.operators.Similarity
      val e = t(s, dir, "embeddings").select("vec_id", "label", "embedding")
      val corpus = e.unionByName(e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000L).as("vec_id"), col("label"),
          col("embedding")))
      val drops = sim.mutualNearestPairs(corpus, "vec_id", "embedding",
          "label", dim = 64)
        .where(col("cos") >= 0.99)
        .select(col("id1").as("vec_id")).distinct()
      val survivors = corpus.join(drops, Seq("vec_id"), "left_anti")
        .select("vec_id", "embedding").localCheckpoint()
      graft.operators.Selection.farthestFirst(
          survivors, "vec_id", "embedding", k = 8)
        .orderBy(col("rank"))
    },
      // dedup → k-center pipeline, BOUNDED MNN: the stage-by-stage
      // refinement twin (census → bits → signs → overflow window →
      // directed top-1 → mutual) — describes the engine exactly at ANY
      // fixture scale; below the cap it degenerates to all-pairs
      Sql(() => pipeline4BoundedOracleSql(
      graft.operators.Similarity.DefaultMnnBlock))),

    // X-pipeline4-capped: the REFINEMENT PATH of the chain above under
    // the gate at fixture scale — a deliberately tiny cap (maxBlock=16
    // over ~65-row label blocks) forces sub-bucketing through the same
    // stages the sf1 auto run takes, so the bounded twin's refinement
    // SQL is verified non-vacuously (the q_x_semdedup_capped recipe
    // extended to mutual-top-1 + k-center). The planted exact copies
    // share every sub-bucket sign, so the dedup stays real under the
    // cap.
    Gate("q_x_pipeline4_capped", (s, dir) => {
      val sim = graft.operators.Similarity
      val e = t(s, dir, "embeddings").select("vec_id", "label", "embedding")
      val corpus = e.unionByName(e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000L).as("vec_id"), col("label"),
          col("embedding")))
      val drops = sim.mutualNearestPairs(corpus, "vec_id", "embedding",
          "label", maxBlock = 16, dim = 64)
        .where(col("cos") >= 0.99)
        .select(col("id1").as("vec_id")).distinct()
      val survivors = corpus.join(drops, Seq("vec_id"), "left_anti")
        .select("vec_id", "embedding").localCheckpoint()
      graft.operators.Selection.farthestFirst(
          survivors, "vec_id", "embedding", k = 8)
        .orderBy(col("rank"))
    },
      // same twin at the deliberately tiny cap — refinement engaged at
      // gate scale, so the bounded SQL stages verify non-vacuously
      Sql(() => pipeline4BoundedOracleSql(16)))
  )
}
