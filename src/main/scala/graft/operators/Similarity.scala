package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.VectorExprs

import scala.util.Random

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column (training-data-pipeline extension surface).
  *
  *  - [[bruteForceTopK]] — the exact baseline: fused-cosine scan + top-k
  *    (TakeOrderedAndProject; no shuffle of the corpus).
  *  - [[hyperplaneBuckets]] / [[lshTopK]] — the scale path: random
  *    hyperplane signs bucket the corpus so each query probes one bucket.
  *  - [[ivfAssign]] / [[ivfTopK]] — IVF-style coarse quantization against a
  *    (small, broadcast) centroid table.
  */
object Similarity {

  /** The vector column as `array<float>` for plane-dot math — identity
    * for a float vector (existing plans unchanged, bit for bit), an
    * EPHEMERAL map-side cast for an integer code vector (int8 scalar
    * quantization, [[graft.operators.Quantization]]). The cast lives
    * only inside the dot expression: the stored / shuffled / checkpointed
    * column keeps its ~4×-smaller integer type, which is the whole point
    * of running the dedup chain on codes (cosine and hyperplane signs are
    * per-vector-scale-invariant, so code-space geometry matches vector-
    * space geometry up to rounding). */
  private def asFloatVec(df: DataFrame, vecCol: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) => col(vecCol)
      case ArrayType(ByteType | ShortType | IntegerType, _) =>
        col(vecCol).cast("array<float>")
      case t => throw new IllegalArgumentException(
        s"$vecCol must be array<float> or an integer code array, got ${t.catalogString}")
    }
  }

  /** Exact cosine top-k of the corpus against one literal query vector.
    * The corpus is scanned once; ordering is (rounded cos desc, id asc) so
    * results are stable under float noise. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = typedLit(query)
    corpus
      .select(col(idCol), round(VectorExprs.cosine(col(vecCol), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic random hyperplanes: `planes` unit-free direction vectors
    * of dimension `dim`, seeded — the driver-side constant that parameterizes
    * the LSH family (broadcast as literals, not data). */
  def randomPlanes(dim: Int, planes: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new Random(seed)
    Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Plane count sized so expected bucket occupancy ≈ `targetBucketSize`:
    * `ceil(log2(n / target))`, floored at 1 and capped at 62 (the bucket id
    * is a signed-long bitmask). Small corpora get few planes — the probe
    * then covers most buckets, which is correct: LSH only pays once buckets
    * are smaller than the corpus. */
  def planesFor(corpusSize: Long, targetBucketSize: Int = 128): Int = {
    val ratio = math.max(1.0, corpusSize.toDouble / math.max(1, targetBucketSize))
    math.min(62, math.max(1, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** Vector dimension read off the first row — ONE small driver job. Kept
    * out of the transforms so callers on a hot path can pass `dim`
    * explicitly (e.g. from their model config) and stay action-free. */
  def inferDim(df: DataFrame, vecCol: String): Int = {
    val head = df.select(size(col(vecCol))).limit(1).collect()
    require(head.nonEmpty, s"cannot infer vector dim of empty corpus ($vecCol)")
    head(0).getInt(0)
  }

  /** Sign-of-dot-product LSH bucket id for every row: bit p of `bucket` is
    * set when dot(vec, plane_p) > 0. Same-direction vectors collide with
    * high probability; the corpus shuffles once on the bucket key at most.
    * `dim` is the embedding dimension (see [[inferDim]] when unknown). */
  def hyperplaneBuckets(df: DataFrame, vecCol: String, planes: Int,
      seed: Long, dim: Int): DataFrame = {
    val ps = randomPlanes(dim, planes, seed)
    val v = asFloatVec(df, vecCol)
    val bucket = ps.zipWithIndex.map { case (p, i) =>
      when(VectorExprs.dot(v, typedLit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("bucket", bucket)
  }

  /** All bucket ids within Hamming distance `maxHamming` of `center`.
    * Size is Σ C(planes, r) — with the default radius 2 that is ≤ 1 954
    * even at the 62-plane cap, small enough for an IN-list (which keeps the
    * probe prunable when the corpus is stored bucketed on `bucket`). */
  def probeSet(center: Long, planes: Int, maxHamming: Int): Seq[Long] =
    (0 to math.min(maxHamming, planes)).flatMap { r =>
      (0 until planes).combinations(r).map(
        _.foldLeft(center)((b, i) => b ^ (1L << i)))
    }

  /** Corpus row-count ESTIMATE from Catalyst plan statistics — never an
    * action. Uses the optimizer's rowCount when available (CBO/ANALYZE),
    * else sizeInBytes over an assumed row width. [[planesFor]] only needs
    * the order of magnitude (it takes a log2), so a crude byte-based
    * estimate moves the plane count by at most ±1 — and [[lshTopK]]'s
    * Hamming-radius probe degrades gracefully under mis-sizing anyway. */
  def estimateRows(df: DataFrame, assumedRowBytes: Long = 512L): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse(
      math.max(1L, stats.sizeInBytes.toLong / math.max(1L, assumedRowBytes)))
  }

  /** ANN top-k through hyperplane buckets. `planes <= 0` (the default)
    * auto-scales the plane count to the corpus size via [[planesFor]],
    * sized off plan STATISTICS ([[estimateRows]]) — plan construction
    * stays action-free (no hidden `count()` job); pass `planes` explicitly
    * when the corpus size is known. The probe scans every bucket within
    * `maxHamming` bit flips of the query's bucket, so recall degrades
    * gracefully instead of collapsing when buckets outnumber the corpus. */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, planes: Int = 0, seed: Long = 42L,
      maxHamming: Int = 2, targetBucketSize: Int = 128): DataFrame = {
    val nPlanes = if (planes > 0) planes
      else planesFor(estimateRows(corpus), targetBucketSize)
    val bucketed = hyperplaneBuckets(corpus, vecCol, nPlanes, seed, query.length)
    val ps = randomPlanes(query.length, nPlanes, seed)
    def dotQ(p: Array[Float]): Double =
      p.iterator.zip(query.iterator).map { case (a, b) => a.toDouble * b.toDouble }.sum
    val qBucket = ps.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
      if (dotQ(p) > 0) acc | (1L << i) else acc
    }
    val probes = probeSet(qBucket, nPlanes, maxHamming)
    bucketed
      .filter(col("bucket").isin(probes: _*))
      .select(col(idCol), round(VectorExprs.cosine(col(vecCol), typedLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF coarse assignment: nearest centroid (max cosine, ties to the
    * lowest id) per row — PURE MAP-SIDE via the fused
    * [[graft.functions.VectorExprs.nearestCentroidCosine]] argmax with
    * the (config-sized) centroid matrix as a codegen reference object.
    * The k-row `centroids` table collapses to driver literals (one
    * k-row collect); nothing about the corpus shuffles. The earlier
    * crossJoin + per-row window argmax pushed corpus×k rows through an
    * exchange — 365 s vs map-side at the 10M×64 embfam rung, and the
    * classic 100 TB non-starter.
    *
    * Tie/fold semantics are bit-identical to the generated oracles'
    * `row_number() OVER (ORDER BY cos DESC, cid) = 1` (strict-greater
    * scan in ascending cid order, CosineSimilarity's left folds).
    * Null embeddings assign a null cid (the window form assigned the
    * lowest cid — an unexercised degenerate; fixtures are non-null).
    *
    * Centroid-id contract: ids must be integral, non-null, and within
    * Int range — they ride through an Int-typed literal panel and the
    * output `cid` column is IntegerType regardless of the input id
    * type. Non-integral (e.g. string) or wider ids fail loudly below;
    * callers needing them should remap to a dense 0..k−1 codebook. */
  /** Standard IVF codebook sizing: enough centroids that the EXPECTED
    * cell holds ~`targetCell` vectors, floored at 1. Block-scoped
    * refinement (mutual-NN, semantic dedup) is QUADRATIC in per-cell
    * density, so a codebook that doesn't grow with the corpus turns a
    * 10× corpus into ~100× refine work (measured at the sf1 scale
    * sweep: q_x_pipeline3 with its gate-pinned 8-cell codebook) — size
    * nlist with the data (√n is the common alternative; targetCell
    * keeps refine cost per cell CONSTANT, which is what the
    * requireBlocksWithin guard actually bounds). Skew note: this sizes
    * the MEAN cell; a hot cell still needs the guard + sub-bucket
    * machinery ([[Clustering.semanticDedupCapped]]). */
  def suggestedNlist(n: Long, targetCell: Int = 256): Int = {
    require(n >= 0, s"corpus size must be non-negative, got $n")
    require(targetCell >= 1, s"targetCell must be >= 1, got $targetCell")
    math.max(1, math.ceil(n.toDouble / targetCell).toLong min Int.MaxValue).toInt
  }

  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centroidId: String = "cid",
      centroidVec: String = "cvec"): DataFrame = {
    val cents = centroids
      .select(col(centroidId).cast("long"), col(centroidVec))
      .collect()
      .map { r =>
        // ids ride through an Int-typed literal panel: refuse ids the
        // panel can't hold instead of wrapping them silently
        require(!r.isNullAt(0), "centroid ids must be integral non-null")
        val id = r.getLong(0)
        require(id >= Int.MinValue && id <= Int.MaxValue,
          s"centroid id $id outside Int range")
        (id.toInt, r.getSeq[Float](1).toArray)
      }
      .sortBy(_._1)
    val idx = VectorExprs.nearestCentroidCosine(col(vecCol), cents.map(_._2))
    // translate the dense argmax index back to the caller's cid values
    // (identity for 0..k-1 codebooks; any INTEGRAL ids within Int
    // range are allowed — anything wider fails the require above)
    corpus.withColumn(centroidId,
      element_at(typedLit(cents.map(_._1).toSeq), idx + 1))
  }

  /** IVF top-k: assign the corpus to centroid lists once (typically cached /
    * written bucketed-by-cid), then a query scans only the `nprobe` closest
    * lists. */
  def ivfTopK(assigned: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, query: Array[Float], k: Int, nprobe: Int = 2,
      centroidId: String = "cid", centroidVec: String = "cvec"): DataFrame = {
    val probeIds = centroids
      .select(col(centroidId), VectorExprs.cosine(col(centroidVec), typedLit(query)).as("c"))
      .orderBy(col("c").desc)
      .limit(nprobe)
      .select(centroidId)
      .collect().map(_.get(0))
    assigned
      .filter(col(centroidId).isin(probeIds.toIndexedSeq: _*))
      .select(col(idCol), round(VectorExprs.cosine(col(vecCol), typedLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Train IVF centroids with distributed k-means over the embedding
    * column: the real construction for [[ivfAssign]]'s coarse quantizer
    * (the tests' "every-100th-vector" centroids are a stand-in). Returns a
    * small (cid, cvec) table — broadcastable config data.
    *
    * `k = 0` (the production DEFAULT since round 12) auto-sizes the
    * codebook via [[suggestedNlist]] so the EXPECTED cell stays at
    * `targetCell` rows as the corpus grows — a fixed k lets per-cell
    * density grow linearly with the corpus, and every block-scoped
    * consumer (mutual-NN, semantic dedup) is QUADRATIC in that density
    * (measured: the gate-pinned 8-cell codebook took q_x_pipeline3 to
    * 18× wall for 10× data at the round-11 scale sweep). Pass an
    * explicit k only when the codebook size is itself the contract
    * (the oracle-reproducible gates do). */
  def trainCentroids(corpus: DataFrame, vecCol: String, k: Int = 0,
      seed: Long = 42L, maxIter: Int = 10, trainCap: Int = 4096,
      targetCell: Int = 256): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    // quantizer training needs a representative sample, not the corpus:
    // cap the training set (seeded Bernoulli) so fit cost is bounded by
    // trainCap regardless of corpus size — the standard IVF construction
    val n = corpus.count()
    // auto mode bounds k by trainCap/4: k-means cannot place more
    // centroids than (a fraction of) its training points, and fit cost
    // is O(sample·k·iters) — past ~262k rows at the defaults, callers
    // raise trainCap together with the corpus (the sample must grow
    // with the codebook; both knobs are one decision)
    val kEff =
      if (k > 0) k
      else math.max(1, math.min(suggestedNlist(n, targetCell), trainCap / 4))
    val sampled =
      if (n <= trainCap) corpus
      else corpus.sample(withReplacement = false, trainCap.toDouble / n, seed)
    val featured = sampled
      .select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(kEff).setSeed(seed).setMaxIter(maxIter)
      .fit(featured)
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray.map(_.toFloat).toSeq) }
      .toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
  }

  // ─────── q_x_mnn_ivf gate: MNN over a TRAINED quantizer's blocks ───────
  //
  // The production composition — trainCentroids → ivfAssign → block →
  // mutualNearestPairs — gated end-to-end. The centroids are engine-
  // trained (MLlib k-means — seeded but engine-specific), so the
  // DuckDB twin is generated at DUMP time from the codebook the gate's
  // last run trained ([[graft.Gate.fitted]]: Verify executes every
  // query before writing oracle_sql.json in the same process).

  /** A trained codebook collected to the driver: (cid, centroid) rows,
    * cid-ascending — the literal state the dump-time twins inline. */
  type Codebook = Array[(Int, Array[Float])]

  /** [[trainCentroids]] collected as a [[Codebook]]. */
  def trainCodebook(df: DataFrame, vecCol: String, k: Int): Codebook =
    trainCentroids(df, vecCol, k).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** The (cid, cvec array<float>) centroid relation of a collected
    * codebook, as [[ivfAssign]] takes it. */
  def codebookFrame(spark: SparkSession, cents: Codebook): DataFrame = {
    import spark.implicits._
    cents.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
  }

  /** Gate-fixture guard: fail fast if any `groupCol` block exceeds
    * `maxBlock` — the exhaustive within-block oracle twins
    * ([[mnnIvfOracleSql]], the q_x_mutual_nn twin) describe the engine
    * only while nothing refines; a grown/skewed fixture must trip THIS
    * check (clear message), not a spurious hash mismatch. One keyed
    * census action, gate-body-only (never on a production path). */
  def requireBlocksWithin(df: DataFrame, groupCol: String, maxBlock: Int,
      what: String): Unit = {
    // max over an EMPTY relation is null — an empty fixture passes
    // trivially (no block can exceed the cap) instead of NPE-ing here
    val head = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head()
    val top = if (head.isNullAt(0)) 0L else head.getLong(0)
    require(top <= maxBlock,
      s"$what: largest '$groupCol' block ($top rows) exceeds maxBlock=" +
        s"$maxBlock — the engine would refine but the exhaustive oracle " +
        "twin would not; shrink the fixture or generate the capped twin")
  }

  /** The q_x_mnn_ivf gate body: assign every row to its nearest
    * centroid of the trained codebook `cents`, then mutual-NN inside
    * the centroid blocks. */
  def mnnIvf(emb: DataFrame, cents: Codebook, dim: Int = 64): DataFrame = {
    val assigned = ivfAssign(emb.select("vec_id", "embedding"),
      "vec_id", "embedding", codebookFrame(emb.sparkSession, cents))
    // explicit exact-regime cap: the dump-time twin replays ALL pairs
    // within cells, valid only while nothing refines (guard above)
    requireBlocksWithin(assigned, "cid", 4096, "q_x_mnn_ivf")
    mutualNearestPairs(assigned, "vec_id", "embedding", "cid",
      maxBlock = 4096, dim = dim)
  }

  /** Generated twin of [[mnnIvf]]: the trained centroids inline as
    * DOUBLE[] literals (Float→Double widens exactly and Double.toString
    * round-trips), assignment replicated as the same raw-cosine argmax
    * (identical fold order, ties to the lowest cid), then the
    * block-scoped MNN with the same round-6 scoring and tie rules. */
  def mnnIvfOracleSql(cents: Codebook, table: String = "embeddings",
      dim: Int = 64): String =
    s"WITH ${ivfMnnSql(table, "embedding", dim, cents)}"

  /** The codebook, the raw-cosine assignment of `from` (vec_id, `vec`)
    * and the exhaustive within-cell mutual-NN: the part both IVF-MNN
    * twins share. */
  private def ivfMnnSql(from: String, vec: String, dim: Int,
      cents: Codebook): String = {
    val tw = VectorTwinSql
    s"""${codebookCte(cents)},
       |${tw.cosineArgmaxCte("asn", from, "vec_id", vec, "ce", dim)},
       |${tw.blockPairsCte("s", "asn", Seq("cid"), "vec_id", vec, dim)},
       |${tw.mutualNnCtes("s", "cid")}
       |SELECT cid, id1, id2, cos FROM mnn
       |ORDER BY id1""".stripMargin
  }

  /** The `ce(cid, cv)` literal CTE of a trained codebook. */
  private[operators] def codebookCte(cents: Codebook): String =
    VectorTwinSql.valuesCte("ce", "cid", "cv",
      cents.toSeq.map { case (c, v) => (c, v.map(_.toDouble)) }, typed = true)

  // ── q_x_pipeline3: PCA(k=16) → trained IVF → block-scoped MNN ──
  //
  // The capstone composition a production embedding pipeline runs: the
  // 64-dim corpus projects onto the top-16 principal components (4×
  // cheaper distance math, better-conditioned clusters), the quantizer
  // trains ON THE REDUCED vectors, and mutual-NN dedup runs inside the
  // trained blocks. Engine-trained state (PCA moments are exact, but
  // the k-means codebook is MLlib-specific) is fitted once per dir so
  // the DuckDB twin regenerates the whole chain from literals at dump
  // time (the q_x_pq / q_x_mnn_ivf pattern).

  /** The q_x_pipeline3 fit: PCA(`kPca`) over `emb`, then the quantizer
    * trained on the projected vectors.
    *
    * `kIvf = 0` is the PRODUCTION path (q_x_pipeline3_auto): the
    * codebook auto-sizes with the corpus ([[trainCentroids]] →
    * [[suggestedNlist]]) so per-cell density — and with it the
    * quadratic block-scoped MNN — stays CONSTANT as the corpus grows.
    * The fixed-kIvf form stays for the original gate (the codebook
    * size is part of that oracle's contract) and for callers pinning a
    * serving-side codebook. */
  def fitPcaIvf(emb: DataFrame, dim: Int = 64, kPca: Int = 16,
      kIvf: Int = 8): (Pca.PcaModel, Codebook) = {
    val m = Pca.fit(emb, "embedding", dim, kPca)
    (m, trainCodebook(Pca.projectedVec(emb, "vec_id", "embedding", m), "pvec", kIvf))
  }

  /** The q_x_pipeline3 gate body over a [[fitPcaIvf]] fit: project →
    * assign → mutual-NN, all map-side / block-bounded (the only
    * data-scale passes are the projection scan and the block-scoped
    * MNN; the fit adds its one moment aggregate). */
  def pcaIvfMnn(emb: DataFrame, model: Pca.PcaModel,
      cents: Codebook): DataFrame = {
    val proj = Pca.projectedVec(emb, "vec_id", "embedding", model)
    val assigned = ivfAssign(proj, "vec_id", "pvec",
      codebookFrame(emb.sparkSession, cents))
    // explicit exact-regime cap: both pipeline3 twins replay all pairs
    // within cells (the auto path keeps cells ~targetCell-sized anyway)
    requireBlocksWithin(assigned, "cid", 4096, "q_x_pipeline3")
    mutualNearestPairs(assigned, "vec_id", "pvec", "cid",
      maxBlock = 4096, dim = model.components.length)
  }

  /** Generated twin of [[pcaIvfMnn]]: the PCA components/offsets
    * AND the trained centroids inline as literals; the projection
    * quantizes through `ROUND(·,6)::REAL` exactly like the engine's
    * array<float> cast, then the same raw-cosine argmax assignment and
    * block-scoped MNN as [[mnnIvfOracleSql]]. */
  def pcaIvfMnnOracleSql(model: Pca.PcaModel, cents: Codebook,
      table: String = "embeddings"): String = {
    val off = model.offsets
    val pcExprs = VectorTwinSql.projection(model.dim, "e.embedding",
        model.components)
      .zipWithIndex.map { case (p, c) => s"ROUND($p - ${off(c)}, 6)" }
      .mkString(",\n      ")
    s"""WITH pr AS (
       |  SELECT e.vec_id,
       |    [$pcExprs]::REAL[] AS pv
       |  FROM $table e),
       |${ivfMnnSql("pr", "pv", model.components.length, cents)}""".stripMargin
  }

  /** Per-group embedding centroids, exploded to (group, pos, c) rows:
    * the element-wise mean of each group's vectors — cluster
    * representatives, per-source embedding profiles, the IVF coarse-
    * quantizer update step. `posexplode` fans the corpus out by (group,
    * dimension), so the aggregate is an ordinary keyed shuffle — no
    * driver-side vector math, no array buffers in the agg (the exploded
    * form also oracles as scalar columns; reassemble with
    * `sort_array(collect_list(struct(pos, c)))` when an array column is
    * needed). Means are DECIMAL-accumulated then rounded to 6 —
    * order-independent and engine-reproducible. */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("pos", "__v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(round(sum(col("__v").cast("decimal(38,9)")).cast("double") /
        count(lit(1)).cast("double"), 6).as("c"))

  // ──────────────── bounded embedding blocks ────────────────
  //
  // The embedding-side twin of Dedup.fuzzyPairs' maxBlock discipline:
  // any operator that goes quadratic INSIDE a block (semantic dedup,
  // mutual-NN refinement) must bound the block size, because with a
  // fixed cluster/label/bucket count the blocks grow linearly with the
  // corpus and the within-block pair volume re-emerges as corpus².

  /** Production block cap for the block-scoped quadratic operators
    * ([[mutualNearestPairs]], [[knnGraph]], [[dedupThresholdCurve]]
    * with `maxBlock = 0`): 256 candidates/row, the [[suggestedNlist]]
    * targetCell twin for block keys the caller CANNOT resize (labels,
    * pinned codebooks). Measured at the sf1 p4bisect rung: the 4096
    * exact regime pays 40.5 s where this cap does the same label-block
    * dedup in 7.1 s (§8.15); past the cap, recall follows the
    * [[refineOversizedBlocks]] sub-bucket contract. */
  val DefaultMnnBlock: Int = 256

  /** `maxBlock = 0` → [[DefaultMnnBlock]]; explicit caps pass through. */
  def resolvedBlockCap(maxBlock: Int): Int =
    if (maxBlock > 0) maxBlock else DefaultMnnBlock

  /** Plane count reserved by [[refineOversizedBlocks]]: 12 sub-bucket
    * planes (splits up to 4096× over budget) + 1 overflow-sort
    * projection plane. */
  val SubBucketPlanes: Int = 13
  /** Fixed seed for the shared sub-bucketing planes — part of the
    * operator definition (generated oracles embed the same literals). */
  val SubBucketSeed: Long = 0xb10c5L

  /** The deterministic hyperplane set [[refineOversizedBlocks]] and its
    * generated oracles share: planes 0..11 split, plane 12 projects. */
  def subBucketPlanes(dim: Int): Array[Array[Float]] =
    randomPlanes(dim, SubBucketPlanes, SubBucketSeed)

  /** Refine (block, id, vec) rows so no unflagged block exceeds
    * `maxBlock`: a block census (aggregate over BLOCK KEYS, never
    * pairs) sizes each block; oversized blocks sub-bucket by the signs
    * of `ceil(log2(ceil(n/maxBlock)))` hyperplane dot products (near-
    * identical vectors share signs, so near-dups stay together — the
    * property a hash split would destroy); a second census flags
    * sub-buckets STILL over budget (exact copies share every sign and
    * are unsplittable by construction) as overflow for
    * [[boundedBlockPairs]]' sorted-neighborhood path.
    *
    * The bit count is integer-exact in any engine (no libm log2):
    * bits = bit-length of ceil(n/maxBlock) − 1. Dot signs compare the
    * ROUND-9 fold (both engines fold left over identical plane
    * literals — the established cosine-parity argument).
    *
    * Output: (`__g` block, `__id`, `__v`, `__sub` sub-bucket,
    * `__ovf`). Null blocks refine as one more block. */
  def refineOversizedBlocks(df: DataFrame, blockCol: String, idCol: String,
      vecCol: String, maxBlock: Int, planes: Array[Array[Float]]): DataFrame = {
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val maxBits = planes.length - 1 // last plane is the overflow projection
    require(maxBits >= 1, s"need at least 2 planes, got ${planes.length}")
    val rows = df.select(col(blockCol).as("__g"), col(idCol).as("__id"),
      col(vecCol).as("__v"))
    // the census is BLOCK-COUNT-sized (buckets ≤ 2^planes, IVF cids = k,
    // labels — never corpus-sized for a sane blocking), so broadcasting
    // it keeps the corpus+vector payload out of BOTH census joins
    // entirely (at the 100M embfam rung the two row shuffles alone
    // exceed the machine's disk)
    val census = rows.groupBy(col("__g").as("__cg"))
      .agg(count(lit(1)).as("__n"))
    // bits = bit-length of (ceil(n/maxBlock) - 1): the smallest b with
    // n <= maxBlock * 2^b — exact integer arithmetic, no log2
    val m = expr(s"(__n + ${maxBlock - 1}) div $maxBlock")
    val bits = when(col("__n") <= maxBlock, lit(0))
      .otherwise(least(lit(maxBits), length(bin(m - lit(1))).cast("int")))
    val withBits = rows
      .join(broadcast(census.select(col("__cg"), bits.as("__bits"))),
        col("__g") <=> col("__cg"))
      .drop("__cg")
    val vf = asFloatVec(rows, "__v") // ephemeral: __v itself stays int8 for code vectors
    val sub = planes.init.zipWithIndex.map { case (p, i) =>
      when(lit(i) < col("__bits") &&
          round(VectorExprs.dot(vf, typedLit(p)), 9) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val withSub = withBits.withColumn("__sub", sub).drop("__bits")
    val census2 = withSub
      .groupBy(col("__g").as("__cg"), col("__sub").as("__cs"))
      .agg(count(lit(1)).as("__n2"))
    // __n2 (the sub-block's row count) rides along: boundedBlockPairs
    // sizes its pair-work salting from it (a block's all-pairs volume
    // is __n2², known here for free from the census join)
    withSub
      .join(broadcast(census2),
        col("__g") <=> col("__cg") && col("__sub") === col("__cs"))
      .select(col("__g"), col("__id"), col("__v"), col("__sub"),
        (col("__n2") > maxBlock).as("__ovf"), col("__n2"))
  }

  /** Undirected candidate pairs over [[refineOversizedBlocks]] output:
    * fitting sub-blocks go all-pairs (bounded by `maxBlock` per key);
    * overflow sub-blocks fall back to SORTED-NEIGHBORHOOD matching —
    * rows sort by (round-9 projection onto the reserved plane, id) and
    * each row pairs with its next `overflowWindow` neighbors, so
    * candidates are linear in block size, never block². Exact copies
    * (the unsplittable case) share the projection and sort by id, so a
    * copy family is recalled as an id-ordered chain.
    *
    * Output: (`__g`, `id1`, `v1`, `id2`, `v2`) with id1 < id2; every
    * unordered pair appears at most once (its block is unique). */
  /** Pair-work slice budget for [[boundedBlockPairs]]: an all-pairs
    * block of n rows is n² join-output work in ONE task, and blocking
    * keys with few distinct values (10 labels at the sf1 rung) strand
    * the cluster at ≤(distinct keys) busy tasks. Blocks whose pair
    * volume exceeds this budget split into ceil(n²/budget) deterministic
    * id-hash slices — the pair MULTISET is unchanged (each unordered
    * pair meets exactly once, at the a-row's slice), only its task
    * placement; blocks under ~1k rows (every IVF cell at the 256
    * default cap) get slice count 1 and pay nothing. */
  val PairSliceTarget: Long = 1000000L

  def boundedBlockPairs(refined: DataFrame, overflowWindow: Int,
      projPlane: Array[Float]): DataFrame = {
    require(overflowWindow >= 1,
      s"overflowWindow must be >= 1, got $overflowWindow")
    val fit = refined.filter(!col("__ovf"))
    // guide §2.5 salting, value-free: slice count from the census count
    // the refinement already carries; a-side rows take ONE slice (a pure
    // function of id), the b-side explodes across all of them, so the
    // join's task count scales with pair volume instead of key count
    val nSlice = least(lit(64L), greatest(lit(1L),
      ceil(col("__n2").cast("double") * col("__n2").cast("double") /
        lit(PairSliceTarget.toDouble)).cast("long"))).cast("int")
    val a = fit.select(col("__g"), col("__sub"),
      pmod(xxhash64(col("__id")), nSlice.cast("long")).cast("int").as("__sl"),
      col("__id").as("id1"), col("__v").as("v1"))
    val b = fit.select(col("__g").as("__gb"), col("__sub").as("__subb"),
      explode(sequence(lit(0), nSlice - 1)).as("__slb"),
      col("__id").as("id2"), col("__v").as("v2"))
    // null-safe on the block key: a null block is one more block (the
    // refineOversizedBlocks contract), so its rows must still pair
    val normal = a.join(b,
        col("__g") <=> col("__gb") && col("__sub") === col("__subb") &&
          col("__sl") === col("__slb"))
      .filter(col("id1") < col("id2"))
      .select(col("__g"), col("id1"), col("v1"), col("id2"), col("v2"))
    val w = Window.partitionBy(col("__g"), col("__sub"))
      .orderBy(col("__proj"), col("__id"))
    val ranked = refined.filter(col("__ovf"))
      .withColumn("__proj",
        round(VectorExprs.dot(asFloatVec(refined, "__v"), typedLit(projPlane)), 9))
      .withColumn("__rn", row_number().over(w))
    val probes = ranked.select(col("__g"), col("__sub"),
      col("__id").as("__idL"), col("__v").as("__vL"),
      explode(sequence(col("__rn") + 1, col("__rn") + overflowWindow))
        .as("__rn"))
    val overflow = probes
      .join(ranked.select(col("__g").as("__gb"), col("__sub").as("__subb"),
        col("__rn").as("__rnb"),
        col("__id").as("__idR"), col("__v").as("__vR")),
        col("__g") <=> col("__gb") && col("__sub") === col("__subb") &&
          col("__rn") === col("__rnb"))
      .select(col("__g"),
        least(col("__idL"), col("__idR")).as("id1"),
        when(col("__idL") < col("__idR"), col("__vL")).otherwise(col("__vR"))
          .as("v1"),
        greatest(col("__idL"), col("__idR")).as("id2"),
        when(col("__idL") < col("__idR"), col("__vR")).otherwise(col("__vL"))
          .as("v2"))
    normal.unionByName(overflow)
  }

  /** Blocking diagnostic (the [[graft.operators.Dedup.fuzzyBlockStats]]
    * twin): the refined block census as (block, sub_bucket, n,
    * overflow) rows, overflow first then largest — which blocks went
    * hot, how they split, and what stayed unsplittable. */
  def embeddingBlockStats(df: DataFrame, blockCol: String, idCol: String,
      vecCol: String, maxBlock: Int, dim: Int): DataFrame =
    refineOversizedBlocks(df, blockCol, idCol, vecCol, maxBlock,
        subBucketPlanes(dim))
      .groupBy(col("__g").as(blockCol), col("__sub").as("sub_bucket"))
      .agg(count(lit(1)).as("n"), max(col("__ovf")).as("overflow"))
      .orderBy(col("overflow").desc, col("n").desc, col(blockCol),
        col("sub_bucket"))

  /** Dedup operating-point curve: for each threshold θ, the number of
    * documents that semantic dedup at min-cos θ would DROP (a doc drops
    * when a smaller-id block-mate sits at cos ≥ θ) — the tuning readout
    * for choosing a dedup threshold before committing a full pass.
    * One bounded-block pair generation (the [[boundedBlockPairs]]
    * candidates, never corpus²), one explode over the config-sized
    * threshold list, one keyed aggregate.
    *
    * Thresholds with zero drops emit no row (both engines agree).
    * `maxBlock = 0` auto-resolves to [[DefaultMnnBlock]] (see
    * [[mutualNearestPairs]]).
    * Output: (threshold, n_dropped). */
  def dedupThresholdCurve(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String, thresholds: Seq[Double], maxBlock: Int = 0,
      overflowWindow: Int = 16, dim: Int = 0): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val planes = subBucketPlanes(d)
    val refined = refineOversizedBlocks(df, groupCol, idCol, vecCol,
      resolvedBlockCap(maxBlock), planes)
    val pairs = boundedBlockPairs(refined, overflowWindow, planes.last)
      .select(col("id2"),
        round(VectorExprs.cosine(col("v1"), col("v2")), 6).as("cos"))
    pairs
      .select(col("id2"), col("cos"),
        explode(typedLit(thresholds)).as("threshold"))
      .filter(col("cos") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("id2")).as("n_dropped"))
      .orderBy(col("threshold"))
  }

  /** All-pairs exact cosine for a small broadcastable query set against the
    * corpus: one scan of the corpus, queries broadcast. Returns per query
    * the top-k corpus ids. */
  /** Mutual-nearest-neighbor pairs within groups: (a, b) where b is
    * a's top-1 cosine neighbor AND a is b's — the high-precision
    * embedding-dedup refinement (MNN survives threshold tuning: a hub
    * vector near many others is top-1 FOR many but reciprocates at
    * most once).
    *
    * Scale shape: the pairwise scoring is scoped to `groupCol` blocks
    * (a cluster id from [[trainCentroids]]/[[ivfAssign]], an LSH
    * bucket, or a ground-truth label), and the bounded-block contract
    * is ENFORCED, not just documented: groups over `maxBlock` rows
    * refine through [[refineOversizedBlocks]] (hyperplane sub-buckets,
    * sorted-neighborhood overflow), so candidates per row are at most
    * max(maxBlock, 2·overflowWindow) — never group-quadratic. The
    * top-1 search narrows to the refined candidates (the documented
    * recall trade: a sub-bucket boundary can hide the true top-1, the
    * same contract [[graft.operators.Dedup.fuzzyPairs]] records); at
    * the default cap nothing refines below 4096-row groups, where the
    * operator is exact. The mutual check is one self-join of the
    * group-sized top-1 relation.
    *
    * Ties break by neighbor id ascending (deterministic top-1); cosine
    * rounds to 6 ([[graft.functions.VectorExprs.cosine]] parity with
    * DuckDB's list_cosine_similarity). `dim` 0 infers the vector
    * dimension with one 1-row job ([[inferDim]]); pass it explicitly
    * on action-free hot paths.
    *
    * `maxBlock = 0` (the DEFAULT) auto-resolves to
    * [[DefaultMnnBlock]]: a FIXED-cardinality block key (a label
    * column, a pinned codebook) grows its blocks linearly with the
    * corpus, and exact within-block search is block² — the p4bisect
    * rung priced the 4096 exact regime at 40.5 s where the 256-bounded
    * path does the same dedup in 7.1 s at sf1 (§8.15). Gates that need
    * the exact regime (their oracles replay all pairs) pass an
    * explicit cap and guard it with [[requireBlocksWithin]].
    *
    * Output: (groupCol, id1, id2, cos) with id1 < id2. */
  def mutualNearestPairs(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String, maxBlock: Int = 0, overflowWindow: Int = 16,
      dim: Int = 0): DataFrame = {
    val top1 = rankedNeighbors(df, idCol, vecCol, groupCol, maxBlock,
        overflowWindow, dim)
      .where(col("__rn") === 1)
      .select(col("__g"), col("__ida"), col("__idb"), col("cos"))
    // mutual check WITHOUT a top1 ⋈ top1 self-join: a self-join plans
    // the whole candidate-scoring subtree TWICE (refinement, pair join,
    // cosines, the top-1 window — measured as a doubled 300-operator
    // subtree in the r12 before-plan). Each (g, a) holds at most one
    // top-1 edge, so the unordered pair key (g, min, max) carries
    // exactly 1 row (one direction) or 2 (mutual) — count == 2 IS the
    // reciprocity test, one aggregate over the group-sized top-1
    // relation. Both directions score the same unordered pair row, so
    // their `cos` is the same value (cosine is term-commutative and the
    // two directed rows are now exploded from one scored pair) — min()
    // just picks it deterministically.
    top1.groupBy(col("__g").as(groupCol),
        least(col("__ida"), col("__idb")).as("id1"),
        greatest(col("__ida"), col("__idb")).as("id2"))
      .agg(count(lit(1)).as("__dirs"), min(col("cos")).as("cos"))
      .where(col("__dirs") === 2)
      .drop("__dirs")
      .select(col(groupCol), col("id1"), col("id2"), col("cos"))
  }

  /** Generated oracle CTEs for the BOUNDED [[mutualNearestPairs]] —
    * the refinement path itself under the gate:
    * [[VectorTwinSql.boundedPairCtes]] (census, bit count, sub-bucket
    * signs, all-pairs inside fitting sub-buckets, the sorted-neighborhood
    * window inside overflow ones), then [[VectorTwinSql.mutualNnCtes]]
    * (directed round-6 scoring, the (cos DESC, idb) top-1 window, the
    * mutual join). Appends to a caller-provided CTE named `baseName`
    * with columns (`blockCol`, `idCol`, `vecCol`); the final CTE `mnn`
    * has columns (`blockCol`, id1, id2, cos) with id1 < id2 — exactly
    * [[mutualNearestPairs]]' output. */
  def mnnBoundedOracleCtes(baseName: String, blockCol: String,
      idCol: String, vecCol: String, dim: Int, maxBlock: Int,
      overflowWindow: Int): String =
    VectorTwinSql.boundedPairCtes(baseName, blockCol, idCol, vecCol, dim,
      maxBlock, overflowWindow) + ",\n" +
      VectorTwinSql.mutualNnCtes("cand", blockCol)

  /** k-NN GRAPH within groups: per node, its top-`k` cosine neighbors
    * (rank 1..k, ties to the lowest neighbor id) — the adjacency that
    * downstream graph curation (connected-component dedup families,
    * label propagation, link-based quality) consumes. Same bounded
    * scale shape as [[mutualNearestPairs]]: candidates come from
    * [[refineOversizedBlocks]] + [[boundedBlockPairs]], so per-row
    * work never exceeds max(maxBlock, 2·overflowWindow) regardless of
    * group sizes; exact within groups below `maxBlock`. Nodes whose
    * block yields fewer than k candidates emit fewer rows; singleton
    * blocks emit none. `maxBlock = 0` auto-resolves to
    * [[DefaultMnnBlock]] (see [[mutualNearestPairs]]).
    *
    * Output: (groupCol, id, rank, nbr, cos) ordered by nothing —
    * callers sort. */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String, k: Int, maxBlock: Int = 0,
      overflowWindow: Int = 16, dim: Int = 0): DataFrame = {
    require(k >= 1 && k <= 100, s"need 1 <= k <= 100, got $k")
    rankedNeighbors(df, idCol, vecCol, groupCol, maxBlock,
        overflowWindow, dim)
      .where(col("__rn") <= k)
      .select(col("__g").as(groupCol), col("__ida").as("id"),
        col("__rn").as("rank"), col("__idb").as("nbr"), col("cos"))
  }

  /** Shared candidate scoring for [[mutualNearestPairs]] and
    * [[knnGraph]]: bounded-block candidates ([[refineOversizedBlocks]]
    * + [[boundedBlockPairs]]), DIRECTED (each unordered pair feeds
    * both endpoints' searches), round-6 cosine, ranked per (__g,
    * __ida) by cos desc with ties to the lowest neighbor id. Returns
    * (__g, __ida, __idb, cos, __rn) — ONE copy of the tie/rounding
    * idiom so the two consumers cannot drift. */
  private def rankedNeighbors(df: DataFrame, idCol: String,
      vecCol: String, groupCol: String, maxBlock: Int,
      overflowWindow: Int, dim: Int): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val planes = subBucketPlanes(d)
    val refined = refineOversizedBlocks(df, groupCol, idCol, vecCol,
      resolvedBlockCap(maxBlock), planes)
    val und = boundedBlockPairs(refined, overflowWindow, planes.last)
    // ONE pass over the undirected pairs: score each pair once, then
    // explode it into its two directed rows. The previous
    // union-of-two-projections referenced `und` twice, planning and
    // EXECUTING the whole refinement + pair-join subtree once per
    // direction (and paying every cosine twice); cosine is
    // term-commutative (IEEE multiply + a fixed-order index fold), so
    // round(cos(v1,v2),6) and round(cos(v2,v1),6) were the same bits —
    // the exploded copy is value-identical to the old second branch.
    val scored = und
      .select(col("__g"),
        round(VectorExprs.cosine(col("v1"), col("v2")), 6).as("cos"),
        explode(array(
          struct(col("id1").as("a"), col("id2").as("b")),
          struct(col("id2").as("a"), col("id1").as("b")))).as("__dir"))
      .select(col("__g"), col("__dir.a").as("__ida"),
        col("__dir.b").as("__idb"), col("cos"))
    // the tie key is tagged non-nullable (ids are never null on this
    // path; KnownNotNull keeps the id's own type, so string ids rank
    // too, where a typed Long.MinValue coalesce cast them to BIGINT) so
    // the TopKWindowRewrite's eligibility proof holds for long ids and
    // the rank filter above becomes a bounded-heap AGGREGATE:
    // map-side k-element heaps per (__g, __ida) combine before the
    // exchange, so the directed-pair relation (2× the candidate volume
    // — the job's largest) is never sorted and never shuffled. With the
    // nullable tie this stayed a Sort + WindowGroupLimit + Exchange +
    // Sort chain — measured at the sf1 mnnstage rung as +17 s of the
    // 33 s stage.
    val w = Window.partitionBy(col("__g"), col("__ida"))
      .orderBy(col("cos").desc,
        ColumnBridge.knownNotNull(col("__idb")).asc)
    scored.withColumn("__rn", row_number().over(w))
  }

  /** Pre-rounded NDCG discount ladder 1/log2(r+1) for ranks 1..k — the
    * literals BOTH engines consume (no runtime log in the scoring
    * path, the ewmaWeights pattern). */
  def ndcgDiscounts(k: Int): Seq[Double] =
    (1 to k).map(r => BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** Retrieval quality: NDCG@k of cosine top-k search, with same-label
    * membership as the (binary) relevance signal — the standard
    * embedding-space eval ("does nearest-neighbor search surface the
    * right class"). Self-matches are excluded; the ideal ranking puts
    * all available relevant docs (the query's label population minus
    * itself, capped at k) first.
    *
    * Scale shape: queries are a bounded broadcast batch (the
    * [[batchTopK]] contract); scoring is one corpus scan with a
    * per-query bounded top-k window; label populations are a
    * label-sized broadcast. All discounts are pre-rounded literals
    * ([[ndcgDiscounts]]) — no runtime log anywhere, so DCG terms sum
    * exactly as DECIMAL in both engines.
    *
    * Output: (qid, n_rel, ndcg) per query. */
  def retrievalNdcg(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryFilter: Column, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"need 1 <= k <= 100, got $k")
    val queries = corpus.where(queryFilter)
      .select(col(idCol).as("__qid"), col(vecCol).as("__qvec"),
        col(labelCol).as("__qlabel"))
    val scored = corpus.crossJoin(broadcast(queries))
      .where(col(idCol) =!= col("__qid"))
      .select(col("__qid"), col("__qlabel"), col(idCol), col(labelCol),
        round(VectorExprs.cosine(col(vecCol), col("__qvec")), 6).as("__cos"))
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("__cos").desc, col(idCol))
    val disc = ndcgDiscounts(k)
    val discAt = element_at(
      typedLit(disc), col("__rank").cast("int"))
    val top = scored.withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
    val rel = when(col(labelCol) === col("__qlabel"), 1.0).otherwise(0.0)
    val perQ = top.groupBy(col("__qid"), col("__qlabel"))
      .agg(sum(rel.cast("long")).as("n_rel"),
        sum(round(rel * discAt, 9).cast("decimal(38,9)")).as("__dcg"))
    val labelCounts = corpus.groupBy(col(labelCol).as("__qlabel"))
      .agg(count(lit(1)).as("__nl"))
    // idcg = sum of the first min(k, population − 1) discount literals
    val idcg = disc.zipWithIndex.map { case (d, i) =>
      when(col("__nl") - 1 >= i + 1, lit(d)).otherwise(lit(0.0))
    }.reduce(_ + _)
    perQ.join(broadcast(labelCounts), "__qlabel")
      .select(col("__qid").as("qid"), col("n_rel"),
        when(idcg > 0,
          round(col("__dcg").cast("double") / idcg, 6)).as("ndcg"))
  }

  def batchTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col(queryId), col(idCol),
        round(VectorExprs.cosine(col(vecCol), col(queryVec)), 6).as("cos"))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** HARD-NEGATIVE mining for contrastive training: for each anchor
    * (a bounded, broadcastable batch selected by `anchorPred`), the
    * top-`k` most-similar corpus rows with a DIFFERENT label — the
    * near-miss examples a contrastive/triplet objective learns most
    * from (random negatives are trivially separable; the hard ones
    * sit just across the decision boundary).
    *
    * Scale shape: the [[batchTopK]] / q_x_ndcg pattern — anchors
    * broadcast against one linear corpus scan (the label-mismatch
    * filter runs map-side inside it), then a per-anchor top-k window
    * over the anchor-keyed scores. Anchor batches must stay bounded
    * (they broadcast); mine a large anchor set in batches.
    *
    * Output: (`qid`, `rank`, `neg`, `cos`), rank 1..k, ties to the
    * lowest negative id. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, anchorPred: Column, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"need 1 <= k <= 100, got $k")
    val anchors = corpus.where(anchorPred)
      .select(col(idCol).as("qid"), col(vecCol).as("__qv"),
        col(labelCol).as("__qlab"))
    val scored = corpus.crossJoin(broadcast(anchors))
      .where(col(labelCol) =!= col("__qlab"))
      .select(col("qid"), col(idCol).as("neg"),
        round(VectorExprs.cosine(col(vecCol), col("__qv")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neg"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neg"), col("cos"))
  }

  /** IVF recall/cost curve: for each `nprobe`, recall@k of the IVF probe
    * against the exact top-k plus the number of candidate rows the probe
    * scans — the accuracy-vs-cost panel an ANN deployment tunes `nprobe`
    * with (cf. the reference's evaluator loops,
    * `/root/reference/src/main/helper_methods.py:159` — grid points scored
    * against a fixed truth).
    *
    * Unlike [[ivfTopK]] (trained quantizer → error-contract gate), the
    * quantizer here is any DETERMINISTIC literal centroid panel, so the
    * whole curve — round-6 assignment argmax, probe order, per-nprobe
    * top-k, recall — is exactly reproducible by an independent engine:
    * the recall VALUES hash-gate, not just their floor.
    *
    * Scale shape: one map-side pass computes the round-6 query cosine and
    * the assignment argmax over the ≤64-entry literal panel (array_max +
    * array_position — no join, ties to the lowest cid); per-list top-k
    * reduces via a salted two-phase window (a hot list never serializes
    * into one task); everything downstream is arithmetic over the
    * ≤ k·|centroids| survivor panel (checkpointed once — it feeds the
    * exact baseline and every nprobe rung). The corpus is scanned twice
    * (top-k pass + list-size census), both linear, nothing corpus-sized
    * materializes. The nprobe fan-out is an explode over a literal
    * ladder — no nested-loop join anywhere. */
  def ivfRecallCurve(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]], query: Array[Float], k: Int,
      nprobes: Seq[Int]): DataFrame = {
    require(centroids.nonEmpty && centroids.size <= 64,
      s"need 1 <= |centroids| <= 64 (a broadcastable literal panel), got ${centroids.size}")
    require(centroids.forall(_.length == centroids.head.length),
      "all centroids must share one dimension")
    require(nprobes.nonEmpty && nprobes == nprobes.sorted.distinct &&
      nprobes.head >= 1 && nprobes.last <= centroids.size,
      s"nprobes must be sorted distinct within [1, ${centroids.size}], got $nprobes")
    require(k >= 1 && k <= 100, s"need 1 <= k <= 100, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecF = asFloatVec(corpus, vecCol)
    val q = typedLit(query)
    // per-row map-side: round-6 cosine to the query and to every centroid;
    // argmax = first occurrence of the max (lowest cid wins round-6 ties)
    val cosArr = array(centroids.map(c =>
      round(VectorExprs.cosine(vecF, typedLit(c)), 6)): _*)
    val assigned = corpus.select(
      col(idCol).as("id"),
      round(VectorExprs.cosine(vecF, q), 6).as("qcos"),
      (array_position(cosArr, array_max(cosArr)) - 1).cast("int").as("cid"))
    // probe order: centroids ranked by round-6 query cosine (ties → low
    // cid) — one |centroids|-row panel; its single-partition window is
    // config-sized by construction
    val cents = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "cvec")
    val probeOrder = cents.select(col("cid"),
        round(VectorExprs.cosine(col("cvec").cast("array<float>"), q), 6).as("__pc"))
      .withColumn("proberank", row_number().over(
        Window.orderBy(col("__pc").desc, col("cid"))))
      .select(col("cid"), col("proberank"))
    // salted two-phase per-list top-k: any nprobe's top-k is a subset of
    // the union of the per-list top-k panels
    val w1 = Window.partitionBy(col("cid"), col("__s"))
      .orderBy(col("qcos").desc, col("id"))
    val w2 = Window.partitionBy(col("cid")).orderBy(col("qcos").desc, col("id"))
    val panel = assigned
      .withColumn("__s", pmod(xxhash64(col("id")), lit(16)))
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= k)
      .withColumn("__r2", row_number().over(w2)).filter(col("__r2") <= k)
      .join(broadcast(probeOrder), Seq("cid"))
      .select(col("id"), col("qcos"), col("proberank"))
      .localCheckpoint()
    val bruteIds = panel.withColumn("__r", row_number().over(
        Window.orderBy(col("qcos").desc, col("id"))))
      .filter(col("__r") <= k).select(col("id"))
    // fan each survivor to every requested nprobe that probes its list
    val npLit = typedLit(nprobes)
    val hits = panel.withColumn("nprobe",
        explode(filter(npLit, np => np >= col("proberank"))))
      .withColumn("__r", row_number().over(Window.partitionBy(col("nprobe"))
        .orderBy(col("qcos").desc, col("id"))))
      .filter(col("__r") <= k)
      .join(broadcast(bruteIds), Seq("id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
    // candidate-scan cost: total probed-list sizes per nprobe (the second
    // linear corpus pass — a plain keyed census)
    val cost = assigned.groupBy(col("cid")).agg(count(lit(1)).as("__n"))
      .join(broadcast(probeOrder), Seq("cid"))
      .withColumn("nprobe", explode(filter(npLit, np => np >= col("proberank"))))
      .groupBy(col("nprobe")).agg(sum(col("__n")).as("cand_n"))
    nprobes.toDF("nprobe")
      .join(broadcast(cost), Seq("nprobe"))
      .join(broadcast(hits), Seq("nprobe"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("nprobe"), col("cand_n"), col("hits"),
        (col("hits") / lit(k.toDouble)).as("recall"))
      .orderBy(col("nprobe"))
  }

  /** Multi-query [[ivfRecallCurve]]: MEAN recall@k and total candidate
    * cost per `nprobe` over a bounded query PANEL — the representative
    * tuning pass (a single query's curve is one draw; a deployment tunes
    * nprobe on a panel and reads the mean). `queries` must be a bounded,
    * broadcastable batch (the [[hardNegatives]] anchor contract).
    *
    * Scale shape: coarse assignment is ONE map-side pass over the corpus
    * (query-independent); per-query scores come from the broadcast-query
    * crossJoin inside the same linear scan (the [[batchTopK]] shape); the
    * per-(query, list) top-k reduces via the salted two-phase window, so
    * a hot list still never serializes into one task; everything after
    * the checkpointed ≤ |queries|·k·|centroids| survivor panel is
    * panel-sized. Mean recall = Σ_q hits_q / (|queries|·k), an exact
    * integer ratio divided in double — hash-exact cross-engine like the
    * single-query curve.
    *
    * Output per nprobe (ordered): `nprobe`, `n_queries`, `cand_total`
    * (probed-list rows summed over the panel), `hits_total`,
    * `mean_recall`. */
  def ivfRecallCurveBatch(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]], queries: DataFrame, queryId: String,
      queryVec: String, k: Int, nprobes: Seq[Int]): DataFrame = {
    require(centroids.nonEmpty && centroids.size <= 64,
      s"need 1 <= |centroids| <= 64 (a broadcastable literal panel), got ${centroids.size}")
    require(centroids.forall(_.length == centroids.head.length),
      "all centroids must share one dimension")
    require(nprobes.nonEmpty && nprobes == nprobes.sorted.distinct &&
      nprobes.head >= 1 && nprobes.last <= centroids.size,
      s"nprobes must be sorted distinct within [1, ${centroids.size}], got $nprobes")
    require(k >= 1 && k <= 100, s"need 1 <= k <= 100, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecF = asFloatVec(corpus, vecCol)
    val qsSrc = queries.select(col(queryId).as("__qid"),
      col(queryVec).cast("array<float>").as("__qv"))
    // the panel is the broadcast side of a corpus crossJoin AND the
    // denominator of mean_recall: enforce the bounded-batch contract and
    // distinct non-null ids (a duplicate id would inflate hits_total /
    // cand_total while countDistinct shrinks n_queries — a silently
    // skewed mean). The bound check collects AT MOST 257 FULL rows — the
    // guard must not OOM the driver on exactly the unbounded panel it
    // exists to reject — and the collected rows ARE the broadcast side
    // below (a local relation), so a panel derived from a non-trivial
    // computation executes ONCE, not once for the guard and again for
    // each crossJoin.
    val qRows = qsSrc.limit(257).collect()
    val qids = qRows.map(r => if (r.isNullAt(0)) null else r.get(0))
    require(qids.nonEmpty && qids.length <= 256,
      s"query panel must be a bounded broadcastable batch (1..256 rows), " +
        s"got ${if (qids.length > 256) "more" else qids.length.toString}")
    require(!qids.contains(null), "query panel ids must be non-null")
    require(qids.distinct.length == qids.length,
      "query panel ids must be distinct — a duplicate id double-counts " +
        "its hits while n_queries counts it once")
    val qs = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qsSrc.schema)
    // ONE query-independent assignment pass (round-6 argmax, low cid ties)
    val cosArr = array(centroids.map(c =>
      round(VectorExprs.cosine(vecF, typedLit(c)), 6)): _*)
    val assigned = corpus.select(
      col(idCol).as("id"), vecF.as("__v"),
      (array_position(cosArr, array_max(cosArr)) - 1).cast("int").as("cid"))
    val scored = assigned.crossJoin(broadcast(qs))
      .select(col("__qid"), col("id"),
        round(VectorExprs.cosine(col("__v"), col("__qv")), 6).as("qcos"),
        col("cid"))
    // per-(query, centroid) probe order — a |queries|·|centroids| panel
    val cents = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cid", "cvec")
    val probeOrder = cents.crossJoin(broadcast(qs))
      .select(col("__qid"), col("cid"),
        round(VectorExprs.cosine(col("cvec").cast("array<float>"),
          col("__qv")), 6).as("__pc"))
      .withColumn("proberank", row_number().over(
        Window.partitionBy(col("__qid")).orderBy(col("__pc").desc, col("cid"))))
      .select(col("__qid"), col("cid"), col("proberank"))
    // salted two-phase per-(query, list) top-k
    val w1 = Window.partitionBy(col("__qid"), col("cid"), col("__s"))
      .orderBy(col("qcos").desc, col("id"))
    val w2 = Window.partitionBy(col("__qid"), col("cid"))
      .orderBy(col("qcos").desc, col("id"))
    val panel = scored
      .withColumn("__s", pmod(xxhash64(col("id")), lit(16)))
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= k)
      .withColumn("__r2", row_number().over(w2)).filter(col("__r2") <= k)
      .join(broadcast(probeOrder), Seq("__qid", "cid"))
      .select(col("__qid"), col("id"), col("qcos"), col("proberank"))
      .localCheckpoint()
    val bruteIds = panel.withColumn("__r", row_number().over(
        Window.partitionBy(col("__qid")).orderBy(col("qcos").desc, col("id"))))
      .filter(col("__r") <= k).select(col("__qid"), col("id"))
    val npLit = typedLit(nprobes)
    val hits = panel.withColumn("nprobe",
        explode(filter(npLit, np => np >= col("proberank"))))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("nprobe"), col("__qid"))
          .orderBy(col("qcos").desc, col("id"))))
      .filter(col("__r") <= k)
      .join(broadcast(bruteIds), Seq("__qid", "id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("hits_total"))
    // candidate-scan cost per nprobe, summed over the query panel
    val cost = assigned.groupBy(col("cid")).agg(count(lit(1)).as("__n"))
      .join(broadcast(probeOrder), Seq("cid"))
      .withColumn("nprobe", explode(filter(npLit, np => np >= col("proberank"))))
      .groupBy(col("nprobe")).agg(sum(col("__n")).as("cand_total"))
    // panel size as a 1-row scalar from the bounded probe-order relation
    val nq = probeOrder.agg(
      countDistinct(col("__qid")).cast("bigint").as("n_queries"))
    nprobes.toDF("nprobe")
      .join(broadcast(cost), Seq("nprobe"))
      .join(broadcast(hits), Seq("nprobe"), "left")
      .na.fill(0L, Seq("hits_total"))
      .crossJoin(broadcast(nq))
      .select(col("nprobe"), col("n_queries"),
        col("cand_total").cast("bigint").as("cand_total"),
        col("hits_total").cast("bigint").as("hits_total"),
        (col("hits_total") / (col("n_queries") * lit(k)).cast("double"))
          .as("mean_recall"))
      .orderBy(col("nprobe"))
  }
}
