package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers every gate family shares: fixture reads, per-sfDir scratch
  * names, decimal-exact aggregates, the IVF index fixture and the
  * oracle twins more than one gate uses. */
private[graft] object Shared {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.IO.table(spark, dir, name)

  /** Scratch path for sink round-trip queries, keyed by the input dir so
    * two concurrent gate/test runs on one host (different sfDirs) never
    * delete or overwrite each other's data mid-query. Same-sfDir runs
    * still share a path — that is the per-(sfDir) cache behavior the IVF
    * index fixture uses deliberately. */
  def tmpFor(dir: String, name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${name}_" + Integer.toHexString(dir.hashCode)).getAbsolutePath

  /** Catalog-object suffix with the same per-(sfDir) isolation as
    * [[tmpFor]] (table names collide across concurrent runs too). */
  def runToken(dir: String): String =
    Integer.toHexString(dir.hashCode)

  /** Wide variant for per-row compute-heavy queries: the fixture tables are
    * single-file/single-row-group parquet — an unsplittable scan, so every
    * stage before the first exchange runs as ONE task no matter how many
    * cores exist. One cheap round-robin exchange spreads the expensive
    * projection across the cluster; on a real multi-file dataset
    * (partitions ≥ cores) the fan-out is a no-op. */
  def tw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Pre-built IVF index fixture: quantizer training + corpus assignment
    * run ONCE per (sfDir) and land on disk as a cid-partitioned parquet
    * (the "stored bucketed by list" layout a deployed IVF index uses) +
    * a centroid table. The gated query then measures what a deployment
    * pays per query — centroid argmax + a partition-pruned probe of the
    * nprobe lists — not the offline index build. */
  final case class IvfIdx(listsDir: String,
      centroids: Seq[(Int, Seq[Float])], query: Array[Float])
  private val ivfIndexCache = new java.util.concurrent.ConcurrentHashMap[String, IvfIdx]()
  def ivfIndex(s: SparkSession, dir: String): IvfIdx =
    ivfIndexCache.computeIfAbsent(dir, _ => {
      val sim = graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val centroids = sim.trainCentroids(emb, "embedding", k = 8, maxIter = 5)
      val assigned = sim.ivfAssign(emb, "vec_id", "embedding", centroids)
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivf_index_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      graft.sources.IO.writePartitioned(assigned, s"$out/lists", Seq("cid"))
      // centroid table + fixture query vector are config-sized — they live
      // with the index as driver-side data (a deployment ships them with
      // the model artifact), so the probe pays no lookup jobs for them
      val cents = centroids.collect().map(r =>
        (r.getInt(0), r.getSeq[Float](1))).toSeq
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      IvfIdx(s"$out/lists", cents, q)
    })

  /** Shared engine side of the two ANN contract gates (the twin of
    * [[annContractOracleSql]]): the exact brute-force top-k rows
    * carrying the contract panel — the ANN probe returned exactly k
    * rows AND recall@k ≥ 0.8 — so the approximation stays engine-side
    * while its CONTRACT is hash-gated. */
  def annContractGate(brute: DataFrame, ann: DataFrame,
      minHits: Int): DataFrame = {
    val panel = brute
      .join(ann.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
      .crossJoin(ann.agg(count(lit(1)).as("ann_k")))
      .select(col("ann_k"), (col("__hits") >= minHits).as("recall_ok"))
    brute.crossJoin(broadcast(panel))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  /** Order-independent exact sum of a float column: decimal accumulate,
    * double result. */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(38,$scale)")).cast("double")

  /** Exact mean built from the decimal sum (same bits in both engines). */
  def davg(c: Column, scale: Int = 6): Column =
    dsum(c, scale) / count(c)

  /** Twin of the q_x_pipeline4_auto / q_x_pipeline4_capped chain: the
    * planted base corpus, [[graft.operators.Similarity.mnnBoundedOracleCtes]]
    * at the gate's cap (the refinement replicated stage by stage),
    * keep-the-newest drops over the mutual pairs, then the unrolled
    * farthest-first selection CTEs over the survivor relation. */
  def pipeline4BoundedOracleSql(maxBlock: Int): String =
    graft.operators.Selection.farthestFirstOracleSql(
      "survivors", "vec_id", "embedding", k = 8, ctePrefix =
        """base AS MATERIALIZED (
          |  SELECT vec_id, label, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 10000, label, embedding FROM embeddings
          |  WHERE vec_id < 20),
          |""".stripMargin +
        graft.operators.Similarity.mnnBoundedOracleCtes(
          "base", "label", "vec_id", "embedding", dim = 64,
          maxBlock = maxBlock, overflowWindow = 16) +
        """,
          |drops AS (
          |  SELECT DISTINCT id1 AS vec_id FROM mnn WHERE cos >= 0.99),
          |survivors AS MATERIALIZED (
          |  SELECT vec_id, embedding FROM base
          |  WHERE vec_id NOT IN (SELECT vec_id FROM drops))""".stripMargin)

  /** Shared twin for the two ANN contract gates (both probe the
    * vec_id=0 embedding at k=10): the exact brute-force top-10 plus
    * the literal contract columns. */
  def annContractOracleSql: String =
    """WITH brute AS (
      |  SELECT vec_id,
      |    ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
      |  FROM embeddings ORDER BY cos DESC, vec_id LIMIT 10)
      |SELECT vec_id, cos, CAST(10 AS BIGINT) AS ann_k, TRUE AS recall_ok
      |FROM brute ORDER BY cos DESC, vec_id""".stripMargin
}
