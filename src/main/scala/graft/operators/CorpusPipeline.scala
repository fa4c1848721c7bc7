package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data ingest pipeline, composed from the
  * individually-gated operators: unicode cleanup → quality/language gate →
  * exact dedup → benchmark decontamination → fixed-width chunking → token
  * counting → packing into ~target-token bins. One call takes a raw
  * document table to training-ready chunks — the composition a user of
  * this library actually ships.
  *
  * Shuffle ledger at scale: the gate and chunking stages are pure
  * map-side; dedup shuffles (hash, text-on-collision) keys; decontam
  * broadcasts the (small) benchmark shingle set and shuffles only per-doc
  * overlap counts; packing is one partitioned window. Nothing is O(n²),
  * nothing moves the corpus twice.
  */
object CorpusPipeline {

  /** Packing is shard-grained BY DEFAULT: `packShards = 0` (auto) groups
    * the pack window by `doc_id mod (defaultParallelism × 4)`, so every
    * window partition stays bounded no matter the corpus size and bins
    * are globally unique as (shard, bin). Pass an explicit `packShards
    * > 1` for a deterministic, environment-independent shard count (the
    * gated query uses 8), or `packShards = 1` to OPT IN to one global
    * bin sequence — a single window partition that serializes the whole
    * corpus on one task; only for small corpora that genuinely need one
    * global order. */
  def trainingChunks(docs: DataFrame, benchmark: DataFrame,
      minQuality: Double = 0.5, keepLang: String = "en",
      chunkWidth: Int = 120, chunkOverlap: Int = 20,
      packTarget: Long = 200L, packShards: Int = 0): DataFrame = {
    val ta = TextAnalysis
    val cleaned = docs.select(col("doc_id"),
      ta.cleanText(col("text")).as("text"))
    val scored = ta.withLanguageId(ta.withQualitySignals(cleaned, "text"), "text")
      .filter(col("quality_score") >= minQuality &&
        col("lang_guess") === keepLang)
      .select(col("doc_id"), col("text"))
    // exact dedup keeping the smallest id per distinct cleaned text
    // (hash-led window keys — document bodies only compared on digest ties)
    val deduped = Dedup.exactByText(scored, "text", col("doc_id"))
    // drop docs sharing >= 3 distinct trigram shingles with the benchmark
    val contaminated = Dedup.contaminationFlags(
      deduped, "doc_id", "text", benchmark, "text")
    val kept = deduped.join(
      contaminated.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    val chunks = ta.chunkDocuments(kept, "doc_id", "text",
        chunkWidth, chunkOverlap)
      .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk"))
      .withColumn("n_tokens", ta.wsTokenCount(col("chunk")).cast("bigint"))
    val shards =
      if (packShards == 0)
        math.max(2, docs.sparkSession.sparkContext.defaultParallelism * 4)
      else packShards
    val grp =
      if (shards > 1) pmod(col("doc_id"), lit(shards.toLong))
      else lit(keepLang)
    val ordered = chunks
      .withColumn("__g", grp)
      .withColumn("__ord", col("doc_id") * 1000000L + col("chunk_idx"))
    val packed = ta.packBins(ordered, "__g", "__ord", "n_tokens", packTarget)
    (if (shards > 1) packed.withColumnRenamed("__g", "shard")
     else packed.drop("__g")).drop("__ord")
  }
}
