package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level boilerplate removal — the C4/RefinedWeb "drop any line
  * that occurs in ≥ N documents" pass (navigation chrome, license
  * headers, cookie banners), expressed segment-wise: documents split
  * into non-overlapping `segTokens`-token segments (the fixture has no
  * newlines; for a corpus with real lines, pre-split on `\n` and the
  * same census applies verbatim), a corpus-wide census counts how many
  * DISTINCT documents each exact segment appears in, and segments at or
  * above the `minDocs` threshold are removed before the document is
  * reassembled in original order.
  *
  * Scale shape (100 TB-safe): segment construction is pure map-side
  * expression math (the fused [[graft.functions.ChunkSegments]] — one
  * output row per segment, never per token, WholeStageCodegen); the census is one
  * segment-keyed aggregate with map-side partial distinct; membership is
  * a segment-keyed equi-join; reassembly is one doc-keyed aggregate
  * whose ordered concat is `array_join` over the `seg` field of
  * `sort_array(collect_list(struct(idx, seg)))` — Catalyst's own
  * codegen'd array expressions, deterministic under any shuffle order.
  * Nothing quadratic, nothing single-partition; every shuffle key
  * (segment hash, doc id) is naturally high-cardinality.
  *
  * Doc-distinct (not raw occurrence) counting makes the criterion
  * robust to a single spammy document repeating its own segment.
  *
  * Output: (idCol, clean_text, n_kept, n_dropped) — `clean_text` is ''
  * (not null) when every segment was boilerplate. Documents with
  * whitespace-only text are not emitted (the corpus-text convention of
  * the simhash/fingerprint family). */
object Boilerplate {

  def removeRepeatedSegments(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 3, minDocs: Int = 3): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = split(trim(col(textCol)), "\\s+")
    // segment construction is the fused ChunkSegments expression — the
    // transform(sequence(...)) HOF chain it replaces is CodegenFallback,
    // and this is the per-token hot loop of the whole pass (parity spec:
    // WordNGramsFusedSpec). Reassembly needs no lambda: `.getField` over
    // the sorted struct array is Catalyst's GetArrayStructFields.
    val segs = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        posexplode(graft.functions.ChunkSegments.column(toks, segTokens, " ")))
      .withColumnRenamed("pos", "__idx")
      .withColumnRenamed("col", "__seg")
    val census = segs.groupBy("__seg")
      .agg(countDistinct(col(idCol)).as("__ndocs"))
    segs.join(census, "__seg")
      .groupBy(col(idCol))
      .agg(
        array_join(
          sort_array(collect_list(when(col("__ndocs") < minDocs,
            struct(col("__idx"), col("__seg"))))).getField("__seg"),
          " ").as("clean_text"),
        count(when(col("__ndocs") < minDocs, lit(1))).as("n_kept"),
        count(when(col("__ndocs") >= minDocs, lit(1))).as("n_dropped"))
  }
}
