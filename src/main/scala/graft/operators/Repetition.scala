package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gopher-style within-document repetition signals (Rae et al. 2021,
  * §A1.1; the C4/RedPajama/Dolma filter family) — the quality gates a
  * pretraining pipeline runs BEFORE dedup: documents dominated by
  * repeated lines or n-grams (boilerplate, scraped menus, looped
  * generation) are filtered or down-weighted.
  *
  * Per document:
  *  - `dup_line_frac` — fraction of line occurrences whose line text
  *    appears more than once in the document;
  *  - `dup_line_char_frac` — fraction of line characters inside those
  *    duplicated lines;
  *  - `top_{n}gram_frac` (n ∈ `topNs`) — fraction of document characters
  *    covered by the single most frequent word n-gram
  *    (count × gram length / doc chars);
  *  - `dup_{n}gram_frac` (n = `dupN`) — fraction of document characters
  *    covered by ALL n-grams occurring more than once (occurrences ×
  *    gram length / doc chars; overlaps counted, per the standard
  *    implementations — a signal, not a partition of the text).
  *
  * Scale shape: one explode produces every (n, gram) occurrence tagged
  * with its n — ONE (doc, n, gram) count shuffle covers the whole
  * battery; the per-(doc, n) top pick is a window over that count table
  * (keyed by doc — parallel across documents); line stats are a second
  * doc-keyed aggregate. Both sides end keyed by doc id, so the final
  * join co-partitions. Nothing is quadratic; nothing leaves the
  * document's own rows.
  *
  * Cross-engine reproducibility: all counts and char totals are exact
  * integers; the only doubles are the final divisions, rounded to 6.
  * Top-gram ties break by (count desc, gram length desc, gram asc).
  */
object Repetition {

  def gopherSignals(docs: DataFrame, idCol: String, textCol: String,
      lineSep: String = "\n", topNs: Seq[Int] = Seq(2, 3, 4),
      dupN: Int = 5): DataFrame = {
    require(topNs.nonEmpty, "gopherSignals needs at least one top-n size")
    require((topNs :+ dupN).forall(_ >= 1), "n-gram sizes must be >= 1")
    Reserved.guard("gopherSignals", docs, "__doc", "__chars", "__toks", "__lines", "__g",
      "__n", "gram", "__c", "__gl", "__rn", "__line")

    val text = col(textCol)
    val toks = when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))
    val lines = split(text, java.util.regex.Pattern.quote(lineSep))

    // materialized ONCE: the line branch and the gram branch both read
    // this relation, and un-cut the corpus is SCANNED twice and the
    // tokenization (plus whatever expression the caller passed as
    // textCol — q_x_repetition feeds a chunk_join derivation) is
    // re-evaluated per branch; the optimizer additionally pushes the
    // explode's non-empty filter below the projection, duplicating the
    // derivation AGAIN inside the filter (r12 before-plan operators
    // 2/4). One row-format doc-sized materialization (tokens + lines
    // arrays) feeds both aggregates; guide §2.4 / the round-7
    // multi-consumer rule.
    val base = docs.select(col(idCol).as("__doc"),
      length(text).cast("long").as("__chars"),
      toks.as("__toks"), lines.as("__lines"))
      .localCheckpoint()

    // ── line stats: one doc-keyed aggregate over (doc, line) counts ──
    val lineCounts = base
      .select(col("__doc"), explode(col("__lines")).as("__line"))
      .groupBy(col("__doc"), col("__line"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__gl", length(col("__line")).cast("long"))
    val lineStats = lineCounts.groupBy(col("__doc"))
      .agg(sum(col("__c")).as("n_lines"),
        round(sum(when(col("__c") > 1, col("__c")).otherwise(lit(0L)))
            .cast("double") / sum(col("__c")), 6).as("dup_line_frac"),
        round(when(sum(col("__c") * col("__gl")) > 0,
            sum(when(col("__c") > 1, col("__c") * col("__gl"))
              .otherwise(lit(0L))).cast("double") /
              sum(col("__c") * col("__gl")))
          .otherwise(lit(0.0)), 6).as("dup_line_char_frac"))

    // ── n-gram stats: ONE tagged explode for every n in the battery ──
    // The (n, gram) emission is the fused WordNGrams expression, not a
    // transform(sequence(...)) HOF chain: array HOFs are CodegenFallback
    // (interpreted per-element dispatch — the StepFloorLookup defect
    // class), and this is the per-token hot loop of the whole battery.
    // Parity with the HOF formulation is spec-pinned in
    // WordNGramsFusedSpec.
    val ns = (topNs :+ dupN).distinct.sorted
    val gramCounts = base
      .select(col("__doc"), col("__chars"),
        explode(graft.functions.WordNGrams.column(col("__toks"), ns)).as("__g"))
      .groupBy(col("__doc"), col("__chars"),
        col("__g.__n").as("__n"), col("__g.gram").as("gram"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__gl", length(col("gram")).cast("long"))
    val w = Window.partitionBy(col("__doc"), col("__n"))
      .orderBy(col("__c").desc, col("__gl").desc, col("gram").asc)
    val topCols = topNs.map(n =>
      round(max(when(col("__n") === n && col("__rn") === 1,
          col("__c") * col("__gl"))).cast("double") / col("__chars"), 6)
        .as(s"top_${n}gram_frac"))
    val dupCol =
      round(coalesce(sum(when(col("__n") === dupN && col("__c") > 1,
          col("__c") * col("__gl"))), lit(0L)).cast("double") /
          col("__chars"), 6)
        .as(s"dup_${dupN}gram_frac")
    val gramStats = gramCounts
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("__doc"), col("__chars"))
      .agg(topCols.head, (topCols.tail :+ dupCol): _*)

    val out = lineStats.join(gramStats, Seq("__doc"), "left")
    val fracCols = (topNs.map(n => s"top_${n}gram_frac") :+
      s"dup_${dupN}gram_frac").map(c => coalesce(col(c), lit(0.0)).as(c))
    out.select(Seq(col("__doc").as(idCol), col("n_lines"),
      col("dup_line_frac"), col("dup_line_char_frac")) ++ fracCols: _*)
  }
}
