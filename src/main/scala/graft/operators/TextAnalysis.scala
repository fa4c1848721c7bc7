package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (build brief):
  * language ID, quality scoring, token counting, document fingerprinting.
  * All pure Catalyst expressions over the `documents` table — per-row,
  * embarrassingly parallel, no shuffle.
  */
object TextAnalysis {

  // ───────────────────── token counting ─────────────────────
  // All counters are native char-scan expressions
  // ([[graft.functions.TextSketches]]) — semantically identical to the
  // regex formulations noted per function, but without the regex engine
  // (Java-regex hot paths were the bench's least stable cost).

  import graft.functions.{TextSketches, TextStatMode}

  /** Whitespace token count (== `size(split(trim(text), "\\s+"))`, 0 when blank). */
  def wsTokenCount(text: Column): Column = TextSketches.stat(text, TextStatMode.WsTokens)

  /** BPE-ish subword proxy: alpha runs, digit runs, and single
    * non-alphanumeric marks each count as one token
    * (== `regexp_count(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")`). */
  def bpeishTokenCount(text: Column): Column = TextSketches.stat(text, TextStatMode.Bpeish)

  // ───────────────────── language ID ─────────────────────

  /** Tiny per-language marker lexicons (function words — the classic
    * n-gram/stopword heuristic). */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "im"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "人", "这", "他"))

  private val SortedLangs: Seq[String] = LangMarkers.keys.toSeq.sorted

  /** The shared fused-profile struct (ONE char scan for token/punct/upper/
    * non-ws counts plus every lexicon's marker hits — collapses the ~9
    * per-document scans the quality+langid pipeline otherwise runs).
    * Added once; both consumers reuse it if already present. */
  private def ensureProfile(df: DataFrame, textCol: String): DataFrame =
    if (df.columns.contains("__tp")) df
    else df.withColumn("__tp",
      TextSketches.profile(col(textCol), SortedLangs.map(LangMarkers)))

  /** Adds `lang_guess` (argmax of marker hits; "und" when nothing matched)
    * and one `hits_<lang>` count per language. */
  def withLanguageId(df: DataFrame, textCol: String): DataFrame = {
    val withHits = SortedLangs.zipWithIndex.foldLeft(ensureProfile(df, textCol)) {
      case (acc, (lang, i)) =>
        acc.withColumn(s"hits_$lang", col("__tp.hits").getItem(i))
    }
    // argmax via a struct-max: (hits, lang) pairs, greatest wins; ties break
    // toward the lexicographically larger lang — documented, deterministic
    val pairs = SortedLangs.map(l =>
      struct(col(s"hits_$l").as("h"), lit(l).as("l")))
    withHits.withColumn("lang_guess",
      when(greatest(pairs: _*).getField("h") === 0, lit("und"))
        .otherwise(greatest(pairs: _*).getField("l")))
  }

  // ───────────────────── quality scoring ─────────────────────

  /** Adds the standard cheap quality signals:
    * `n_chars`, `n_tokens`, `mean_token_len`, `punct_ratio`,
    * `stopword_ratio` (English markers), `upper_ratio`, and a composite
    * `quality_score` ∈ [0,1] (weights documented inline). */
  def withQualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val enIdx = SortedLangs.indexOf("en")
    ensureProfile(df, textCol)
      .withColumn("n_chars_q", length(t))
      .withColumn("n_tokens", col("__tp.n_tokens"))
      .withColumn("mean_token_len",
        when(col("n_tokens") > 0,
          col("__tp.n_nonws").cast("double") / col("n_tokens"))
          .otherwise(0.0))
      .withColumn("punct_ratio",
        when(col("n_chars_q") > 0,
          col("__tp.n_punct").cast("double") / col("n_chars_q"))
          .otherwise(0.0))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0,
          col("__tp.hits").getItem(enIdx).cast("double") / col("n_tokens"))
          .otherwise(0.0))
      .withColumn("upper_ratio",
        when(col("n_chars_q") > 0,
          col("__tp.n_upper").cast("double") / col("n_chars_q"))
          .otherwise(0.0))
      // composite: reasonable length (saturating), some stopwords, low punct
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens").cast("double") / 100) * lit(0.4) +
          least(lit(1.0), col("stopword_ratio") * 5) * lit(0.3) +
          (lit(1.0) - least(lit(1.0), col("punct_ratio") * 4)) * lit(0.3))
  }

  // ───────────────────── vocabulary / document frequency ─────────────────────

  /** Corpus vocabulary with term frequency, document frequency, and IDF.
    *
    * One explode + one grouped aggregation: `tf` is a plain count
    * (map-side partial agg), `df` a count-distinct on doc ids (Spark
    * plans the two together via expand — still a single shuffle keyed by
    * the word). The corpus size for IDF is a 1-row scalar aggregate
    * broadcast-cross-joined in (the W2 pattern) — no driver action, no
    * second pass over the corpus. At 100 TB the shuffle carries
    * (word, doc_id) pairs, which is the floor for exact df; callers who
    * can tolerate error swap `countDistinct` for
    * `approx_count_distinct` and drop the expand.
    *
    * Returns (`word`, `tf`, `df`, `idf`) with `idf = ln(n_docs / df)`
    * rounded to 6 places.
    */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(idCol).as("__doc"),
      explode(split(trim(col(textCol)), "\\s+")).as("word"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    words.groupBy("word")
      .agg(count(lit(1)).as("tf"), countDistinct(col("__doc")).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", round(log(col("__n").cast("double") / col("df")), 6))
      .drop("__n")
  }

  /** [[vocabulary]] with SKETCHED document frequency — the bounded-shuffle
    * scale path. Exact df is a count-distinct: Spark expands to one
    * shuffled row per distinct (word, doc) pair, so a word appearing in
    * 100M documents ships 100M rows to its reducer. The sketched path
    * aggregates a DataSketches HLL per word instead: partial sketches
    * merge map-side and the shuffle carries ONE fixed-size sketch per
    * (word, map partition) — shuffle volume is bounded by the vocabulary,
    * not by the corpus, and a boilerplate word present in every document
    * costs the same bytes as a rare one.
    *
    * Error contract: below the HLL transition the sketch stores exact
    * 26-bit hash coupons — NEAR-exact, off by one only when two doc ids
    * collide in coupon space (≈ df²/2^27 per word, so a handful of ±1
    * words across a large vocabulary even at small df) — and beyond it
    * estimates with relative standard error ≈ 1.04/√2^lgConfigK (≈1.6%
    * at the default lgConfigK=12; bound spec'd in TextAnalysisSpec).
    * `tf` stays exact (a plain count). The gate `q_x_vocab_sketch`
    * therefore hashes the |est − exact| ≤ max(1, 2%·exact) contract, not
    * the engine-specific estimates themselves.
    */
  def vocabularySketched(docs: DataFrame, idCol: String, textCol: String,
      lgConfigK: Int = 12): DataFrame = {
    val words = docs.select(col(idCol).as("__doc"),
      explode(split(trim(col(textCol)), "\\s+")).as("word"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    words.groupBy("word")
      .agg(count(lit(1)).as("tf"),
        hll_sketch_estimate(
          hll_sketch_agg(col("__doc"), lit(lgConfigK))).cast("bigint").as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", round(log(col("__n").cast("double") / col("df")), 6))
      .drop("__n")
  }

  // ───────────────────── LM perplexity quality scoring ─────────────────────

  /** Per-document bigram language-model cross-entropy and perplexity —
    * the CCNet/KenLM-style quality signal: documents whose word
    * transitions are improbable under the corpus LM (gibberish, boiler
    * soup, wrong-language fragments) score high and get filtered or
    * down-weighted. The model here is trained on `docs` itself
    * (self-perplexity); to score against a reference corpus, train the
    * count tables on that corpus instead — the shape is identical.
    *
    * Model: add-k smoothed bigram MLE,
    * `p(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V)` with corpus-wide counts
    * and V = distinct words. Score: cross-entropy
    * `H = −(1/n) Σ ln p` over the document's `n` bigrams; perplexity
    * `= e^H`.
    *
    * Scale shape: bigrams come from `zip_with` over offset slices (pure
    * map-side); scoring pre-aggregates to one row per DISTINCT
    * (doc, bigram) so the model joins never touch per-occurrence rows;
    * the bigram-count join keys on the bigram (hot boilerplate bigrams
    * are exactly what AQE's skew split handles); the unigram table is
    * vocabulary-sized (AQE broadcasts it when it fits); V is a 1-row
    * broadcast scalar. That is ~4 corpus-keyed shuffles — the floor for
    * exact self-trained scoring; with a FIXED reference model, persist
    * the count tables and broadcast them instead.
    *
    * Cross-engine reproducibility: each bigram's `n·ln p` term is
    * rounded to 12 places and accumulated as DECIMAL(38,12)
    * (order-invariant); the final division and `exp` run in DOUBLE and
    * round to 6 (`ln`/`exp` parity holds — see the entropy gate).
    *
    * Returns (`idCol`, `n_bigrams`, `cross_entropy`, `perplexity`);
    * documents with fewer than two tokens have no bigrams and drop out.
    */
  def bigramPerplexity(docs: DataFrame, idCol: String, textCol: String,
      addK: Double = 1.0): DataFrame = {
    require(addK > 0, s"additive smoothing needs addK > 0, got $addK")
    Reserved.guard("bigramPerplexity", docs, "__doc", "__t", "__bg", "__lp", "__v", "w1", "g")
    val toks = split(trim(col(textCol)), "\\s+")
    val words = docs.select(col(idCol).as("__doc"), explode(toks).as("w1"))
    val uni = words.groupBy("w1").agg(count(lit(1)).as("cu"))
    val nVocab = words.agg(countDistinct(col("w1")).as("__v"))
    val grams = docs.select(col(idCol).as("__doc"), toks.as("__t"))
      .select(col("__doc"), explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), concat(a, lit(" "), b).as("g")))).as("__bg"))
      .select(col("__doc"), col("__bg.w1").as("w1"), col("__bg.g").as("g"))
    val bi = grams.groupBy("g").agg(count(lit(1)).as("cb"))
    val docGrams = grams.groupBy("__doc", "w1", "g").agg(count(lit(1)).as("n"))
    docGrams
      .join(bi, "g")
      .join(uni, "w1")
      .crossJoin(broadcast(nVocab))
      .select(col("__doc"), col("n"),
        round(col("n").cast("double") *
            log((col("cb") + lit(addK)) / (col("cu") + lit(addK) * col("__v"))),
          12).cast("decimal(38,12)").as("__lp"))
      .groupBy(col("__doc").as(idCol))
      .agg(sum(col("n")).as("n_bigrams"),
        round(-(sum(col("__lp")).cast("double")) /
          sum(col("n")).cast("double"), 6).as("cross_entropy"),
        round(exp(-(sum(col("__lp")).cast("double")) /
          sum(col("n")).cast("double")), 6).as("perplexity"))
  }

  // ───────────────────── repetition ratio ─────────────────────

  /** Per-document top-bigram fraction — the Gopher-style repetition
    * signal (share of all word bigrams taken by the most frequent one;
    * boilerplate and looped text score high). Consecutive pairs come
    * from `zip_with` over two offset slices (no explode of an index
    * range), then two grouped aggregations: (doc, gram) counts, then
    * per-doc max/sum. Documents with fewer than two tokens have no
    * bigrams and drop out, matching the SQL formulation.
    */
  def topBigramFraction(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    // fused bigram emission (WordNGrams n=2) — the zip_with HOF twin is
    // CodegenFallback; identical grams on null-free token streams (split
    // never yields null tokens)
    val grams = docs
      .select(col(idCol).as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams.column(col("__toks"), Seq(2)))
          .as("__g"))
      .select(col("doc_id"), col("__g.gram").as("gram"))
    grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_bigram_frac"),
        sum(col("c")).as("n_bigrams"))
  }

  // ───────────────────── chunking / packing ─────────────────────

  /** Splits documents into fixed-width character chunks with `overlap`
    * characters of context carried between neighbors — the
    * long-document → training-window step of an LLM data pipeline
    * (character width is the tokenizer-free proxy; swap the stride
    * arithmetic for token offsets when a real tokenizer's offsets are
    * available as a column).
    *
    * Pure per-row expression work: a `sequence` of chunk starts,
    * `transform` + `explode` — no shuffle, no UDF. Output one row per
    * chunk: (`id`, `chunk_idx`, `chunk`). Empty/blank docs yield one
    * empty chunk (kept — droppable by filter), every chunk except
    * possibly the last has exactly `width` chars.
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      width: Int = 512, overlap: Int = 64): DataFrame = {
    require(width > overlap && overlap >= 0,
      s"need width > overlap >= 0, got $width/$overlap")
    val stride = width - overlap
    val t = col(textCol)
    val nChunks = greatest(lit(1),
      ceil((length(t) - lit(overlap)).cast("double") / stride).cast("int"))
    docs.select(col(idCol).as("id"),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => substring(t, (i * stride + 1).cast("int"), lit(width))))
        .as(Seq("chunk_idx", "chunk")))
  }

  /** Assigns chunks/documents to training bins of ~`target` tokens:
    * bin = floor(running-token-count-before-this-row / target) within
    * each `groupCol` partition, rows taken in `orderCol` order. The
    * grouping key keeps the window partitioned (one global sequence
    * would serialize on a single partition at scale — the classic
    * unpartitioned-window trap); bins are then globally unique as
    * (group, bin). Greedy first-fit packs tighter but is inherently
    * sequential; this streaming split is the order-preserving variant
    * large pipelines use.
    *
    * At scale `groupCol` must be shard-grained — a key whose cardinality
    * grows with the corpus (file id, `spark_partition_id()`, a hash
    * bucket of the doc id — the gated queries use `doc_id mod shards`),
    * keeping each window's sort bounded. A low-cardinality key such as
    * `lang` sorts an entire language on one task at 100 TB. */
  def packBins(rows: DataFrame, groupCol: String, orderCol: String,
      tokenCol: String, target: Long): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.withColumn("bin",
      floor((sum(col(tokenCol)).over(w) - col(tokenCol)) / target))
  }

  /** Token-EXACT sequence packing with document SPLITTING — the
    * GPT-style packing an LLM pretraining pipeline actually runs:
    * documents fill fixed-length training sequences contiguously and a
    * document crossing a boundary SPLITS across sequences, so every
    * sequence but each stream's last is exactly `seqLen` tokens (100%
    * packing efficiency). [[packBins]] is the whole-document variant
    * (no splits, bins overshoot); this one emits per-(doc, sequence)
    * SPANS — `seq_id` plus the doc-relative token half-open interval
    * `[tok_start, tok_end)` — which the tokenizer stage consumes to
    * materialize sequences.
    *
    * Scale shape: ONE prefix-sum window per `groupCol` stream (the same
    * shard-grained-key contract as packBins — cardinality must grow
    * with the corpus) followed by a map-side explode over each doc's
    * covered-sequence range (≤ n_tokens/seqLen + 1 rows per doc). Pure
    * integer arithmetic → cross-engine oracle-exact. Zero- and
    * null-token rows are dropped (they occupy no span). */
  def packSpans(rows: DataFrame, groupCol: String, orderCol: String,
      tokenCol: String, seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    Reserved.guard("packSpans", rows, "__start", "__fin", "seq_id", "tok_start", "tok_end")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.where(col(tokenCol).isNotNull && col(tokenCol) > 0)
      // window offsets materialize as columns BEFORE the explode — a
      // window expression cannot sit under a Generate
      .withColumn("__start",
        sum(col(tokenCol)).over(w) - col(tokenCol))
      .withColumn("__fin", col("__start") + col(tokenCol))
      .withColumn("seq_id", explode(sequence(
        expr(s"__start div ${seqLen}L"),
        expr(s"(__fin - 1) div ${seqLen}L"))))
      .withColumn("tok_start",
        greatest(col("__start"), col("seq_id") * seqLen) - col("__start"))
      .withColumn("tok_end",
        least(col("__fin"), (col("seq_id") + lit(1L)) * seqLen) - col("__start"))
      .drop("__start", "__fin")
  }

  /** Shannon entropy (nats) of each document's codepoint distribution —
    * the cheap gibberish/boilerplate detector (natural text sits ~2.5-3.2
    * nats; base64 blobs, repeated padding, and single-char spam fall far
    * outside). Native single-pass expression
    * ([[graft.functions.TextSketches.charEntropy]]). */
  def charEntropy(text: Column): Column = TextSketches.entropy(text)

  // ───────────────── normalization / sentence segmentation ─────────────────

  /** Control characters stripped by [[cleanText]] (C0 minus \t\n\r, plus
    * DEL). The class is valid in both Java regex and RE2, so the DuckDB
    * oracle runs the identical expression. */
  val ControlCharClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Unicode normalization (default NFC) — native expression with a
    * no-allocation fast path for already-normalized text (see
    * [[graft.functions.TextSketches.unicodeNormalize]]). */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    graft.functions.TextSketches.normalize(text, form)

  /** Canonical text cleanup for corpus ingest: NFC-normalize, strip
    * control characters, collapse whitespace runs to single spaces, trim.
    * Per-row and codegen'd end-to-end — no shuffle, no UDF. (The \x0B/\x0C
    * whitespace chars Java's `\s` covers but RE2's does not are removed by
    * the control-strip BEFORE the collapse, keeping both dialects exact.) */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(normalizeUnicode(text), ControlCharClass, ""),
      "\\s+", " "))

  /** Terminator-preserving sentence segmentation: a boundary is a [.!?]
    * run followed by spaces. Lookbehind-free (Java∩RE2 dialect): boundaries
    * are marked with \u0001 then split — one generator expression per row,
    * no shuffle. Returns one row per sentence: (`id`, `sent_idx`,
    * `sentence`). */
  def splitSentences(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      posexplode(split(
        regexp_replace(col(textCol), "([.!?]) +", "$1\u0001"), "\u0001"))
        .as(Seq("sent_idx", "sentence")))

  // ───────────────────── corpus mixing ─────────────────────

  /** Deterministic per-source mixture sampling — the "data mixing" step
    * that reweights corpus sources before training (upsample books,
    * downsample crawl). A row survives when `key mod denom` falls below
    * its source's rate·denom: exact proportions without RNG, stable
    * across runs and engines, and monotone (the rate-0.2 sample is a
    * subset of the rate-0.5 sample — so remixing never churns the kept
    * set). Pure map-side filter, no shuffle. For non-dense keys hash
    * first (`xxhash64(key)` — engine-specific, which is why the gated
    * query keeps plain modulo on the dense doc id). Sources absent from
    * `rates` are dropped. */
  def weightedMix(docs: DataFrame, sourceCol: String, keyCol: String,
      rates: Map[String, Double], denom: Long = 10000L): DataFrame = {
    val rateExpr = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(0.0)) { case (acc, (s, r)) =>
        when(col(sourceCol) === s, lit(r)).otherwise(acc)
      }
    docs.filter(pmod(col(keyCol), lit(denom)) < rateExpr * denom)
  }

  /** Adaptive (percentile-based) quality gate: drop each group's bottom
    * `minPct` quantile of `scoreCol` — per-source thresholds instead of
    * one global cutoff, so a clean source is not decimated by a threshold
    * tuned for a dirty one.
    *
    * A row survives when `rank / n > minPct` (rank = its 1-based position
    * in the group's (score, tie) order, n = the group size): of an
    * n-row group, exactly `floor(minPct * n)` rows are dropped. Unlike a
    * `percent_rank >= minPct` filter — whose rank-1 row scores 0.0, so
    * any positive threshold deletes singleton groups outright and takes
    * half of every 2-row group — small groups degrade proportionally: a
    * singleton survives every `minPct < 1`, and an n=2 group loses a row
    * only once `minPct` reaches 0.5.
    *
    * Both windows (rank and group count) share the one group-partitioned
    * exchange — exact, deterministic, bounded by each group's own rows.
    * When groups are huge and approximate thresholds are acceptable, the
    * scale refinement is a per-group `approx_percentile` aggregate
    * broadcast back as a threshold — same shape as the corpus IDF scalar,
    * one aggregate plus a map-side filter, no window.
    */
  def percentileGate(docs: DataFrame, groupCols: Seq[String],
      scoreCol: String, tieCol: String, minPct: Double): DataFrame = {
    Reserved.guard("percentileGate", docs, "__rk", "__n")
    val part = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val w = part.orderBy(col(scoreCol), col(tieCol))
    docs.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(part))
      .filter(col("__rk").cast("double") / col("__n") > minPct)
      .drop("__rk", "__n")
  }

  // ───────────────────── PII scrubbing ─────────────────────

  /** Email pattern shared by Java regex and RE2 (so the DuckDB oracle can
    * run the identical expression). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-ish pattern: an optional +, then 7+ digits allowing separators. */
  val PhonePattern = "\\+?[0-9][0-9()\\-\\s]{5,}[0-9]"

  /** Redacts emails then phone numbers with typed placeholders — the
    * codegen'd `regexp_replace` builtin, not a UDF. Email first so a
    * digit-bearing local part is consumed as an email, not half-eaten as
    * a phone. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Count of email / phone matches (pre-scrub), for audit columns. */
  def piiCounts(text: Column): (Column, Column) =
    (size(regexp_extract_all(text, lit(EmailPattern), lit(0))),
      size(regexp_extract_all(regexp_replace(text, EmailPattern, "<EMAIL>"),
        lit(PhonePattern), lit(0))))

  // ───────────────────── fingerprinting ─────────────────────

  /** Winnowing-style document fingerprint: the `keep` smallest distinct
    * hash values over the word `n`-gram shingles, ascending — a compact,
    * order-independent sketch; equal fingerprints ⇒ near-identical content.
    * Fused native expression (no full hash-array materialization + sort). */
  def fingerprint(text: Column, n: Int = 3, keep: Int = 8): Column =
    graft.functions.TextSketches.fingerprintSketch(Dedup.shingles(text, n), keep)

  /** Single 64-bit rolled-up fingerprint (hash of the winnowed sketch). */
  def fingerprint64(text: Column, n: Int = 3, keep: Int = 8): Column =
    xxhash64(fingerprint(text, n, keep))

  // ───────────────────── keyword extraction ─────────────────────

  /** Per-document top-`k` TF-IDF terms — the cheap keyword extractor a
    * corpus index/summary pipeline runs on every document (tag clouds,
    * routing features, weak labels).
    *
    * Scale shape: one (doc, term) tf aggregate, one vocabulary-sized df
    * aggregate (broadcast back — AQE does this when it fits), the 1-row
    * corpus count as a scalar, then a doc-partitioned rank window —
    * parallel across documents. idf = ln(N / df) rounds to 6, the score
    * `tf · idf` to 6; ranks tie-break (score desc, term asc).
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val words = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = words.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") *
          round(log(col("__n").cast("double") / col("df")), 6), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("int").as("rank"),
        col("term"), col("tf"), col("score"))
  }

  // ───────────────────── collocations ─────────────────────

  /** Top-k collocations by pointwise mutual information:
    * `pmi(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) )` with
    * `p(w1,w2) = c12/N_bigrams` and `p(w) = c/N_tokens` — the standard
    * association score that surfaces multi-word expressions ("new york",
    * "machine learning") a phrase-aware tokenizer or stop-phrase filter
    * needs. `minCount` guards the score's low-frequency blow-up (a
    * hapax pair has maximal PMI by construction).
    *
    * Scale shape: bigrams form map-side via `zip_with` over offset
    * slices (no index-range explode); counts are two grouped
    * aggregations whose exchanges carry one row per DISTINCT unigram /
    * bigram (map-side partials collapse repeats); the `minCount` filter
    * prunes the bigram table BEFORE either unigram join (vocabulary-
    * sized sides AQE broadcasts when they fit); both corpus totals ride
    * as 1-row broadcast scalars; top-k plans as TakeOrderedAndProject.
    *
    * Cross-engine reproducibility: the log argument is assembled in
    * DOUBLE in a fixed multiplication order from exact integer counts,
    * and `ln` rounds to 6 (the BM25 gate's libm-parity rule); ties on
    * the rounded score break by (w1, w2).
    */
  def pmiCollocations(docs: DataFrame, textCol: String,
      minCount: Long = 5, k: Int = 20): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k > 0, s"k must be positive, got $k")
    Reserved.guard("pmiCollocations", docs, "__t", "__bg", "w1", "w2", "c1", "c2", "cb")
    val toks = split(trim(col(textCol)), "\\s+")
    val words = docs.select(explode(toks).as("w1"))
    val uni = words.groupBy("w1").agg(count(lit(1)).as("c"))
    val nTok = words.agg(count(lit(1)).cast("double").as("__n"))
    val grams = docs.select(toks.as("__t"))
      .select(explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val nBi = grams.agg(count(lit(1)).cast("double").as("__nb"))
    grams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .where(col("cb") >= minCount)
      .join(uni.select(col("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w1").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("cb").as("n_pair"),
        round(log(col("cb").cast("double") * col("__n") * col("__n") /
          (col("c1").cast("double") * col("c2") * col("__nb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** The hashing trick (Weinberger 2009): fixed-`dim` signed hashed
    * bag-of-words — the vocabulary-free featurizer (no dictionary to
    * build, broadcast, or grow; collisions average out under the ±1
    * sign hash). The linear-model/TF-bottom layer for corpus-scale
    * classifiers.
    *
    * Scale shape: pure map-side hashing (bucket = md5-derived mod
    * `dim`, sign from the next hash nibble) + one (doc, bucket)
    * aggregate. Output is the SPARSE exploded form (doc, bucket,
    * weight ≠ 0) — array renderings don't hash cross-engine, rows do.
    */
  def hashedBagOfWords(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim >= 2 && dim <= (1 << 20), s"need 2 <= dim <= 2^20, got $dim")
    val tok = explode(split(trim(col(textCol)), "\\s+")).as("__tok")
    val h = md5(col("__tok"))
    docs.select(col(idCol), tok)
      .where(col("__tok") =!= "")
      .select(col(idCol),
        (conv(substring(h, 1, 15), 16, 10).cast("long") % dim).as("bucket"),
        when(substring(h, 16, 1) < "8", 1).otherwise(-1).as("__sign"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__sign")).as("weight"))
      .where(col("weight") =!= 0)
  }
}
