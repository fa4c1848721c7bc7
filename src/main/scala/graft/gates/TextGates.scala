package graft.gates

import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Training-data text gates: tokenization, quality signals,
  * search, BPE and corpus mixing. */
private[graft] object TextGates {
  val gates: Seq[Gate] = Seq(
    // X-text: token counting (whitespace + BPE-ish regex)
    Gate("q_x_tokens", (s, dir) =>
      tw(s, dir, "documents").select(
        col("doc_id"),
        graft.operators.TextAnalysis.wsTokenCount(col("text")).as("n_ws"),
        graft.operators.TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy(col("doc_id")),
      Sql(() => """SELECT doc_id,
        |       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_ws,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // X-text: quality scoring (length/punct/stopword ratios + composite)
    Gate("q_x_quality", (s, dir) =>
      graft.operators.TextAnalysis.withQualitySignals(tw(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("punct_ratio"), 6).as("pr"),
          round(col("stopword_ratio"), 6).as("sr"),
          round(col("quality_score"), 6).as("score"))
        .orderBy(col("doc_id")),
      Sql(() => """WITH sig AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars_q,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
        |    len(regexp_extract_all(text, '[[:punct:]]')) AS n_punct,
        |    len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|is|that|it|for|with)\b')) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  ROUND(CASE WHEN n_chars_q > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_q ELSE 0.0 END, 6) AS pr,
        |  ROUND(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS sr,
        |  ROUND(
        |    LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100) * 0.4 +
        |    LEAST(1.0, (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 5) * 0.3 +
        |    (1.0 - LEAST(1.0, (CASE WHEN n_chars_q > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_q ELSE 0.0 END) * 4)) * 0.3,
        |  6) AS score
        |FROM sig ORDER BY doc_id""".stripMargin)),

    // X-text: language-ID heuristic (marker-word argmax)
    // every 25th doc is replaced by an UNSEGMENTED Chinese paragraph: the
    // char-level CJK fallback must classify it zh in both engines (the
    // oracle counts zh marker chars with a char class — RE2's \b cannot
    // match inside an ideograph run)
    Gate("q_x_langid", (s, dir) => {
      val zhDoc = lit("这是一个没有空格的中文测试文档他说的话我不在乎但是有人了解这个情况")
      val d = tw(s, dir, "documents").withColumn("sample",
        when(pmod(col("doc_id"), lit(25L)) === 3, zhDoc).otherwise(col("text")))
      graft.operators.TextAnalysis.withLanguageId(d, "sample")
        .select(col("doc_id"), col("lang_guess"), col("hits_en"), col("hits_zh"))
        .orderBy(col("doc_id"))
    },
      Sql(() => """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 25 = 3
        |         THEN '这是一个没有空格的中文测试文档他说的话我不在乎但是有人了解这个情况'
        |         ELSE text END AS sample
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(sample), '\b(der|die|und|das|von|zu|den|mit|ist|im)\b')) AS INTEGER) AS h_de,
        |    CAST(len(regexp_extract_all(lower(sample), '\b(the|and|of|to|in|is|that|it|for|with)\b')) AS INTEGER) AS h_en,
        |    CAST(len(regexp_extract_all(lower(sample), '\b(el|la|de|que|y|en|los|del|las|por)\b')) AS INTEGER) AS h_es,
        |    CAST(len(regexp_extract_all(lower(sample), '\b(le|la|de|et|les|des|en|un|du|une)\b')) AS INTEGER) AS h_fr,
        |    CAST(len(regexp_extract_all(sample, '[的了是我不在有人这他]')) AS INTEGER) AS h_zh
        |  FROM m)
        |SELECT doc_id,
        |  CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |       WHEN h_zh = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
        |       WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
        |       WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
        |       WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
        |       ELSE 'de' END AS lang_guess,
        |  h_en AS hits_en, h_zh AS hits_zh
        |FROM hits ORDER BY doc_id""".stripMargin)),

    // X-mix: temperature-reweighted source mixing (the LLM-pretraining
    // data-mix): per-source rates ∝ sqrt(n_s)/n_s computed in-plan
    // (sqrt is IEEE-exact → bit-identical cross-engine), keep decision
    // is the content-hash uniform — deterministic, monotone in the
    // budget, no RNG. The skewed source split is derived (the fixture's
    // sources are uniform); gate hashes per-source kept-counts + id sums
    Gate("q_x_mix", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("mix_src",
          when(col("doc_id") < 350, "web")
            .when(col("doc_id") < 450, "books").otherwise("code"))
      graft.operators.Sampling.temperatureMix(d, "mix_src", "doc_id",
          targetRows = 250, salt = "mix")
        .groupBy(col("mix_src"))
        .agg(count(lit(1)).cast("bigint").as("n_kept"),
          sum(col("doc_id")).cast("bigint").as("sum_id"))
        .orderBy(col("mix_src"))
    },
      // temperature mix: identical in-plan rate computation (round-6
      // sqrt shares into a DECIMAL sum, same left-assoc division chain)
      // and the same md5-uniform keep rule
      Sql(() => """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 350 THEN 'web'
        |         WHEN doc_id < 450 THEN 'books' ELSE 'code' END AS mix_src
        |  FROM documents),
        |counts AS (
        |  SELECT mix_src, count(*) AS n, ROUND(sqrt(count(*)), 6) AS share
        |  FROM d GROUP BY mix_src),
        |w AS (SELECT CAST(SUM(CAST(share AS DECIMAL(38,6))) AS DOUBLE) AS w
        |      FROM counts),
        |rates AS (
        |  SELECT mix_src, LEAST(1.0, 250.0 * share / w.w / n) AS rate
        |  FROM counts, w),
        |kept AS (
        |  SELECT d.doc_id, d.mix_src
        |  FROM d JOIN rates USING (mix_src)
        |  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 13))::BIGINT
        |        / 4503599627370496.0 < rate)
        |SELECT mix_src, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM kept GROUP BY mix_src ORDER BY mix_src""".stripMargin)),

    // X-capstone: composed training-data pipeline — quality gate + language
    // gate + exact dedup (keep lowest doc_id per distinct text). The dedup
    // groups on xxhash64(text) with a salted-hash collision verify
    // (Dedup.distinctMinIds): the shuffle carries 24-byte keys, not bodies.
    Gate("q_x_pipeline", (s, dir) => {
      val ta = graft.operators.TextAnalysis
      val scored = ta.withLanguageId(
        ta.withQualitySignals(tw(s, dir, "documents"), "text"), "text")
      graft.operators.Dedup.distinctMinIds(
          scored.filter(col("quality_score") >= 0.5 && col("lang_guess") === "en"),
          "doc_id", "text")
        .select(col("id").as("doc_id"))
        .orderBy(col("doc_id"))
    },
      Sql(() => """WITH sig AS (
        |  SELECT doc_id, text,
        |    length(text) AS n_chars_q,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
        |    len(regexp_extract_all(text, '[[:punct:]]')) AS n_punct,
        |    len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|is|that|it|for|with)\b')) AS n_stop,
        |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|von|zu|den|mit|ist|im)\b')) AS INTEGER) AS h_de,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|for|with)\b')) AS INTEGER) AS h_en,
        |    CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del|las|por)\b')) AS INTEGER) AS h_es,
        |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|de|et|les|des|en|un|du|une)\b')) AS INTEGER) AS h_fr,
        |    CAST(len(regexp_extract_all(text, '[的了是我不在有人这他]')) AS INTEGER) AS h_zh
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, text,
        |    LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100) * 0.4 +
        |    LEAST(1.0, (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 5) * 0.3 +
        |    (1.0 - LEAST(1.0, (CASE WHEN n_chars_q > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_q ELSE 0.0 END) * 4)) * 0.3
        |      AS quality_score,
        |    CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |         WHEN h_zh = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
        |         WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
        |         WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
        |         WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
        |         ELSE 'de' END AS lang_guess
        |  FROM sig)
        |SELECT MIN(doc_id) AS doc_id FROM scored
        |WHERE quality_score >= 0.5 AND lang_guess = 'en'
        |GROUP BY text ORDER BY doc_id""".stripMargin)),

    // X-clean: C4-style corpus-level boilerplate removal — non-overlapping
    // 3-token segments, a corpus census of distinct-doc frequency per
    // segment, segments in >= 3 docs dropped, docs reassembled in order.
    // Map-side segmenting (one row per SEGMENT, never per token), one
    // segment-keyed census aggregate, one segment equi-join, one ordered
    // doc-keyed reassembly — every stage keyed and linear.
    Gate("q_x_boilerplate", (s, dir) =>
      graft.operators.Boilerplate.removeRepeatedSegments(
          t(s, dir, "documents"), "doc_id", "text", segTokens = 3, minDocs = 3)
        .orderBy(col("doc_id")),
      // boilerplate: same tokenization (regexp \s+ split of trim — the
      // q_x_feathash convention), same non-overlapping slice windows
      // (both engines 1-based, end-clamped), same distinct-doc census,
      // same ordered reassembly; all-boilerplate docs emit '' not NULL
      Sql(() => """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |s AS (
        |  SELECT doc_id, CAST(t.i AS INTEGER) AS seg_idx,
        |    array_to_string(
        |      toks[(CAST(t.i AS INTEGER)*3+1):(CAST(t.i AS INTEGER)*3+3)],
        |      ' ') AS seg
        |  FROM d, UNNEST(range(0, CAST(ceil(len(toks)/3.0) AS BIGINT))) AS t(i)),
        |c AS (SELECT seg, count(DISTINCT doc_id) AS ndocs FROM s GROUP BY seg),
        |j AS (SELECT s.doc_id, s.seg_idx, s.seg, c.ndocs
        |      FROM s JOIN c USING (seg))
        |SELECT doc_id,
        |  coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
        |             FILTER (WHERE ndocs < 3), '') AS clean_text,
        |  count(*) FILTER (WHERE ndocs < 3) AS n_kept,
        |  count(*) FILTER (WHERE ndocs >= 3) AS n_dropped
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // X-text: corpus vocabulary — tf + exact document frequency in one
    // word-keyed shuffle, IDF from a broadcast scalar corpus count; top 30
    // under a total order
    Gate("q_x_vocab", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.vocabulary(d, "doc_id", "text")
        .orderBy(col("df").desc, col("tf").desc, col("word"))
        .limit(30)
    },
      Sql(() => """WITH words AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents)
        |SELECT word, CAST(COUNT(*) AS BIGINT) AS tf,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
        |  ROUND(LN(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
        |        / COUNT(DISTINCT doc_id)), 6) AS idf
        |FROM words GROUP BY word
        |ORDER BY df DESC, tf DESC, word LIMIT 30""".stripMargin)),

    // X-text: SKETCHED document frequency — one fixed-size HLL per word
    // in the shuffle instead of one row per distinct (word, doc) pair
    // (the bounded-shuffle scale path; round-3 VERDICT ask #5). The
    // estimate is NOT hashable cross-engine (the sketch's 26-bit hash
    // coupons collide once per ~2^27/df² words, so even small-df words
    // can be off by 1), so the gate hashes the operator's ERROR CONTRACT
    // instead: exact tf/df plus within_bound = |est − exact| <= max(1,
    // 2% · exact), oracled against TRUE — an estimator regression flips
    // booleans and is hash-visible.
    Gate("q_x_vocab_sketch", (s, dir) => {
      val d = t(s, dir, "documents")
      val ta = graft.operators.TextAnalysis
      val exact = ta.vocabulary(d, "doc_id", "text")
        .select(col("word"), col("tf"), col("df").as("df_exact"))
      val sk = ta.vocabularySketched(d, "doc_id", "text")
        .select(col("word"), col("df").as("df_est"))
      exact.join(sk, Seq("word"))
        .select(col("word"), col("tf"), col("df_exact"),
          (abs(col("df_est") - col("df_exact")).cast("double") <=
            greatest(lit(1.0), col("df_exact") * 0.02)).as("within_bound"))
        .orderBy(col("df_exact").desc, col("tf").desc, col("word"))
        .limit(30)
    },
      // sketched df: the estimate is engine-specific (DataSketches
      // coupons), so the oracle checks the error CONTRACT — exact tf/df
      // plus the bound flag the Spark side computes, expected TRUE
      Sql(() => """WITH words AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents)
        |SELECT word, CAST(COUNT(*) AS BIGINT) AS tf,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_exact,
        |  TRUE AS within_bound
        |FROM words GROUP BY word
        |ORDER BY df_exact DESC, tf DESC, word LIMIT 30""".stripMargin)),

    // X-text: distributed BPE tokenizer TRAINING — one corpus pass
    // builds the word-frequency table, 8 merge iterations run on that
    // cached vocabulary (each a tiny aggregate + 1-row argmax collect —
    // the iterative-driver scalar pattern). Merges apply as
    // boundary-delimited string replace, so the whole loop is
    // bit-reproducible in DuckDB ([[Bpe.oracleSql]] unrolls it as
    // chained CTEs, generated from the same parameters)
    Gate("q_x_bpe", (s, dir) => {
      val merges = graft.operators.Bpe.learn(tw(s, dir, "documents"), "text", 8)
      import s.implicits._
      merges.toDF("rank", "l", "r", "cnt").orderBy(col("rank"))
    },
      // BPE learning: the 8-merge loop unrolled as chained CTEs, generated
      // from the same (table, column, merge-count) parameters as the query
      Sql(() => graft.operators.Bpe.oracleSql("documents", "text", 8))),

    // X-text: BPE tokenizer ENCODE — the learned merge list applied to a
    // doc slice as a fold of boundary-delimited replaces (pure per-row
    // codegen expression work, no shuffle until the final count). The
    // oracle re-learns the same merges in CTEs and applies them in rank
    // order, so train AND apply are both hash-gated.
    Gate("q_x_bpe_encode", (s, dir) => {
      val bpe = graft.operators.Bpe
      val merges = bpe.learn(tw(s, dir, "documents"), "text", 8)
        .map(m => (m._2, m._3))
      val toks = bpe.segment(col("text"), merges)
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), toks.as("__toks"))
        .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("__toks"))).cast("long").as("n_distinct"))
        .filter(col("n_tokens") > 0) // blank-normalized docs drop out in SQL too
        .orderBy(col("doc_id"))
    },
      // BPE encode: the same generated loop CTEs re-learn the merge table,
      // then apply each merge in rank order to the doc slice
      Sql(() => graft.operators.Bpe.encodeOracleSql(
        "documents", "doc_id", "text", 8, "doc_id < 50"))),

    // X-text: Gopher-style repetition signal — per-doc top-bigram share
    Gate("q_x_rep_ratio", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 100)
      graft.operators.TextAnalysis.topBigramFraction(d, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      Sql(() => """WITH grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS gram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents WHERE doc_id < 100)),
        |counts AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2)
        |SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac,
        |       CAST(SUM(c) AS BIGINT) AS n_bigrams
        |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // X-text: bigram-LM perplexity quality scoring (the CCNet-style
    // filter signal) — model trained on the FULL corpus, a doc slice
    // scored; the doc filter pushes through the scoring aggregate while
    // the model-count subtrees keep reading everything. Log terms round
    // to 12 and accumulate as decimal, so the generated-twin parity
    // holds bit-for-bit (ln/exp are IEEE-stable across engines here).
    Gate("q_x_perplexity", (s, dir) => {
      graft.operators.TextAnalysis
        .bigramPerplexity(t(s, dir, "documents"), "doc_id", "text")
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"))
    },
      // bigram-LM perplexity: identical add-1 model in DuckDB — parallel
      // unnests zip the offset slices, per-(doc,bigram) n·ln p rounds to 12
      // and sums as DECIMAL, division/exp in DOUBLE rounded to 6
      Sql(() => """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(t) AS w1 FROM toks),
        |v AS (SELECT COUNT(DISTINCT w1) AS v FROM words),
        |uni AS (SELECT w1, COUNT(*) AS cu FROM words GROUP BY w1),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks),
        |bi AS (SELECT g, COUNT(*) AS cb FROM grams GROUP BY g),
        |dg AS (SELECT doc_id, w1, g, COUNT(*) AS n FROM grams GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT doc_id, n,
        |    CAST(ROUND(CAST(n AS DOUBLE) *
        |        LN((cb + 1.0) / (cu + 1.0 * v.v)), 12) AS DECIMAL(38,12)) AS lp
        |  FROM dg JOIN bi USING (g) JOIN uni USING (w1), v)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |  ROUND(-CAST(SUM(lp) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS cross_entropy,
        |  ROUND(EXP(-CAST(SUM(lp) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)), 6) AS perplexity
        |FROM sc WHERE doc_id < 100
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // X-text: PII scrubbing — codegen'd regexp_replace redaction + audit
    // counts. The fixture corpus carries no PII, so the scrubbed column is
    // constructed deterministically from fixture fields in BOTH engines;
    // the operator under test is the redaction expression itself.
    Gate("q_x_pii", (s, dir) => {
      val ta = graft.operators.TextAnalysis
      val synth = concat(
        lit("contact user"), col("doc_id"), lit("@mail.example.com or +1 555 "),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" re: "), substring(col("text"), 1, 40))
      val (nEmails, nPhones) = ta.piiCounts(synth)
      t(s, dir, "documents")
        .select(col("doc_id"), ta.scrubPii(synth).as("scrubbed"),
          nEmails.as("n_emails"), nPhones.as("n_phones"))
        .orderBy(col("doc_id"))
    },
      Sql(() => """WITH synth AS (
        |  SELECT doc_id,
        |    'contact user' || doc_id || '@mail.example.com or +1 555 ' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: ' ||
        |    substring(text, 1, 40) AS s
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\-\s]{5,}[0-9]', '<PHONE>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\-\s]{5,}[0-9]')) AS INTEGER) AS n_phones
        |FROM synth ORDER BY doc_id""".stripMargin)),

    // X-text: fixed-width overlapping chunking — the long-document →
    // training-window step; pure per-row sequence/transform/posexplode,
    // no shuffle
    Gate("q_x_chunks", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.chunkDocuments(d, "doc_id", "text",
          width = 120, overlap = 20)
        .orderBy(col("id"), col("chunk_idx"))
    },
      Sql(() => """WITH e AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, GREATEST(1,
        |      CAST(CEIL((length(text) - 20) / 100.0) AS BIGINT)))) AS i
        |  FROM documents)
        |SELECT doc_id AS id, CAST(i AS INT) AS chunk_idx,
        |  substring(text, CAST(i * 100 + 1 AS INT), 120) AS chunk
        |FROM e ORDER BY id, chunk_idx""".stripMargin)),

    // X-text: sequence packing — bin assignment by running token count
    // within each SHARD partition (`doc_id mod 16`, the scale-grained
    // key: cardinality grows with the corpus, so every window partition
    // stays bounded — a low-cardinality key like lang would sort an
    // entire language on one task at 100 TB)
    Gate("q_x_packed", (s, dir) => {
      val ta = graft.operators.TextAnalysis
      val tk = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          pmod(col("doc_id"), lit(16L)).as("shard"),
          ta.wsTokenCount(col("text")).cast("bigint").as("n_tokens"))
      ta.packBins(tk, "shard", "doc_id", "n_tokens", 500L)
        .orderBy(col("doc_id"))
    },
      Sql(() => """WITH tk AS (
        |  SELECT doc_id, lang, CAST(doc_id % 16 AS BIGINT) AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, shard, n_tokens,
        |  CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |       / 500.0) AS BIGINT) AS bin
        |FROM tk ORDER BY doc_id""".stripMargin)),

    // X-text: token-exact sequence packing WITH document splitting (the
    // GPT-pretraining shape; q_x_packed is the whole-doc bin variant):
    // one shard-partitioned prefix-sum window, then a map-side explode
    // of each doc over its covered 500-token sequences — every sequence
    // but each shard's last is exactly full. Pure integer arithmetic.
    Gate("q_x_packed_spans", (s, dir) => {
      val ta = graft.operators.TextAnalysis
      val tk = t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(16L)).as("shard"),
          ta.wsTokenCount(col("text")).cast("bigint").as("n_tokens"))
      ta.packSpans(tk, "shard", "doc_id", "n_tokens", 500L)
        .select(col("doc_id"), col("shard"), col("seq_id"),
          col("tok_start"), col("tok_end"))
        .orderBy(col("doc_id"), col("seq_id"))
    },
      // split-packing spans: identical prefix sums, integer div/greatest/
      // least on BIGINTs, DuckDB range() covering [st//L, (fin-1)//L]
      Sql(() => """WITH tk AS (
        |  SELECT doc_id, CAST(doc_id % 16 AS BIGINT) AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, shard, n,
        |    CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
        |      AS BIGINT) AS st
        |  FROM tk WHERE n > 0),
        |x AS (SELECT doc_id, shard, n, st, st + n AS fin FROM p),
        |e AS (
        |  SELECT doc_id, shard, st, fin,
        |    unnest(range(st // 500, (fin - 1) // 500 + 1)) AS seq_id
        |  FROM x)
        |SELECT doc_id, shard, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(GREATEST(st, seq_id * 500) - st AS BIGINT) AS tok_start,
        |  CAST(LEAST(fin, (seq_id + 1) * 500) - st AS BIGINT) AS tok_end
        |FROM e ORDER BY doc_id, seq_id""".stripMargin)),

    // X-text: canonical unicode cleanup — NFC normalization (native
    // expression with a no-alloc fast path), control-char strip,
    // whitespace collapse, trim. The fixture corpus is ASCII-clean, so a
    // messy input (decomposed accents, a BEL, tab runs) is constructed
    // deterministically from fixture fields in BOTH engines; the operator
    // under test is the cleanup expression chain itself.
    Gate("q_x_normalize", (s, dir) => {
      val ta = graft.operators.TextAnalysis
      val messy = concat(lit("Cafe\u0301 \t \u0007"),
        substring(col("text"), 1, 60), lit("  nai\u0308ve"))
      t(s, dir, "documents")
        .select(col("doc_id"), ta.cleanText(messy).as("cleaned"),
          length(messy).as("n_raw"), length(ta.cleanText(messy)).as("n_clean"))
        .orderBy(col("doc_id"))
    },
      // unicode cleanup: identical regexes (Java∩RE2 dialect), DuckDB's
      // nfc_normalize for the NFC step, messy input built with chr()
      Sql(() => """WITH m AS (
        |  SELECT doc_id,
        |    'Cafe' || chr(769) || ' ' || chr(9) || ' ' || chr(7) ||
        |    substr(text, 1, 60) || '  nai' || chr(776) || 've' AS messy
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, messy,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(messy),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '\s+', ' ', 'g')) AS cleaned
        |  FROM m)
        |SELECT doc_id, cleaned, length(messy) AS n_raw,
        |  length(cleaned) AS n_clean
        |FROM c ORDER BY doc_id""".stripMargin)),

    // X-text: sentence segmentation — terminator-preserving [.!?]+space
    // split (lookbehind-free Java∩RE2 dialect), posexplode to one row per
    // sentence. Sentence-bearing input constructed from fixture fields in
    // both engines (fixture text is punctuation-free).
    Gate("q_x_sentences", (s, dir) => {
      val synth = concat(substring(col("text"), 1, 50), lit(". "),
        substring(col("text"), 51, 40), lit("! "),
        substring(col("text"), 91, 30), lit("? End"))
      graft.operators.TextAnalysis.splitSentences(
          t(s, dir, "documents").filter(col("doc_id") < 200)
            .select(col("doc_id"), synth.as("synth")),
          "doc_id", "synth")
        .orderBy(col("id"), col("sent_idx"))
    },
      // sentence split: chr(1) boundary marker (lookbehind-free), parallel
      // unnests zip positionally in DuckDB
      Sql(() => """WITH m AS (
        |  SELECT doc_id,
        |    substr(text, 1, 50) || '. ' || substr(text, 51, 40) || '! ' ||
        |    substr(text, 91, 30) || '? End' AS synth
        |  FROM documents WHERE doc_id < 200),
        |sp AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(synth, '([.!?]) +', '\1' || chr(1), 'g'),
        |    chr(1)) AS s
        |  FROM m)
        |SELECT doc_id AS id,
        |  CAST(unnest(generate_series(1, len(s))) - 1 AS INT) AS sent_idx,
        |  unnest(s) AS sentence
        |FROM sp ORDER BY id, sent_idx""".stripMargin)),

    // X-capstone-2: the COMPLETE training-data ingest pipeline in one
    // call — clean → quality/lang gate → exact dedup → benchmark
    // decontamination → chunk → token-count → pack — raw documents to
    // training-ready chunks, fully DuckDB-oracled end to end. Packing is
    // SHARD-GRAINED (packShards = 8, the scale-safe shape: 8 bounded
    // window partitions instead of one global sort); bins are unique as
    // (shard, bin) and the oracle reproduces them per shard.
    Gate("q_x_pipeline2", (s, dir) => {
      val d = tw(s, dir, "documents")
      graft.operators.CorpusPipeline.trainingChunks(
          d.filter(col("doc_id") < 490), d.filter(col("doc_id") >= 490),
          packShards = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      // capstone-2: the full ingest chain as one CTE pipeline — each stage
      // is the proven oracle formulation of its individually-gated operator
      Sql(() => """WITH cleaned AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'), '\s+', ' ', 'g')) AS text
        |  FROM documents WHERE doc_id < 490),
        |sig AS (
        |  SELECT doc_id, text,
        |    length(text) AS n_chars_q,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
        |    len(regexp_extract_all(text, '[[:punct:]]')) AS n_punct,
        |    len(regexp_extract_all(lower(text),
        |      '\b(the|and|of|to|in|is|that|it|for|with)\b')) AS n_stop,
        |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|von|zu|den|mit|ist|im)\b')) AS INTEGER) AS h_de,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|for|with)\b')) AS INTEGER) AS h_en,
        |    CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del|las|por)\b')) AS INTEGER) AS h_es,
        |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|de|et|les|des|en|un|du|une)\b')) AS INTEGER) AS h_fr,
        |    CAST(len(regexp_extract_all(text, '[的了是我不在有人这他]')) AS INTEGER) AS h_zh
        |  FROM cleaned),
        |gate AS (
        |  SELECT doc_id, text FROM sig
        |  WHERE LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100) * 0.4 +
        |    LEAST(1.0, (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 5) * 0.3 +
        |    (1.0 - LEAST(1.0, (CASE WHEN n_chars_q > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_q ELSE 0.0 END) * 4)) * 0.3
        |    >= 0.5
        |  AND (CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |       WHEN h_zh = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
        |       WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
        |       WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
        |       WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
        |       ELSE 'de' END) = 'en'),
        |dedup AS (SELECT MIN(doc_id) AS doc_id, text FROM gate GROUP BY text),
        |shd AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM dedup)),
        |shb AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents WHERE doc_id >= 490)),
        |contaminated AS (
        |  SELECT d.doc_id FROM shd d JOIN shb b ON d.s = b.s
        |  GROUP BY d.doc_id HAVING COUNT(DISTINCT d.s) >= 3),
        |kept AS (SELECT * FROM dedup
        |         WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |chunks AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |    substring(text, CAST(i * 100 + 1 AS INT), 120) AS chunk
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, GREATEST(1,
        |            CAST(CEIL((length(text) - 20) / 100.0) AS BIGINT)))) AS i
        |        FROM kept)),
        |tok AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |    CAST(CASE WHEN length(trim(chunk)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(chunk), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM chunks)
        |SELECT doc_id, chunk_idx, chunk, n_tokens,
        |  CAST(doc_id % 8 AS BIGINT) AS shard,
        |  CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY doc_id % 8
        |       ORDER BY doc_id, chunk_idx
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |       / 200.0) AS BIGINT) AS bin
        |FROM tok ORDER BY doc_id, chunk_idx""".stripMargin)),

    // X-mix: deterministic source reweighting (data mixing) — modulo
    // gate on the dense doc id, exact proportions, no RNG, map-side only
    Gate("q_x_mixture", (s, dir) => {
      val rates = Map("src0" -> 0.5, "src1" -> 0.25, "src3" -> 1.0,
        "src7" -> 0.1)
      graft.operators.TextAnalysis.weightedMix(
          t(s, dir, "documents"), "source", "doc_id", rates, denom = 100L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("source"))
    },
      // mixture: the same modulo gate, spelled as a CASE over the rates
      Sql(() => """SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM documents
        |WHERE doc_id % 100 < 100 * (CASE source
        |  WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
        |  WHEN 'src3' THEN 1.0 WHEN 'src7' THEN 0.1 ELSE 0 END)
        |GROUP BY source ORDER BY source""".stripMargin)),

    // X-text: per-document codepoint entropy (gibberish/boilerplate
    // signal) — native one-pass expression vs the oracle's
    // unnest-groupBy-sum formulation; ROUND(…,6) absorbs summation order
    Gate("q_x_entropy", (s, dir) => {
      val ta = graft.operators.TextAnalysis
      t(s, dir, "documents")
        .select(col("doc_id"), round(ta.charEntropy(col("text")), 6).as("entropy"))
        .orderBy(col("doc_id"))
    },
      // char entropy: -sum p ln p over the codepoint frequencies
      Sql(() => """WITH chars AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
        |  FROM documents),
        |freq AS (
        |  SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS n
        |  FROM chars GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, sum(n) AS t FROM freq GROUP BY doc_id)
        |SELECT f.doc_id, ROUND(SUM(-(n / t) * ln(n / t)), 6) AS entropy
        |FROM freq f JOIN tot USING (doc_id)
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin)),

    // X-pmi: top-k collocations by pointwise mutual information — the
    // multi-word-expression signal; bigrams map-side via zip_with,
    // count shuffles carry one row per distinct gram, minCount prunes
    // before the unigram joins, totals ride as 1-row broadcasts, top-k
    // plans as TakeOrderedAndProject. ln rounds to 6 (BM25 libm-parity
    // rule); rounded-score ties break by (w1, w2).
    Gate("q_x_pmi", (s, dir) =>
      graft.operators.TextAnalysis.pmiCollocations(
        t(s, dir, "documents"), "text", minCount = 5, k = 20),
      // PMI: identical integer counts, identical double assembly order
      Sql(() => """WITH toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |words AS (SELECT unnest(t) AS w FROM toks),
        |uni AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM words),
        |grams AS (
        |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
        |         unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
        |  FROM toks),
        |nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nb FROM grams),
        |bi AS (SELECT w1, w2, COUNT(*) AS cb FROM grams
        |       GROUP BY w1, w2 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, CAST(cb AS BIGINT) AS n_pair,
        |  ROUND(LN(CAST(cb AS DOUBLE) * n.n * n.n /
        |    (CAST(u1.c AS DOUBLE) * u2.c * nb.nb)), 6) AS pmi
        |FROM bi JOIN uni u1 ON bi.w1 = u1.w
        |        JOIN uni u2 ON bi.w2 = u2.w, n, nb
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin)),

    // X-cooccur: market-basket related items — per-order distinct part
    // sets (collect_set dedups map-side), pairs emitted map-side from
    // each set (no self-join), per-item top-3 via the bounded TopK heap
    // (k rows/item/partition at the exchange, no full-group sort);
    // mega-baskets capped, the standard association-mining guard.
    Gate("q_x_cooccur", (s, dir) =>
      graft.operators.Cooccurrence.relatedItems(
        t(s, dir, "lineitem").where(col("l_partkey") % 3 === 0),
        "l_orderkey", "l_partkey", k = 3, maxBasket = 64),
      // co-occurrence: distinct (basket, item) pairs → pair counts →
      // row_number per item over (n DESC, co_item DESC) — the TopK
      // aggregate's deterministic (ord, tie) rule
      Sql(() => """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem WHERE l_partkey % 3 = 0),
        |ok AS (
        |  SELECT b FROM bi GROUP BY b
        |  HAVING COUNT(*) BETWEEN 2 AND 64),
        |pc AS (
        |  SELECT x.i AS item, y.i AS co_item, COUNT(*) AS n
        |  FROM bi x JOIN ok USING (b) JOIN bi y USING (b)
        |  WHERE x.i <> y.i
        |  GROUP BY 1, 2)
        |SELECT item, CAST(rn - 1 AS INT) AS rank, co_item,
        |  CAST(n AS BIGINT) AS n
        |FROM (
        |  SELECT item, co_item, n, row_number() OVER (
        |    PARTITION BY item ORDER BY n DESC, co_item DESC) AS rn
        |  FROM pc)
        |WHERE rn <= 3
        |ORDER BY item, rank""".stripMargin)),

    // X-bm25: full-text relevance search — BM25 over an inverted-index
    // aggregation; non-query tokens drop map-side BEFORE any shuffle,
    // df/corpus stats broadcast, top-k via TakeOrderedAndProject
    Gate("q_x_bm25", (s, dir) =>
      graft.operators.TextSearch.bm25Search(
        t(s, dir, "documents"), "doc_id", "text",
        Seq("query", "merge", "stream"), k = 20),
      // BM25: identical inverted-index formulation — idf and avgdl rounded
      // to 6 (libm parity), per-term contributions rounded to 9 and
      // decimal-accumulated, score rounded to 6
      Sql(() => """WITH base AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS dl,
        |    text
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    ROUND(CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE)
        |          / CAST(count(*) AS DOUBLE), 6) AS avgdl
        |  FROM base),
        |tf AS (
        |  SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |        FROM base)
        |  WHERE word IN ('query', 'merge', 'stream')
        |  GROUP BY doc_id, dl, word),
        |dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    ROUND(ROUND(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)), 6)
        |      * (tf.tf * (1.2 + 1.0))
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)), 9) AS c
        |  FROM tf JOIN dfreq USING (word) CROSS JOIN stats)
        |SELECT doc_id, ROUND(CAST(SUM(CAST(c AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
        |FROM contrib GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin)),

    // X-gate: adaptive per-source quality gate — drop each source's own
    // bottom length-quartile (rank/n > 0.25; small groups degrade
    // proportionally instead of vanishing). Output is the per-source
    // census of survivors.
    Gate("q_x_quality_gate", (s, dir) =>
      graft.operators.TextAnalysis.percentileGate(
          t(s, dir, "documents"), Seq("source"), "n_chars", "doc_id",
          minPct = 0.25)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("min_len"),
          sum(col("doc_id")).as("sum_id"))
        .orderBy(col("source")),
      // percentile gate: same rank/n-within-source quantile rule (drops
      // floor(minPct*n) rows per group; singleton groups always survive)
      Sql(() => """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars, doc_id) AS rk,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |       min(n_chars) AS min_len,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM ranked WHERE CAST(rk AS DOUBLE) / n > 0.25
        |GROUP BY source ORDER BY source""".stripMargin)),

    // X-repetition: the Gopher §A1.1 within-document repetition battery
    // (dup-line fraction/chars, top-{2,3,4}-gram char fraction, dup-
    // 5-gram char fraction) — the quality gates run BEFORE dedup. The
    // fixture text is single-line, so the gate derives an 8-token line
    // structure from the token stream (same derivation in the oracle);
    // grams run over the full stream. One tagged explode → one
    // (doc, n, gram) count shuffle covers all four gram sizes.
    Gate("q_x_repetition", (s, dir) => {
      val toks = split(trim(col("text")), "\\s+")
      // 8-token lines: the fused ChunkSegments under a plain array_join
      // (no lambda; the HOF twin is spec-pinned in WordNGramsFusedSpec)
      val mltext = array_join(
        graft.functions.ChunkSegments.column(toks, 8, " "), "\n")
      val d = tw(s, dir, "documents").select(col("doc_id"), mltext.as("mtext"))
      graft.operators.Repetition.gopherSignals(d, "doc_id", "mtext")
        .orderBy(col("doc_id"))
    },
      // Gopher repetition battery: identical 8-token line derivation,
      // identical tagged gram expansion; all counts/char totals integer,
      // final divisions ROUND(,6); top-gram ties (c desc, len desc,
      // gram asc) in both engines
      Sql(() => """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |lined AS (
        |  SELECT doc_id, toks,
        |    list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)),
        |      i -> array_to_string(toks[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' ')) AS lines
        |  FROM base),
        |chars AS (
        |  SELECT doc_id, toks, lines,
        |    CAST(length(array_to_string(lines, chr(10))) AS BIGINT) AS chars
        |  FROM lined),
        |linecount AS (
        |  SELECT doc_id, line, count(*) AS c,
        |    CAST(length(line) AS BIGINT) AS gl
        |  FROM (SELECT doc_id, unnest(lines) AS line FROM chars)
        |  GROUP BY doc_id, line),
        |linestats AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
        |    ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |      / SUM(c), 6) AS dup_line_frac,
        |    ROUND(CASE WHEN SUM(c*gl) > 0
        |      THEN CAST(SUM(CASE WHEN c > 1 THEN c*gl ELSE 0 END) AS DOUBLE)
        |        / SUM(c*gl) ELSE 0.0 END, 6) AS dup_line_char_frac
        |  FROM linecount GROUP BY doc_id),
        |grams AS (
        |  SELECT doc_id, chars, n, gram, count(*) AS c,
        |    CAST(length(gram) AS BIGINT) AS gl
        |  FROM (
        |    SELECT c.doc_id, c.chars, n.n AS n,
        |      unnest(list_transform(range(1, len(c.toks) - n.n + 2),
        |        i -> array_to_string(c.toks[CAST(i AS INT):CAST(i + n.n - 1 AS INT)], ' '))) AS gram
        |    FROM chars c, (VALUES (2),(3),(4),(5)) n(n)
        |    WHERE len(c.toks) >= n.n)
        |  GROUP BY doc_id, chars, n, gram),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |    ORDER BY c DESC, gl DESC, gram ASC) AS rn
        |  FROM grams),
        |gramstats AS (
        |  SELECT doc_id, chars,
        |    ROUND(CAST(MAX(CASE WHEN n=2 AND rn=1 THEN c*gl END) AS DOUBLE) / chars, 6) AS t2,
        |    ROUND(CAST(MAX(CASE WHEN n=3 AND rn=1 THEN c*gl END) AS DOUBLE) / chars, 6) AS t3,
        |    ROUND(CAST(MAX(CASE WHEN n=4 AND rn=1 THEN c*gl END) AS DOUBLE) / chars, 6) AS t4,
        |    ROUND(CAST(COALESCE(SUM(CASE WHEN n=5 AND c>1 THEN c*gl END), 0) AS DOUBLE) / chars, 6) AS d5
        |  FROM ranked GROUP BY doc_id, chars)
        |SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
        |  COALESCE(g.t2, 0.0) AS top_2gram_frac,
        |  COALESCE(g.t3, 0.0) AS top_3gram_frac,
        |  COALESCE(g.t4, 0.0) AS top_4gram_frac,
        |  COALESCE(g.d5, 0.0) AS dup_5gram_frac
        |FROM linestats l LEFT JOIN gramstats g USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin)),

    // X-hybrid: reciprocal rank fusion of the lexical (BM25) and
    // semantic (exact cosine) retrievers — hybrid search without score
    // calibration. Both input lists are top-20 RESULTS (bounded by
    // construction), so the fusion's rank windows run over ≤20 rows;
    // the corpus-scale work stays inside the retrievers.
    Gate("q_x_hybrid_rrf", (s, dir) => {
      val lex = graft.operators.TextSearch.bm25Search(
        t(s, dir, "documents"), "doc_id", "text",
        Seq("query", "merge", "stream"), k = 20)
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val sem = graft.operators.Similarity
        .bruteForceTopK(emb, "vec_id", "embedding", qv, 20)
        .select(col("vec_id").as("doc_id"), col("cos").as("score"))
      graft.operators.Fusion.reciprocalRankFusion(
        Seq(lex.select(col("doc_id"), col("score")), sem),
        "doc_id", "score", kRrf = 60, topK = 15)
    },
      // RRF hybrid retrieval: the bm25 CTE chain (= q_x_bm25 at k=20) and
      // the cosine CTE (= q_x_cosine_topk at k=20) feed identical
      // row_number ranks; 1/(60+rank) rounds to 9 into a DECIMAL sum
      Sql(() => """WITH base AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS dl,
        |    text
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    ROUND(CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE)
        |          / CAST(count(*) AS DOUBLE), 6) AS avgdl
        |  FROM base),
        |tf AS (
        |  SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |        FROM base)
        |  WHERE word IN ('query', 'merge', 'stream')
        |  GROUP BY doc_id, dl, word),
        |dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    ROUND(ROUND(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)), 6)
        |      * (tf.tf * (1.2 + 1.0))
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)), 9) AS c
        |  FROM tf JOIN dfreq USING (word) CROSS JOIN stats),
        |lex AS (
        |  SELECT doc_id, ROUND(CAST(SUM(CAST(c AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
        |  FROM contrib GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 20),
        |sem AS (
        |  SELECT vec_id AS doc_id,
        |    ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
        |  FROM embeddings ORDER BY score DESC, doc_id LIMIT 20),
        |ranked AS (
        |  SELECT doc_id, ROUND(1.0 / (60 + row_number() OVER
        |    (ORDER BY score DESC, doc_id)), 9) AS c FROM lex
        |  UNION ALL
        |  SELECT doc_id, ROUND(1.0 / (60 + row_number() OVER
        |    (ORDER BY score DESC, doc_id)), 9) AS c FROM sem)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
        |  ROUND(CAST(SUM(CAST(c AS DECIMAL(38,12))) AS DOUBLE), 6) AS rrf_score
        |FROM ranked GROUP BY doc_id
        |ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin)),

    // X-topterms: per-doc TF-IDF keyword extraction — (doc, term) tf +
    // vocab-sized df aggregates, 1-row corpus scalar, doc-partitioned
    // rank window
    Gate("q_x_topterms", (s, dir) =>
      graft.operators.TextAnalysis.topTerms(
          tw(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank")),
      // top terms: identical tf/df aggregates, round-6 idf and score,
      // same (score desc, term asc) rank ties
      Sql(() => """WITH words AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |w2 AS (SELECT * FROM words WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM w2 GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    ROUND(tf.tf * ROUND(ln(CAST(nd.n AS DOUBLE) / dfreq.df), 6), 6) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, CAST(rn AS INTEGER) AS rank, term, tf, score
        |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // X-dsir: DSIR-style importance weighting for data selection — the
    // corpus scored by hashed-unigram log likelihood ratio against the
    // English slice as the target distribution. Bucket tables broadcast;
    // per-doc scoring joins distinct (doc, bucket) rows, not tokens.
    Gate("q_x_dsir", (s, dir) => {
      val d = tw(s, dir, "documents")
      graft.operators.ImportanceWeights.dsirLogRatios(
          d, d.filter(col("lang") === "en"), "doc_id", "text",
          buckets = 256)
        .orderBy(col("doc_id"))
    },
      // DSIR log ratios: same md5-prefix bucket idiom, same smoothed
      // ratio-of-ratios association inside ln, ROUND(,9) per bucket term
      // into a DECIMAL sum
      Sql(() => """WITH rawtok AS (
        |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % 256 AS b
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |        FROM documents)
        |  WHERE length(t) > 0),
        |tgttok AS (
        |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % 256 AS b
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |        FROM documents WHERE lang = 'en')
        |  WHERE length(t) > 0),
        |rawdist AS (SELECT b, count(*) AS cr FROM rawtok GROUP BY b),
        |tgtdist AS (SELECT b, count(*) AS ct FROM tgttok GROUP BY b),
        |tot AS (SELECT (SELECT count(*) FROM rawtok) AS nr,
        |               (SELECT count(*) FROM tgttok) AS nt),
        |lam AS (
        |  SELECT r.b, ROUND(ln(
        |    ((COALESCE(t.ct, 0) + 1.0) / (tot.nt + 1.0 * 256.0)) /
        |    ((r.cr + 1.0) / (tot.nr + 1.0 * 256.0))), 9) AS lam
        |  FROM rawdist r LEFT JOIN tgtdist t USING (b) CROSS JOIN tot),
        |docb AS (SELECT doc_id, b, count(*) AS n FROM rawtok GROUP BY doc_id, b)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(ROUND(n * lam, 9) AS DECIMAL(38,12))) AS DOUBLE), 6) AS log_ratio
        |FROM docb JOIN lam USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // X-assoc: pairwise association rules over order baskets (bounded
    // mod-40 item domain) — basket-keyed pair join + marginals, ratios
    // from exact integer counts
    Gate("q_x_assoc", (s, dir) =>
      graft.operators.Cooccurrence.associationRules(
          t(s, dir, "lineitem")
            .select(col("l_orderkey").as("basket"),
              (col("l_partkey") % 40).as("item")),
          "basket", "item", minSupport = 20)
        .orderBy(col("ante"), col("cons")),
      // association rules: same distinct-basket pair join + marginals
      Sql(() => """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey % 40 AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |pc AS (
        |  SELECT a.i AS i, c.i AS j, count(*) AS nab
        |  FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 20),
        |ic AS (SELECT i, count(*) AS ni FROM bi GROUP BY i),
        |tot AS (SELECT count(DISTINCT b) AS nb FROM bi),
        |d AS (
        |  SELECT i AS ante, j AS cons, nab FROM pc
        |  UNION ALL
        |  SELECT j AS ante, i AS cons, nab FROM pc)
        |SELECT ante, cons, CAST(nab AS BIGINT) AS n_ab,
        |  ROUND(CAST(nab AS DOUBLE) / nb, 6) AS support,
        |  ROUND(CAST(nab AS DOUBLE) / na.ni, 6) AS confidence,
        |  ROUND(CAST(nab AS DOUBLE) * nb / (CAST(na.ni AS DOUBLE) * nc.ni), 6)
        |    AS lift
        |FROM d
        |JOIN ic na ON d.ante = na.i
        |JOIN ic nc ON d.cons = nc.i
        |CROSS JOIN tot
        |ORDER BY ante, cons""".stripMargin)),

    // X-ttr: per-document type-token ratio — lexical diversity as a
    // pure map-side HOF (distinct tokens / tokens), the quality signal
    // the stopword/punct panel doesn't capture
    Gate("q_x_ttr", (s, dir) =>
      tw(s, dir, "documents")
        .select(col("doc_id"),
          size(array_distinct(split(trim(col("text")), "\\s+")))
            .as("n_types"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"))
        .select(col("doc_id"), col("n_types"), col("n_tokens"),
          when(col("n_tokens") > 0,
            round(col("n_types").cast("double") / col("n_tokens"), 6))
            .as("ttr"))
        .orderBy(col("doc_id")),
      // TTR: list_distinct/len twins of array_distinct/size
      Sql(() => """SELECT doc_id,
        |  CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |    AS INTEGER) AS n_types,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER)
        |    AS n_tokens,
        |  CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 0
        |  THEN ROUND(
        |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')), 6) END AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // X-vocabcov: tokenizer-budget coverage curve — what share of all
    // corpus tokens the top-k vocabulary words capture (k = 5, 15 of
    // the 31-word fixture vocab); TakeOrdered bounded heads, exact
    // integer token sums, 1-row total scalar
    Gate("q_x_vocab_coverage", (s, dir) => {
      val vocab = graft.operators.TextAnalysis.vocabulary(
          tw(s, dir, "documents"), "doc_id", "text")
        .select(col("word"), col("tf"))
      val total = vocab.agg(sum(col("tf")).as("__total"))
      def cov(k: Int) = vocab.orderBy(col("tf").desc, col("word")).limit(k)
        .agg(sum(col("tf")).as("top_tokens"))
        .select(lit(k).as("k"), col("top_tokens"))
      cov(5).unionByName(cov(15))
        .crossJoin(broadcast(total))
        .select(col("k"), col("top_tokens"),
          col("__total").as("total_tokens"),
          round(col("top_tokens").cast("double") /
            col("__total").cast("double"), 6).as("coverage"))
        .orderBy(col("k"))
    },
      // vocab coverage: identical top-k heads + token totals
      Sql(() => """WITH v AS (
        |  SELECT w AS word, count(*) AS tf FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total_tokens FROM v),
        |t5 AS (SELECT CAST(SUM(tf) AS BIGINT) AS top_tokens FROM
        |       (SELECT tf FROM v ORDER BY tf DESC, word LIMIT 5)),
        |t15 AS (SELECT CAST(SUM(tf) AS BIGINT) AS top_tokens FROM
        |        (SELECT tf FROM v ORDER BY tf DESC, word LIMIT 15)),
        |u AS (
        |  SELECT 5 AS k, top_tokens FROM t5
        |  UNION ALL SELECT 15, top_tokens FROM t15)
        |SELECT k, top_tokens, total_tokens,
        |  ROUND(CAST(top_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
        |    AS coverage
        |FROM u CROSS JOIN tot ORDER BY k""".stripMargin)),

    // X-kappa: Cohen's κ of the language-ID heuristic vs ground truth —
    // integer-exact confusion counts and marginals, fixed-order double
    // closed form
    Gate("q_x_kappa", (s, dir) => {
      val conf = graft.operators.TextAnalysis.withLanguageId(
          tw(s, dir, "documents"), "text")
        .groupBy(col("lang"), col("lang_guess")).agg(count(lit(1)).as("n"))
      val tot = conf.agg(sum(col("n")).as("__N"),
        sum(when(col("lang") === col("lang_guess"), col("n"))
          .otherwise(0L)).as("__agree"))
      val rt = conf.groupBy(col("lang")).agg(sum(col("n")).as("__r"))
      val ct = conf.groupBy(col("lang_guess")).agg(sum(col("n")).as("__c"))
      val peNum = rt.join(ct, rt("lang") === ct("lang_guess"))
        .agg(sum(col("__r").cast("decimal(19,0)") *
          col("__c").cast("decimal(19,0)")).as("__pe_num"))
      val nD = col("__N").cast("double")
      val po = col("__agree").cast("double") / nD
      val pe = col("__pe_num").cast("double") / (nD * nD)
      tot.crossJoin(peNum)
        .select(col("__N").as("n"), round(po, 6).as("po"),
          round(pe, 6).as("pe"),
          round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    },
      // kappa: identical confusion marginals + fixed-order closed form
      Sql(() => """WITH hits AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|von|zu|den|mit|ist|im)\b')) AS INTEGER) AS h_de,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|for|with)\b')) AS INTEGER) AS h_en,
        |    CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del|las|por)\b')) AS INTEGER) AS h_es,
        |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|de|et|les|des|en|un|du|une)\b')) AS INTEGER) AS h_fr,
        |    CAST(len(regexp_extract_all(text, '[的了是我不在有人这他]')) AS INTEGER) AS h_zh
        |  FROM documents),
        |g AS (
        |  SELECT lang,
        |    CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |         WHEN h_zh = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
        |         WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
        |         WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
        |         WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
        |         ELSE 'de' END AS lang_guess
        |  FROM hits),
        |conf AS (SELECT lang, lang_guess, count(*) AS n FROM g GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(CASE WHEN lang = lang_guess THEN n ELSE 0 END) AS BIGINT)
        |      AS agree
        |  FROM conf),
        |rt AS (SELECT lang, SUM(n) AS r FROM conf GROUP BY 1),
        |ct AS (SELECT lang_guess, SUM(n) AS c FROM conf GROUP BY 1),
        |pe AS (
        |  SELECT CAST(SUM(CAST(r AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
        |    AS DOUBLE) AS pe_num
        |  FROM rt JOIN ct ON rt.lang = ct.lang_guess)
        |SELECT n_total AS n,
        |  ROUND(CAST(agree AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS po,
        |  ROUND(pe_num / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)), 6) AS pe,
        |  ROUND((CAST(agree AS DOUBLE) / CAST(n_total AS DOUBLE)
        |         - pe_num / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)))
        |        / (1.0 - pe_num / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))), 6)
        |    AS kappa
        |FROM tot CROSS JOIN pe""".stripMargin)),

    // X-langconf: language-ID confusion matrix — the langid heuristic
    // evaluated against the fixture's ground-truth lang column
    Gate("q_x_lang_confusion", (s, dir) =>
      graft.operators.TextAnalysis.withLanguageId(
          tw(s, dir, "documents"), "text")
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_guess")),
      // language confusion: the q_x_langid heuristic over the raw text,
      // rolled up against ground truth
      Sql(() => """WITH hits AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|von|zu|den|mit|ist|im)\b')) AS INTEGER) AS h_de,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it|for|with)\b')) AS INTEGER) AS h_en,
        |    CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del|las|por)\b')) AS INTEGER) AS h_es,
        |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|de|et|les|des|en|un|du|une)\b')) AS INTEGER) AS h_fr,
        |    CAST(len(regexp_extract_all(text, '[的了是我不在有人这他]')) AS INTEGER) AS h_zh
        |  FROM documents),
        |g AS (
        |  SELECT lang,
        |    CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |         WHEN h_zh = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'zh'
        |         WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
        |         WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
        |         WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
        |         ELSE 'de' END AS lang_guess
        |  FROM hits)
        |SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n
        |FROM g GROUP BY 1, 2 ORDER BY lang, lang_guess""".stripMargin)),

    // X-feathash: hashing-trick signed bag-of-words — vocabulary-free
    // map-side featurization, sparse exploded output
    Gate("q_x_feathash", (s, dir) =>
      graft.operators.TextAnalysis.hashedBagOfWords(
          tw(s, dir, "documents"), "doc_id", "text", dim = 32)
        .orderBy(col("doc_id"), col("bucket")),
      // feature hashing: identical md5 buckets and sign nibbles; tokens
      // split on \s+ to match the engine tokenizer (TextAnalysis
      // .hashedBagOfWords) for multi-space/tab/newline runs
      Sql(() => """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 32 AS bucket,
        |    CASE WHEN substr(md5(tok), 16, 1) < '8' THEN 1 ELSE -1 END AS sg
        |  FROM toks WHERE tok <> '')
        |SELECT doc_id, bucket, CAST(SUM(sg) AS BIGINT) AS weight
        |FROM h GROUP BY 1, 2 HAVING SUM(sg) <> 0
        |ORDER BY doc_id, bucket""".stripMargin)),

    // X-phrase: exact quoted-phrase search over the positional index —
    // map-side token prune (the bm25 rule), then one (doc, position)
    // equi-join per additional phrase word
    Gate("q_x_phrase", (s, dir) =>
      graft.operators.TextSearch.phraseSearch(
          tw(s, dir, "documents"), "doc_id", "text", "order fast")
        .orderBy(col("doc_id")),
      // phrase search: 1-based generate_subscripts positions — relative
      // offsets match the engine's 0-based posexplode
      Sql(() => """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(toks) AS tok,
        |    generate_subscripts(toks, 1) AS pos
        |  FROM t)
        |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.tok = 'order' AND b.tok = 'fast'
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin))
  )
}
