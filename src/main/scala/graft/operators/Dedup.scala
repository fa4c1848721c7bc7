package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.{expressions => catalyst}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.VectorExprs

/** Large-scale deduplication operators over a document corpus — the
  * training-data-pipeline extension surface (build brief): exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Everything is expression-level (no Scala/Python UDFs) and
  * shuffle-disciplined: candidate generation is always a bucket join
  * (shuffle on a band/bucket key), never an O(n²) cross join — the property
  * that keeps these runnable on a 100 TB corpus.
  */
object Dedup {

  // ───────────────────────────── exact ─────────────────────────────

  /** Exact dedup on a content key: hash-partition by the key, keep the
    * first row by `tieBreaker` — deterministic, unlike a bare
    * dropDuplicates. One shuffle on the key. */
  def exactByKey(df: DataFrame, key: Column, tieBreaker: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tieBreaker)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact text dedup keeping the first row by `tieBreaker`. The window
    * keys are (xxhash64(text), text): the 8-byte digest leads every
    * partition-hash and sort comparison, so full texts are only compared
    * on digest ties (true duplicates or 64-bit collisions) — exact at any
    * scale without sorting document bodies against each other. */
  def exactByText(df: DataFrame, textCol: String, tieBreaker: Column): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)), col(textCol))
      .orderBy(tieBreaker)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Salt for the independent second content hash used to detect 64-bit
    * collisions in the hash-grouped exact paths. */
  private val VerifySalt = 0x9E3779B97F4A7C15L

  /** Exact-duplicate groups: content hash → member ids sharing it (n > 1).
    *
    * Groups on the 8-byte xxhash64 digest — never the document body — and
    * guards against 64-bit birthday collisions with an independent salted
    * hash: groups where the second hash is not constant are re-aggregated
    * by the actual text (a join against only the collided digests; with AQE
    * the empty-build-side join collapses, so the refinement costs nothing
    * in the no-collision case). An escape needs the same pair to collide
    * in both hashes (~2^-128 per pair).
    *
    * `n` is the EXACT group size; `ids` lists at most `maxIds` members —
    * the group's smallest ids, ascending — through a bounded-heap
    * aggregate ([[graft.functions.TopKAgg]]), so the aggregation buffer
    * holds `maxIds` entries even when one boilerplate page is duplicated
    * 10M times (an unbounded `collect_list` would put the whole member
    * list in one buffer). Requires a numeric `idCol` (the heap orders ids
    * numerically). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String,
      maxIds: Int = 1024): DataFrame = {
    // smallest `maxIds` ids == largest by the negated key; the heap's
    // (ord desc) output order is therefore already id-ascending, and the
    // heap bound makes the buffer O(maxIds) regardless of group size
    def boundedIds: Column = graft.functions.TopK.topK(
      col("__id") * -1, col("__id") * -1, col("__id"), maxIds).as("ids")
    val hashed = df.select(
      xxhash64(col(textCol)).as("content_hash"),
      xxhash64(lit(VerifySalt), col(textCol)).as("__h2"),
      col(idCol).as("__id"), col(textCol).as("__t"))
    val grouped = hashed.groupBy("content_hash")
      .agg(count(lit(1)).as("n"), boundedIds,
        (min(col("__h2")) === max(col("__h2"))).as("__uniform"))
    val clean = grouped.filter(col("__uniform") && col("n") > 1)
      .select("content_hash", "n", "ids")
    val refined = hashed
      .join(grouped.filter(!col("__uniform")).select("content_hash"), "content_hash")
      .groupBy(col("content_hash"), col("__t"))
      .agg(count(lit(1)).as("n"), boundedIds)
      .filter(col("n") > 1)
      .select("content_hash", "n", "ids")
    clean.unionByName(refined)
  }

  /** Distinct-text census keeping the minimum id per distinct text — the
    * capstone-pipeline dedup. Shuffles (hash, salted-hash, id): 24 bytes
    * per row instead of the document body as grouping key; collided hash
    * groups (second hash not constant) are refined exactly via the text,
    * and AQE eliminates that subtree when no collision exists. */
  def distinctMinIds(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(
      xxhash64(col(textCol)).as("__h"),
      xxhash64(lit(VerifySalt), col(textCol)).as("__h2"),
      col(idCol).as("id"), col(textCol).as("__t"))
    val grouped = hashed.groupBy("__h")
      .agg(min(col("id")).as("id"),
        (min(col("__h2")) === max(col("__h2"))).as("__uniform"))
    val clean = grouped.filter(col("__uniform")).select("id")
    val refined = hashed
      .join(grouped.filter(!col("__uniform")).select("__h"), "__h")
      .groupBy(col("__t")).agg(min(col("id")).as("id"))
      .select("id")
    clean.unionByName(refined)
  }

  // ─────────────────────────── shingling ───────────────────────────

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word n-gram shingles, first-occurrence order; texts shorter
    * than `n` words collapse to a single whole-text shingle. Fused native
    * expression — see [[graft.functions.TextSketches.wordShingles]]. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextSketches.shingles(text, n)

  // ──────────────────────── MinHash + LSH ────────────────────────

  /** k-permutation MinHash signature of a shingle array: for seed i,
    * min over shingles of xxhash64(shingle, seed=i). Fused native
    * expression — the equivalent higher-order-function formulation walks
    * the shingle array k times through interpreted lambdas (measured 200×
    * slower at sf0.1; see [[graft.functions.TextSketches]]). */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    graft.functions.TextSketches.minhashSig(shingleArr, k)

  /** LSH banding: split a k-length signature into `bands` bands of
    * k/bands rows and hash each band (band index salts the hash).
    * One row per (id, band_idx, band_hash). */
  def lshBands(df: DataFrame, idCol: String, sigCol: String, k: Int,
      bands: Int): DataFrame = {
    require(k % bands == 0, s"signature length $k not divisible into $bands bands")
    val r = k / bands
    // bands is a build-time constant: unroll the band ladder into a
    // literal array of xxhash64(slice) calls instead of a transform()
    // lambda — higher-order functions are CodegenFallback, and this
    // projection runs once per document (the standing fuse-the-numeric-
    // cases rule; same hash values, the band index enters as a literal)
    df.select(col(idCol), posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col(sigCol), b * r + 1, r))): _*))
      .as(Seq("band_idx", "band_hash")))
  }

  /** Candidate pairs from LSH buckets: self-join on (band_idx, band_hash),
    * id1 < id2, distinct. The join key is the bucket — no cross join. */
  def lshCandidates(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col("band_idx"), col("band_hash"), col(idCol).as("id1"))
    val b = bandsDf.select(col("band_idx"), col("band_hash"), col(idCol).as("id2"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → signature → band →
    * bucket-join candidates → exact-Jaccard verify on the shingle sets →
    * pairs with jaccard ≥ threshold. Verification joins only candidate ids
    * back to shingles, so exact set comparison touches candidates, not n². */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val shingled = df.select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
    val sig = shingled.select(col(idCol), minhashSignature(col("sh"), k).as("sig"))
    val candidates = lshCandidates(lshBands(sig, idCol, "sig", k, bands), idCol)
    ngramJaccardOnShingles(candidates, shingled, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** Detection-quality eval of the MinHash-LSH CANDIDATE stage against
    * exact ground truth — the "is my dedup recall actually what the
    * banding math promises" harness a production pipeline runs before
    * trusting an LSH parameterization. Ground truth is the exact
    * prefix-filtered shingle-Jaccard join
    * ([[SetSimJoin.jaccardShingleJoin]] — recall 1 by construction);
    * detected is the raw band-bucket candidate set (BEFORE exact
    * verification, so precision is the banding's real false-positive
    * profile).
    *
    * Scale shape: both pair sets are bounded joins (prefix posting
    * lists / band buckets), intersected with one pair-keyed semi-join;
    * the three readouts are scalar counts. The hash-dependent recall
    * and precision stay engine-side; the OUTPUT is the exact truth
    * count plus the error-contract booleans (the q_a_hll / ANN
    * within-bound pattern), so the gate is fully hash-oracled.
    *
    * Output: one row (n_truth, recall_ok, precision_ok). */
  def lshRecallEval(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, minRecall: Double = 0.95,
      minPrecision: Double = 0.05): DataFrame = {
    val truth = SetSimJoin.jaccardShingleJoin(df, idCol, textCol,
      shingleN, threshold).select(col("id1"), col("id2"))
      .localCheckpoint()
    val shingled = df.select(col(idCol),
      shingles(col(textCol), shingleN).as("sh"))
    val sig = shingled.select(col(idCol),
      minhashSignature(col("sh"), k).as("sig"))
    val cand = lshCandidates(lshBands(sig, idCol, "sig", k, bands), idCol)
      .localCheckpoint()
    val nTruth = truth.count()
    require(nTruth > 0, "no ground-truth pairs at this threshold — " +
      "the recall contract is vacuous")
    val nCand = cand.count()
    val tp = truth.join(cand, Seq("id1", "id2"), "left_semi").count()
    val recall = tp.toDouble / nTruth
    val precision = if (nCand == 0) 0.0 else tp.toDouble / nCand
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nTruth, recall >= minRecall, precision >= minPrecision))
      .toDF("n_truth", "recall_ok", "precision_ok")
  }

  // ───────────────────────── SimHash ─────────────────────────

  /** Adds a 64-bit SimHash fingerprint column: per bit j, sum ±1 over the
    * token hashes; bit j is set when the sum is positive. Fused native
    * expression (the SQL-lambda formulation re-walks the hash array 64
    * times; see [[graft.functions.TextSketches]]). */
  def withSimhash(df: DataFrame, textCol: String, out: String = "fp"): DataFrame =
    df.withColumn(out, graft.functions.TextSketches.simhash(tokens(col(textCol))))

  /** Hamming distance between two 64-bit fingerprint columns. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** 60-bit SimHash from md5 token hashes — the fully-ORACLED twin of
    * the xxhash64 [[withSimhash]] path (the same fast/oracled pairing as
    * the minhash, fingerprint, and CDC sketches): per token, the first
    * 15 md5 hex chars parse to a 60-bit value (fits a signed BIGINT in
    * any engine); bit j of the fingerprint is set when the ±1 votes of
    * the token hashes' bit j sum positive. Fused one-pass native
    * expression ([[graft.functions.TextSketches.simhash60Md5]]) — the
    * HOF ladder below ([[simhash60Md5Hof]]) remains the SQL-expressible
    * reference the DuckDB oracle mirrors and the parity spec pins the
    * fused path against (the q_x_simhash_md5 gate measured 1.0-3.5 s of
    * interpreted zip_with dispatch; the fused scan is one md5 + 120
    * integer ops per token inside whole-stage codegen). */
  def simhash60Md5(text: Column): Column =
    graft.functions.TextSketches.simhashMd5(tokens(text))

  /** The pure-HOF formulation of [[simhash60Md5]] — kept as the
    * cross-engine parity reference (it IS the oracle's SQL, expressed
    * in Spark HOFs), exercised only by specs. */
  def simhash60Md5Hof(text: Column): Column = {
    // Each stage binds its intermediate as a HOF lambda variable so it is
    // computed ONCE (an expression referenced inside a lambda body is a
    // subtree the engine re-evaluates per element — the naive
    // bits-outer/tokens-inner formulation hashes every token 60 times).
    // Variable-amount shifts: the Catalyst ShiftRight/ShiftLeft
    // expressions accept COLUMN shift amounts (only the Scala DSL
    // wrappers restrict to Int literals), so bit extraction is a single
    // shift-and-mask instead of the earlier floor/pow double arithmetic
    // — one conv per token (15-hex parse, the oracle's '0x'||substr
    // twin) and 60 integer ops per (token, bit).
    def shr(c: Column, n: Column): Column = ColumnBridge.column(
      catalyst.ShiftRight(ColumnBridge.expression(c), ColumnBridge.expression(n)))
    def shl(c: Column, n: Column): Column = ColumnBridge.column(
      catalyst.ShiftLeft(ColumnBridge.expression(c), ColumnBridge.expression(n)))
    // Stage 1: one md5 + one 15-hex-digit parse per token → 60-bit long.
    val hashes = transform(tokens(text), t =>
      conv(md5(t).substr(lit(1), lit(15)), 16, 10).cast("long"))
    // Stage 2: fold the tokens into 60 ±1 vote counters (array order
    // keeps the fold bit-identical to the naive formulation).
    val votes = aggregate(hashes,
      array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(59)), (a, j) =>
        a + when(shr(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)))
    // Stage 3: positive vote → set bit j; sum the 60 contributions.
    aggregate(
      zip_with(votes, sequence(lit(0), lit(59)), (v, j) =>
        when(v > 0, shl(lit(1L), j)).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash near-dups: fingerprint, band the 64 bits into 4×16-bit chunks
    * (within Hamming distance 3 at least one chunk matches exactly —
    * pigeonhole), bucket-join on chunks, verify by Hamming distance. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fp = withSimhash(df.select(col(idCol), col(textCol)), textCol)
    val chunks = fp.select(col(idCol), col("fp"), posexplode(expr(
        "transform(sequence(0, 3), c -> (fp >> (c * 16)) & 65535)"))
      .as(Seq("chunk_idx", "chunk")))
    val a = chunks.select(col("chunk_idx"), col("chunk"),
      col(idCol).as("id1"), col("fp").as("fp1"))
    val b = chunks.select(col("chunk_idx"), col("chunk"),
      col(idCol).as("id2"), col("fp").as("fp2"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        hammingDistance(col("fp1"), col("fp2")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ─────────────────── n-gram Jaccard verify ───────────────────

  /** Exact n-gram Jaccard for given candidate pairs (the verify stage the
    * sketch methods share). */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame =
    ngramJaccardOnShingles(pairs,
      docs.select(col(idCol), shingles(col(textCol), n).as("sh")), idCol)

  private def ngramJaccardOnShingles(pairs: DataFrame, shingled: DataFrame,
      idCol: String): DataFrame =
    pairs
      .join(shingled.select(col(idCol).as("id1"), col("sh").as("sh1")), "id1")
      .join(shingled.select(col(idCol).as("id2"), col("sh").as("sh2")), "id2")
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2")))).as("jaccard"))

  /** Fuzzy (edit-distance) duplicate pairs — the entity-resolution
    * primitive: (id1, id2, dist) for strings within `maxDist` edits.
    *
    * Candidates come from a BLOCKED equi-join, never n²: two strings
    * within edit distance d differ in length by at most d, so each right
    * row explodes into the `(maxDist+1)`-wide length buckets its ±d band
    * overlaps (the [[RangeJoin]] quantization trick, 1-D) and the join
    * keys on (prefix, length bucket). The prefix block is ADAPTIVE:
    * blocks start at the first character (the standard record-linkage
    * heuristic) and any block holding more than `maxBlock` strings
    * deepens its prefix one character at a time until it fits or the
    * prefix reaches `maxPrefix` — so a hot block (every catalog part
    * number starting "PART-", every supplier "Supplier#") refines
    * instead of going quadratic, while rare blocks keep the shallow
    * high-recall key. Blocks still over `maxBlock` at `maxPrefix`
    * (> maxBlock strings sharing the full prefix AND length bucket)
    * fall back to SORTED-NEIGHBORHOOD matching: sort the block's
    * strings, compare each against its next `overflowWindow` neighbors
    * — candidates linear in block size, never block². The exact
    * `levenshtein` (codegen'd builtin) verifies candidates only.
    *
    * Recall contract (documented, inspectable via [[fuzzyBlockStats]]):
    * a pair is recalled unless its strings diverge inside the refined
    * prefix of a hot block (shallow blocks keep the original
    * first-character-only rule), and inside an overflow block unless
    * the two strings sort more than `overflowWindow` apart. Pass
    * `blockChar = false` (small inputs only) for full recall with
    * length-band blocking alone.
    *
    * Scale shape: the block census is a rolled-up aggregate over block
    * keys (never pairs); rows join the census-derived block map by
    * equi-key (the map is block-cardinality-sized — AQE broadcasts it
    * when small); the candidate join carries at most `maxBlock` rows
    * per key on the build side, and the overflow path's window sort is
    * n·log n per block with n·overflowWindow candidates. Nothing in the
    * operator is quadratic in any block's size. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2, blockChar: Boolean = true,
      maxBlock: Int = 4096, maxPrefix: Int = 6,
      overflowWindow: Int = 16): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    require(maxPrefix >= 1, s"maxPrefix must be >= 1, got $maxPrefix")
    require(overflowWindow >= 1,
      s"overflowWindow must be >= 1, got $overflowWindow")
    // null strings have no edit distance to anything — excluded
    // explicitly rather than silently dropped by the null block key
    val rows = df.filter(col(strCol).isNotNull)
    val w = maxDist + 1
    // the distincts below are LOAD-BEARING, not defensive: a pair CAN
    // reach verify() more than once. The round-13 candidate "each pair
    // meets exactly one final block" was property-tested
    // (FuzzyPairUniqueSpec) and is FALSE — a short string's exact-group
    // map entry is keyed by the whole string, which is also a PREFIX of
    // longer chains whose parent block went oversized, so one row can
    // cross two map entries for the same bucket (measured: 36 duplicate
    // pairs on a 250-row adversarial corpus at maxBlock=3). Removing
    // any of the three distincts changes hash-gated outputs.
    val verify = (cand: DataFrame) => cand
      .filter(col("id1") < col("id2") &&
        abs(length(col("s1")) - length(col("s2"))) <= maxDist)
      .select(col("id1"), col("id2"),
        levenshtein(col("s1"), col("s2")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
    if (!blockChar) {
      // full-recall escape: length-band blocking only (small inputs —
      // a single length bucket is all-pairs within the band)
      val a = rows.select(col(idCol).as("id1"), col(strCol).as("s1"),
        expr(s"length(`$strCol`) div $w").as("__b"))
      val b = rows.select(col(idCol).as("id2"), col(strCol).as("s2"),
        explode(sequence(expr(s"(length(`$strCol`) - $maxDist) div $w"),
          expr(s"(length(`$strCol`) + $maxDist) div $w"))).as("__b"))
      return verify(a.join(b, Seq("__b")))
    }
    // persist (lazy), not localCheckpoint: round 13 measured the eager
    // variant — it truncates the census tower's plan (263 KB → 20 KB)
    // but pays two eager materialization jobs per call, a net LOSS of
    // ~0.5 s/gate on the committed fixtures where the census input is
    // KB-sized (q_x_fuzzy 2.25 → 3.0 s; golden/entity likewise); the
    // 10× rung showed no reliable win either (the census is block-
    // cardinality-sized). On a data-scale corpus the right cut is a
    // checkpoint of `deep` below (the one corpus-sized pass) — revisit
    // with a corpus-scale fixture, not this one.
    val blockMap = fuzzyBlockMap(rows, strCol, w, maxBlock, maxPrefix)
      .persist()
    // each row joins exactly one map entry per bucket it touches: its
    // prefix chain p_1 ⊂ … ⊂ p_maxPrefix crosses the chain's single
    // final (or overflow) block once
    def withChain(side: DataFrame, sCol: String): DataFrame =
      side.withColumn("__p", explode(array_distinct(array(
        (1 to maxPrefix).map(k => substring(col(sCol), 1, k)): _*))))
        .join(blockMap, Seq("__p", "__b"))
    val aK = withChain(
      rows.select(col(idCol).as("id1"), col(strCol).as("s1"),
        expr(s"length(`$strCol`) div $w").as("__b")), "s1")
    val bK = withChain(
      rows.select(col(idCol).as("id2"), col(strCol).as("s2"),
        explode(sequence(expr(s"(length(`$strCol`) - $maxDist) div $w"),
          expr(s"(length(`$strCol`) + $maxDist) div $w"))).as("__b")), "s2")
    val normal = verify(
      aK.filter(!col("__ovf")).select("__p", "__b", "id1", "s1")
        .join(bK.filter(!col("__ovf")).select("__p", "__b", "id2", "s2"),
          Seq("__p", "__b")))
    // overflow blocks: sorted-neighborhood, bucket dropped (the length
    // band re-checks inside verify) — candidates n·overflowWindow
    val ovRows = aK.filter(col("__ovf"))
      .select(col("id1").as("id"), col("s1").as("s"), col("__p"))
      .distinct()
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__p")).orderBy(col("s"), col("id"))
    val ranked = ovRows.withColumn("__rn", row_number().over(win))
    val probes = ranked.select(col("__p"),
      col("id").as("__idL"), col("s").as("__sL"),
      explode(sequence(col("__rn") + 1,
        col("__rn") + overflowWindow)).as("__rn"))
    val ovPairs = verify(probes
      .join(ranked.select(col("__p"), col("__rn"),
        col("id").as("__idR"), col("s").as("__sR")), Seq("__p", "__rn"))
      .select(least(col("__idL"), col("__idR")).as("id1"),
        greatest(col("__idL"), col("__idR")).as("id2"),
        when(col("__idL") < col("__idR"), col("__sL"))
          .otherwise(col("__sR")).as("s1"),
        when(col("__idL") < col("__idR"), col("__sR"))
          .otherwise(col("__sL")).as("s2")))
    normal.unionByName(ovPairs).distinct()
  }

  /** Adaptive-prefix block census for [[fuzzyPairs]] — one row per final
    * block: (`__p` prefix key, `__b` length bucket, `__n` strings,
    * `__ovf` true when the block is still over `maxBlock` at the
    * deepest prefix). Built from depth-`maxPrefix` counts rolled up
    * level by level (aggregates over BLOCK KEYS, data-scale only at the
    * leaf census); a block is final at the shallowest depth where it
    * fits `maxBlock`. */
  private def fuzzyBlockMap(rows: DataFrame, strCol: String, w: Int,
      maxBlock: Int, maxPrefix: Int): DataFrame = {
    // the ONLY data-scale pass of the census: every census level (cnts)
    // re-aggregates this relation — `maxPrefix` corpus scans when the
    // corpus is data-scale. A localCheckpoint here is the scale-correct
    // cut, but on the committed fixtures (KB-sized census inputs) the
    // eager job costs more than the re-scans it saves (measured round
    // 13, see fuzzyPairs' blockMap note) — left uncut with the trade
    // documented.
    val deep = rows.select(
        substring(col(strCol), 1, maxPrefix).as("__p"),
        expr(s"length(`$strCol`) div $w").as("__b"))
      .groupBy(col("__p"), col("__b")).agg(count(lit(1)).as("__n"))
    val cnts = (1 to maxPrefix).map { k =>
      if (k == maxPrefix) deep
      else deep.groupBy(substring(col("__p"), 1, k).as("__p"), col("__b"))
        .agg(sum(col("__n")).as("__n"))
    }
    var fit = cnts.head.filter(col("__n") <= maxBlock)
      .withColumn("__ovf", lit(false))
    var over = cnts.head.filter(col("__n") > maxBlock)
    for (k <- 2 to maxPrefix) {
      // children of still-oversized parents only
      val kids = cnts(k - 1).as("kid").join(over.as("par"),
          substring(col("kid.__p"), 1, k - 1) === col("par.__p") &&
            col("kid.__b") === col("par.__b"))
        .select(col("kid.__p").as("__p"), col("kid.__b").as("__b"),
          col("kid.__n").as("__n"))
      fit = fit.unionByName(kids.filter(col("__n") <= maxBlock)
        .withColumn("__ovf", lit(false)))
      over = kids.filter(col("__n") > maxBlock)
    }
    fit.unionByName(over.withColumn("__ovf", lit(true)))
  }

  /** Blocking diagnostic for [[fuzzyPairs]]: the final block map as
    * (`prefix`, `len_bucket`, `depth`, `n`, `overflow`) rows, overflow
    * blocks first then largest first — "which blocks went hot, how deep
    * did they refine, and what spilled past the prefix" (the side-output
    * that keeps the recall contract inspectable instead of silent). */
  def fuzzyBlockStats(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2, maxBlock: Int = 4096,
      maxPrefix: Int = 6): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    fuzzyBlockMap(df.filter(col(strCol).isNotNull), strCol, maxDist + 1,
        maxBlock, maxPrefix)
      .select(col("__p").as("prefix"), col("__b").as("len_bucket"),
        length(col("__p")).as("depth"), col("__n").as("n"),
        col("__ovf").as("overflow"))
      .orderBy(col("overflow").desc, col("n").desc, col("prefix"),
        col("len_bucket"))
  }

  // ─────────────── duplicate-cluster connected components ───────────────

  /** Connected components over an undirected pair list (`id1`, `id2`) —
    * the step that turns pairwise near-dup hits into duplicate *groups*
    * (a MinHash pair list is not transitive: A~B and B~C does not emit
    * A~C, so cluster membership needs graph connectivity).
    *
    * Min-label propagation WITH POINTER JUMPING (hash-to-min): every
    * node starts labeled with its own id; each round a node takes the
    * minimum of its own label, its neighbors' labels, and its LABEL'S
    * label (the jump — labels are node ids, so following them halves
    * the remaining distance each round). Rounds = O(log diameter), not
    * O(diameter): near-dup near-cliques still settle in ~2 rounds, and
    * the long sorted-neighborhood overflow CHAINS the bounded-block
    * dedup path emits (an exact-copy family recalls as an id-ordered
    * chain of diameter n/window) settle in ~log₂ n — the plain-hop
    * variant silently hit `maxIter` there and returned PARTIAL labels
    * (caught by the 1M `dbscanfam` probe: a 10k-member planted family
    * fragmented at 24 hops). Non-convergence now throws.
    *
    * Each round is a bucket-keyed shuffle join + a labels-sized
    * self-join, never anything O(n²). The symmetric edge list is cached
    * once and labels are checkpointed per round through `checkpoint` to
    * cut the iterative lineage. `checkpoint` runs TWICE per round — once
    * on the hopped labels (both pointer-jump sides read them; see
    * round()) and once on the round output — so a durable checkpoint
    * function pays two node-sized writes per round; the mid-round
    * materialization is explicitly unpersisted as soon as the round
    * output is materialized, so local blocks never accumulate across
    * rounds. The default is `localCheckpoint` (fast, executor-local —
    * fine single-node); a multi-executor deployment passes
    * `IO.durableCheckpoint(_, dir)` so per-round state lands on durable
    * shared storage and survives executor loss.
    *
    * Returns one row per node: (`id`, `cluster`) with `cluster` = the
    * minimum id reachable from `id`.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 48,
      checkpoint: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    val sym = edges.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(edges.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
      .persist()
    // fused initialization + first hop: label = min(id, min neighbor) is
    // one groupBy over the edge list, no node-table join
    var labelsCp = checkpoint(sym.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), col("src")).as("cluster")))
    var labels = labelsCp

    // one round: neighbor-min hop, then pointer jump through the
    // hopped labels (label := min(label, label[label])). Returns the
    // jumped relation plus the mid-round materialization so the loop
    // can release it once the round's output exists.
    def round(l: DataFrame): (DataFrame, DataFrame) = {
      val nbrMin = sym
        .join(l.select(col("id").as("dst"), col("cluster").as("nc")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nc")).as("nbr"))
      // the pointer jump reads the hopped labels on BOTH join sides —
      // un-materialized, the full-edge neighbor-min join + aggregate
      // above would execute twice per round (once per plan reference),
      // doubling the dominant per-round cost; cut it once here
      val hopped = checkpoint(l.join(nbrMin, "id")
        .select(col("id"), least(col("cluster"), col("nbr")).as("cluster"),
          (col("nbr") < col("cluster")).as("__chg")))
      val jumped = hopped.alias("a")
        .join(hopped.select(col("id").as("__pid"),
          col("cluster").as("__pc")).alias("b"),
          col("a.cluster") === col("b.__pid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.cluster"), coalesce(col("b.__pc"), col("a.cluster")))
            .as("cluster"),
          (col("a.__chg") ||
            (coalesce(col("b.__pc"), col("a.cluster")) < col("a.cluster")))
            .as("__chg"))
      (jumped, hopped)
    }

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val (jumped, hopped) = round(labels)
      val next = checkpoint(jumped)
      converged = next.filter(col("__chg")).isEmpty
      // next is materialized (the action above at the latest) — the
      // mid-round hopped blocks and the previous labels are dead now;
      // without this they pile up for the whole loop until
      // ContextCleaner GC
      release(hopped)
      release(labelsCp)
      labelsCp = next
      labels = next.drop("__chg")
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "with pointer jumping this needs diameter > 2^maxIter; " +
        "check the edge relation")
    sym.unpersist()
    labels
  }

  /** Frees a frame a `checkpoint` function returned. `Dataset.unpersist`
    * only drops CacheManager entries (a `persist()`-style checkpoint); a
    * `localCheckpoint` has none — its blocks belong to the RDD under the
    * frame's LogicalRDD root, unpersisted here. A durable checkpoint's
    * RDD holds no blocks, and a frame that is not a checkpoint (no
    * LogicalRDD root) is left alone. */
  private def release(cp: DataFrame): Unit = {
    cp.unpersist(blocking = false)
    cp.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Near-dup groups end-to-end: MinHash-LSH pairs at `threshold`, then
    * connected components — the full "pair list → duplicate clusters"
    * pipeline a corpus-level dedup actually ships. */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame =
    connectedComponents(
      minhashNearDups(df, idCol, textCol, shingleN, k, bands, threshold)
        .select("id1", "id2"))

  // ───────────────── incremental (Bloom-gated) dedup ─────────────────

  /** Rows of `incoming` whose `keyCol` value does not appear in
    * `existing` — the incremental-ingest dedup (today's crawl against the
    * already-ingested corpus). Output is EXACT; the Bloom filter only
    * prunes work.
    *
    * Staged for scale:
    *  1. A Bloom filter over `xxhash64(key)` of the existing corpus is
    *     built as a DISTRIBUTED aggregate (partition-local sketches,
    *     bitsets OR-merged up the agg tree — see
    *     [[graft.functions.BloomSketch]]) attached as a scalar subquery.
    *     No shuffle of the existing corpus, no driver key set.
    *  2. Incoming rows probe it map-side. `might_contain == false` PROVES
    *     novelty (no false negatives) — those rows are emitted with zero
    *     shuffle.
    *  3. Only the positive sliver (true duplicates + the fpp share of
    *     incoming) is verified exactly: existing keys semi-joined down to
    *     the candidate 8-byte hash set, then an anti-join on
    *     (hash, key) — full key bytes move only for rows whose hash
    *     matched a candidate's, so at 100 TB the verify shuffles
    *     ~(dup_rate + fpp) of incoming plus the hash-matched sliver of
    *     existing, never either corpus wholesale.
    */
  def incrementalNovel(incoming: DataFrame, existing: DataFrame, keyCol: String,
      expectedItems: Long = 1L << 22, fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomSketch
    val bloom = existing.agg(
      BloomSketch.bloomAgg(xxhash64(col(keyCol)), expectedItems, fpp).as("__bf"))
    val probed = incoming
      .withColumn("__hit", BloomSketch.mightContain(bloom, xxhash64(col(keyCol))))
    val definitelyNovel = probed.filter(!col("__hit")).drop("__hit")
    val candidates = probed.filter(col("__hit")).drop("__hit")
      .withColumn("__h", xxhash64(col(keyCol)))
    val candHashes = candidates.select(col("__h")).distinct()
    val existingSliver = existing
      .select(xxhash64(col(keyCol)).as("__h"), col(keyCol).as("__k"))
      .join(candHashes, "__h")
    val verifiedNovel = candidates
      .join(existingSliver,
        candidates("__h") === existingSliver("__h") &&
          candidates(keyCol) === existingSliver("__k"),
        "left_anti")
      .drop("__h")
    definitelyNovel.unionByName(verifiedNovel)
  }

  // ───────────────────── decontamination ─────────────────────

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minOverlap` distinct word `n`-gram shingles with ANY benchmark
    * document — the test-set-leakage filter a training-data pipeline runs
    * before export.
    *
    * The benchmark shingle set is tiny relative to the corpus (eval sets
    * are thousands of rows, the corpus is billions), so it is distinct'd
    * and broadcast: the corpus side explodes its shingles and probes the
    * broadcast hash map-side — the corpus never shuffles for the join,
    * only the per-doc overlap count aggregates (keyed by doc id).
    *
    * Returns (`id`, `n_overlap`) for flagged documents only.
    */
  def contaminationFlags(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3,
      minOverlap: Int = 3): DataFrame = {
    val benchShingles = benchmark
      .select(explode(shingles(col(benchTextCol), n)).as("__s"))
      .distinct()
    val docShingles = corpus.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("__s"))
    docShingles.join(broadcast(benchShingles), "__s")
      .groupBy(col("id"))
      .agg(countDistinct(col("__s")).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Exact duplicated-PASSAGE detection — the fine-grained complement to
    * whole-document dedup (cf. "Deduplicating Training Data Makes Language
    * Models Better": verbatim spans repeat across otherwise-distinct
    * documents, and per-document sketches never see them).
    *
    * Every document emits fixed-width character windows on a stride;
    * windows are keyed by `md5(window)` (cross-engine hashable) and
    * reduced per key. The shuffle carries (32-hex-hash, doc_id) — never
    * the window text; a true suffix-array pass is the offline refinement,
    * this is the scan-shaped signal that feeds it. Stride trades recall
    * for cost: copies whose start offsets agree mod `stride` (identical
    * docs, prefix-aligned boilerplate) are always detected once the
    * passage covers a full window; arbitrarily-shifted copies need
    * `stride = 1`, or content-defined anchoring (emit windows only at
    * rolling-hash-selected positions) as the offset-independent
    * refinement at the same emission rate.
    *
    * Returns one row per span hash seen in >= `minDocs` distinct
    * documents: (h, n_docs, n_occ, min_doc, max_doc).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 40, stride: Int = 10, minDocs: Int = 2): DataFrame = {
    Reserved.guard("duplicatedSpans", docs, "__id", "__pos", "__t")
    val spans = docs
      .filter(length(col(textCol)) >= window)
      .select(col(idCol).as("__id"),
        explode(sequence(lit(1), length(col(textCol)) - (window - 1),
          lit(stride))).as("__pos"),
        col(textCol).as("__t"))
      .select(col("__id"),
        md5(col("__t").substr(col("__pos"), lit(window))).as("h"))
    spans.groupBy(col("h"))
      .agg(countDistinct(col("__id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("__id")).as("min_doc"), max(col("__id")).as("max_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Content-defined duplicated-passage detection — the offset-
    * independent refinement [[duplicatedSpans]]'s docs promise: instead
    * of stride-sampled window starts (which miss copies whose offsets
    * shift by ≠ 0 mod stride), windows are emitted only at ANCHOR
    * positions chosen by the content itself — positions whose `gram`-char
    * context hashes into a 1/16 selection band. A copy of a passage
    * carries its anchors with it regardless of where in the document it
    * lands, so shifted duplicates collide on the same span hashes (the
    * CDC idea from dedup/backup systems, e.g. LBFS/FastCDC).
    *
    * Anchor predicate and span key are both md5 (cross-engine hashable,
    * like the stride version); expected emission rate is ~len/16 windows
    * per doc — tune `sel` ('0' = 1/16, '00' = 1/256) to trade recall for
    * cost. The shuffle carries (hash, id) only, never text. A fused
    * rolling-hash (gear/buzhash) expression is the production
    * refinement at the same emission rate — md5-per-position costs one
    * digest per char scanned.
    *
    * Returns one row per span hash seen in >= `minDocs` distinct docs:
    * (h, n_docs, n_occ, min_doc, max_doc). */
  def anchoredSpans(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 40, gram: Int = 8, sel: String = "0",
      minDocs: Int = 2): DataFrame = {
    require(gram > 0 && window >= gram, s"need 0 < gram <= window, got $gram/$window")
    Reserved.guard("anchoredSpans", docs, "__id", "__pos", "__t")
    val spans = docs
      .filter(length(col(textCol)) >= window)
      .select(col(idCol).as("__id"),
        explode(sequence(lit(1), length(col(textCol)) - (window - 1))).as("__pos"),
        col(textCol).as("__t"))
      // content-defined anchor: the position's gram-context hash lands in
      // the selection band — identical for every copy of the passage
      .filter(md5(col("__t").substr(col("__pos"), lit(gram)))
        .startsWith(sel))
      .select(col("__id"),
        md5(col("__t").substr(col("__pos"), lit(window))).as("h"))
    spans.groupBy(col("h"))
      .agg(countDistinct(col("__id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("__id")).as("min_doc"), max(col("__id")).as("max_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Fused production twin of [[anchoredSpans]]: the same content-defined
    * anchoring, but through one native expression pass
    * ([[graft.functions.TextSketches.cdcSpanHashes]]) — one xxhash64 per
    * scanned byte instead of an md5 digest + hex string allocation per
    * position, and anchor + span key computed in a single scan.
    * xxhash64 is engine-specific, so this path is gated rows-only (the
    * md5 twin [[anchoredSpans]] carries the DuckDB oracle — the same
    * fast/oracled pairing as the winnow fingerprints). `maskBits` sets
    * the selection rate (4 → 1/16, matching the md5 twin's '0' band). */
  def anchoredSpansFast(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 40, gram: Int = 8, maskBits: Int = 4,
      minDocs: Int = 2): DataFrame = {
    Reserved.guard("anchoredSpansFast", docs, "__id")
    docs
      .select(col(idCol).as("__id"),
        explode(graft.functions.TextSketches.cdcSpans(
          col(textCol), window, gram, maskBits)).as("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col("__id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("__id")).as("min_doc"), max(col("__id")).as("max_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  // ───────────────── embedding-cosine near-dup ─────────────────

  /** Near-duplicates by embedding cosine ≥ threshold: random-hyperplane
    * buckets (see [[Similarity.hyperplaneBuckets]]) make pair generation a
    * bucket join; candidates are distinct'd on ids before the exact cosine
    * verify with the fused native expression. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 12, seed: Long = 42L,
      dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else Similarity.inferDim(df, vecCol)
    val bucketed = Similarity.hyperplaneBuckets(df, vecCol, planes, seed, d)
    val a = bucketed.select(col("bucket"), col(idCol).as("id1"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id2"))
    val candidates = a.join(b, "bucket")
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    val vecs = df.select(col(idCol), col(vecCol))
    candidates
      .join(vecs.select(col(idCol).as("id1"), col(vecCol).as("v1")), "id1")
      .join(vecs.select(col(idCol).as("id2"), col(vecCol).as("v2")), "id2")
      .select(col("id1"), col("id2"),
        VectorExprs.cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** [[embeddingNearDups]] over int8 scalar-quantized codes
    * ([[Quantization]]) instead of float vectors — the shuffle-bytes
    * lever for a 100 TB embedding corpus. Cosine and hyperplane signs
    * are invariant to the per-vector scale, so code-space geometry
    * matches vector-space geometry up to rounding (exact copies keep
    * identical codes and cos exactly 1.0); every id- or bucket-keyed
    * exchange in the candidate chain then carries a ~4×-smaller
    * `array<tinyint>` (floats are dropped map-side BEFORE the first
    * shuffle), which is what let the 100M-row embfam rung's pair pass
    * fit this machine's shuffle disk. Candidates verify with
    * integer-exact cosine SUMS — tinyint codes widen to float
    * losslessly and the double dot/norm-squared sums of |q| ≤ 127,
    * dim ≤ 2^40 codes are exact integers, so cross-engine drift is
    * confined to the final sqrt/divide (one ulp; the gate's round-6
    * output absorbs it — no float-ACCUMULATION caveat at any dim).
    *
    * Output: (id1, id2, cos) with id1 < id2, cos computed on codes. */
  def quantizedNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 12, seed: Long = 42L,
      dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else Similarity.inferDim(df, vecCol)
    val codes = df.select(col(idCol),
      Quantization.quantizeFused(col(vecCol)).as("__q"))
    val bucketed = Similarity.hyperplaneBuckets(codes, "__q", planes, seed, d)
    val a = bucketed.select(col("bucket"), col(idCol).as("id1"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id2"))
    val candidates = a.join(b, "bucket")
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    candidates
      .join(codes.select(col(idCol).as("id1"), col("__q").as("q1")), "id1")
      .join(codes.select(col(idCol).as("id2"), col("__q").as("q2")), "id2")
      .select(col("id1"), col("id2"),
        VectorExprs.cosine(col("q1").cast("array<float>"),
          col("q2").cast("array<float>")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Dedup-aware train/val/test split: near-dup CLUSTER members always
    * land in the same fold, so evaluation rows never have a near-copy
    * in training — the content-derived twin of
    * [[graft.operators.Sampling.groupSplit]] (which needs a given
    * group column). Duplicate clusters come from
    * [[nearDupClusters]] (MinHash-LSH pairs → connected components);
    * singleton documents are their own cluster, and folds are
    * deterministic salted-hash cuts of the CLUSTER id, so the split is
    * reproducible across runs and layouts.
    *
    * Scale shape: LSH candidates (band-bucket equi-join, never
    * all-pairs) → iterative CC (keyed joins, localCheckpoint lineage
    * cuts) → one left join of the corpus to the cluster map → map-side
    * fold hash. Nothing quadratic, nothing single-partition.
    *
    * Output: (idCol, cluster, fold). */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
      cuts: Seq[Double], salt: String = "",
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val cl = nearDupClusters(df, idCol, textCol, shingleN, k, bands, threshold)
    val withCluster = df.select(col(idCol))
      .join(cl.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster"), col(idCol)).as("cluster"))
    Sampling.groupSplit(withCluster, "cluster", cuts, salt)
  }
}
