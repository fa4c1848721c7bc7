package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Dedup-family semantics: exact groups, shingles, MinHash/LSH recall on
  * planted near-duplicates, SimHash Hamming banding, embedding cosine. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val baseText = (1 to 60).map(i => s"w$i").mkString(" ")
  private val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
  private val unrelated = (100 to 160).map(i => s"z$i").mkString(" ")

  private def docs = Seq(
    (1L, baseText), (2L, nearDup), (3L, unrelated), (4L, baseText)
  ).toDF("doc_id", "text")

  test("exactDupGroups finds identical texts; exactByKey keeps one per key") {
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[scala.collection.Seq[Long]]("ids").toSeq == Seq(1L, 4L))

    val kept = Dedup.exactByKey(docs, xxhash64(col("text")), col("doc_id"))
    assert(kept.count() == 3)
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("exactDupGroups caps the member list at maxIds but keeps n exact") {
    val many = ((1L to 10L).map(i => (i, "same text")) :+ (99L, "other"))
      .toDF("doc_id", "text")
    val g = Dedup.exactDupGroups(many, "doc_id", "text", maxIds = 3).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("n") == 10L) // exact size, not the cap
    // the capped list is the group's smallest ids, ascending
    assert(g.head.getAs[scala.collection.Seq[Long]]("ids").toSeq == Seq(1L, 2L, 3L))
  }

  test("exactByText and distinctMinIds agree with a raw-text groupBy") {
    val kept = Dedup.exactByText(docs, "text", col("doc_id"))
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))

    val viaHash = Dedup.distinctMinIds(docs, "doc_id", "text")
      .as[Long].collect().toSet
    val viaText = docs.groupBy(col("text")).agg(min(col("doc_id")).as("id"))
      .select("id").as[Long].collect().toSet
    assert(viaHash == viaText && viaHash == Set(1L, 2L, 3L))
  }

  test("shingles: sliding n-grams, distinct, short-text fallback") {
    val out = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq("a b")) // shorter than n → whole text
  }

  test("minhash: identical docs share signatures; near-dups found, unrelated not") {
    val sigs = docs.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(4L))
    // near-dup: most mins agree
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree > 16, s"only $agree/32 minhashes agree for a 95%-overlap pair")

    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleN = 3, k = 32, bands = 8, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup caught
    assert(pairs.contains((1L, 4L)))                             // exact dup caught
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))         // unrelated not
  }

  test("simhash: identical → distance 0; near-dup close; banding finds it") {
    val fps = Dedup.withSimhash(docs, "text")
      .select("doc_id", "fp").as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(4L))
    val dNear = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    val dFar = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
    assert(dNear < dFar, s"near=$dNear far=$dFar")

    val found = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = dNear)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(found.contains((1L, 4L)))
  }

  test("ngramJaccard: exact dup = 1.0; near-dup high; via candidate pairs") {
    val pairs = Seq((1L, 4L), (1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val j = Dedup.ngramJaccard(pairs, docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.8 && j((1L, 2L)) < 1.0)
    assert(j((1L, 3L)) == 0.0)
  }

  test("embeddingNearDups finds planted near-identical vectors only") {
    val v = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val vNear = v.clone(); vNear(0) = vNear(0) + 0.001f
    val vFar = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, v.toSeq), (2L, vNear.toSeq), (3L, vFar.toSeq))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val pairs = Dedup.embeddingNearDups(df, "id", "vec", threshold = 0.999, planes = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("quantizedNearDups: exact copies score cos ~1.0 on int8 codes") {
    val v = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    // NB: the perturbation must exceed the quantization step
    // (max|v|/127 ≈ 0.008) or doc 3's codes come out identical to v's
    val vNear = v.clone(); vNear(0) = vNear(0) + 0.15f
    val vFar = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, v.toSeq), (2L, v.toSeq), (3L, vNear.toSeq), (4L, vFar.toSeq))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val pairs = Dedup.quantizedNearDups(df, "id", "vec", threshold = 0.99, planes = 4)
      .select(col("id1"), col("id2"), col("cos"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // identical vectors -> identical codes -> the integer dot/norm SUMS
    // are exact in double; only the final sqrt/divide carries an ulp
    // (S/(sqrt(S)*sqrt(S)) need not be exactly 1.0 in IEEE). The
    // perturbed twin still clears 0.99 on codes but scores strictly
    // below the exact copy; the far vector pairs with nobody
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < pairs((1L, 2L)))
    assert(pairs.keySet.forall(p => p._1 != 4L && p._2 != 4L))
  }

  test("connectedComponents closes chains the pair list leaves open") {
    // chain 1-2-3-4 (no direct 1-4 edge), disjoint pair 10-11, triangle 20-21-22
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("contaminationFlags finds docs overlapping the benchmark set") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // contains bench trigrams
      (2L, "completely unrelated text with zero overlap anywhere at all"),
      (3L, "quick brown fox jumps high")                        // 2 shared trigrams only
    ).toDF("doc_id", "text")
    val bench = Seq("the quick brown fox jumps far away").toDF("text")
    val flagged = Dedup.contaminationFlags(corpus, "doc_id", "text", bench, "text",
        n = 3, minOverlap = 3)
      .as[(Long, Long)].collect().toMap
    // doc 1 shares "the quick brown","quick brown fox","brown fox jumps" = 3
    // doc 3 shares "quick brown fox","brown fox jumps" = 2 → below threshold
    assert(flagged == Map(1L -> 3L))
  }

  test("incrementalNovel: exact novelty under a deliberately saturated bloom") {
    // existing corpus: 200 docs; incoming: 100 overlapping + 100 novel.
    // expectedItems=8 at fpp 0.5 saturates the filter, forcing nearly every
    // incoming row down the verify path — the output must stay exact anyway.
    val existing = spark.range(0, 200)
      .selectExpr("id AS doc_id", "concat('doc ', id, ' body') AS text")
    val incoming = spark.range(100, 300)
      .selectExpr("id AS doc_id", "concat('doc ', id % 400, ' body') AS text")
    for (fpp <- Seq(0.01, 0.5); items <- Seq(8L, 1000L)) {
      val novel = Dedup.incrementalNovel(incoming, existing, "text",
          expectedItems = items, fpp = fpp)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(novel == (200L until 300L).toSeq, s"items=$items fpp=$fpp")
    }
  }

  test("nearDupClusters groups transitive near-dups under the min id") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (5L, base),                      // cluster of three near-identical docs
      (6L, base + "lambda"),
      (7L, base + "mu"),
      (8L, "totally different content with its own words entirely here"),
      (9L, "another unrelated document that shares nothing with the rest ok")
    ).toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text", threshold = 0.7)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("connectedComponents with a durable checkpoint matches the default exactly") {
    // same chain/pair/triangle fixture as above, but per-round state cut
    // to a durable checkpoint dir (the multi-executor path) instead of
    // executor-local blocks — output must be byte-identical
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id1", "id2")
    val expected = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    try {
      val durable = Dedup.connectedComponents(edges,
          checkpoint = graft.sources.IO.durableCheckpoint(_, dir))
        .as[(Long, Long)].collect().toMap
      assert(durable == expected)
      // the checkpoint actually landed on disk (lineage was really cut);
      // getCheckpointDir returns a file: URI — resolve it to a local path
      val cd = spark.sparkContext.getCheckpointDir.getOrElse(dir)
      val cdPath = if (cd.startsWith("file:")) new java.net.URI(cd).getPath else cd
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(cdPath))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no checkpoint files written")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("connectedComponents releases every checkpoint but the returned labels") {
    // a 64-node chain needs several rounds; the recording checkpoint
    // keeps a strong reference to every frame it returns, so
    // ContextCleaner GC cannot free a leaked one behind the test's back
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val made = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val labels = Dedup.connectedComponents(edges,
      checkpoint = df => { val cp = df.localCheckpoint(); made += cp; cp })
    def rddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.logical.collectLeaves().collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
    val kept = rddIds(labels).toSet
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(made.size > 3, s"expected several rounds, got ${made.size} checkpoints")
    assert(kept.nonEmpty && kept.subsetOf(persisted),
      "the returned labels must stay materialized")
    val leaked = made.flatMap(rddIds).filterNot(kept).filter(persisted)
    assert(leaked.isEmpty, s"checkpoint RDDs still persisted: $leaked")
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 1L))
  }

  test("duplicatedSpans finds a verbatim passage shared by distinct docs") {
    val passage = "x" * 15 + "THE EXACT SAME FIFTY CHARACTER PASSAGE HERE!" + "y" * 15
    val docs = Seq(
      (1L, passage),                          // copy 1
      (2L, passage),                          // copy 2 (same alignment)
      (3L, "z" * 80)).toDF("id", "text")      // unique filler, no dups
    val out = Dedup.duplicatedSpans(docs, "id", "text",
        window = 40, stride = 10, minDocs = 2)
      .collect()
    assert(out.nonEmpty, "shared passage not detected")
    assert(out.forall(r => r.getLong(1) == 2L &&
      r.getLong(3) == 1L && r.getLong(4) == 2L),
      "span rows must span exactly docs 1 and 2")
  }

  test("duplicatedSpans ignores docs shorter than the window") {
    val docs = Seq((1L, "short text"), (2L, "short text")).toDF("id", "text")
    assert(Dedup.duplicatedSpans(docs, "id", "text",
      window = 40, stride = 10).count() == 0)
  }

  test("anchoredSpans catches shifted copies that stride sampling misses") {
    // the same 120-char passage embedded at offsets differing by 3 — a
    // shift ≠ 0 mod 10, so stride-10 windows never align across the two
    // copies, while content-defined anchors travel WITH the passage
    val passage = (1 to 24).map(i => s"wd$i.").mkString // 24 * 5 = 120 chars
    val docs = Seq(
      (1L, "a" * 10 + passage + "b" * 10),
      (2L, "c" * 13 + passage + "d" * 7),    // passage shifted by 3
      (3L, "z" * 140)).toDF("id", "text")
    val stride = Dedup.duplicatedSpans(docs, "id", "text",
      window = 40, stride = 10, minDocs = 2).count()
    assert(stride == 0, "stride sampling unexpectedly aligned — fixture broken")
    val anchored = Dedup.anchoredSpans(docs, "id", "text",
      window = 40, gram = 8, sel = "0", minDocs = 2).collect()
    assert(anchored.nonEmpty, "shifted copy not detected by anchored spans")
    assert(anchored.forall(r => r.getLong(3) == 1L && r.getLong(4) == 2L),
      "anchored span rows must span exactly docs 1 and 2")
  }

  test("anchoredSpansFast (native xxhash) catches the same shifted copy") {
    val passage = (1 to 24).map(i => s"wd$i.").mkString
    val docs = Seq(
      (1L, "a" * 10 + passage + "b" * 10),
      (2L, "c" * 13 + passage + "d" * 7),
      (3L, "z" * 140)).toDF("id", "text")
    val fast = Dedup.anchoredSpansFast(docs, "id", "text",
      window = 40, gram = 8, maskBits = 4, minDocs = 2).collect()
    assert(fast.nonEmpty, "shifted copy not detected by the fused CDC pass")
    assert(fast.forall(r => r.getLong(3) == 1L && r.getLong(4) == 2L))
    // identical docs share EVERY span; ~1/16 of a varied 500-char text's
    // positions anchor, so a seeded pseudo-random body must emit some
    val rnd = new scala.util.Random(7)
    val body = Array.fill(500)(('a' + rnd.nextInt(26)).toChar).mkString
    val twins = Seq((1L, body), (2L, body)).toDF("id", "text")
    val shared = Dedup.anchoredSpansFast(twins, "id", "text").collect()
    assert(shared.nonEmpty, "no anchors emitted over a varied 500-char body")
    assert(shared.forall(r => r.getLong(1) == 2L))
  }

  test("fuzzyPairs finds edit-distance neighbors through the blocks") {
    val names = Seq((1L, "johnson"), (2L, "jonson"), (3L, "johnsen"),
      (4L, "smith"), (5L, "Zohnson")).toDF("id", "name")
    val pairs = Dedup.fuzzyPairs(names, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // johnson~jonson (1 edit), johnson~johnsen (1), jonson~johnsen (2);
    // smith is unrelated; Zohnson is 1 edit from johnson but differs in
    // the FIRST character — excluded by the documented blocking contract
    assert(pairs == Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 2)))
    // blockChar = false recalls the first-character edit too
    val unblocked = Dedup.fuzzyPairs(names, "id", "name", maxDist = 2,
      blockChar = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unblocked.contains((1L, 5L)))
  }

  test("fuzzyPairs refines hot blocks by prefix instead of going quadratic") {
    // planted hot block: 5000 strings all sharing first char AND length —
    // the catalog-part-number shape the depth-1 block goes n² on
    val hot = (0 until 5000).map(i => (i.toLong, f"AAA$i%05d")).toDF("id", "name")
    val stats = Dedup.fuzzyBlockStats(hot, "id", "name", maxDist = 1,
      maxBlock = 1000, maxPrefix = 6).collect()
    // every block refined to fit: no overflow, depth > 1, all within cap
    assert(stats.forall(!_.getBoolean(4)), "expected zero overflow blocks")
    assert(stats.forall(_.getLong(3) <= 1000), "a block exceeded maxBlock")
    assert(stats.forall(_.getInt(2) > 1), "hot block was not refined")

    val pairs = Dedup.fuzzyPairs(hot, "id", "name", maxDist = 1,
      maxBlock = 1000, maxPrefix = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pairs differing in the digits BEYOND the refined prefix are kept:
    // AAA00120 ~ AAA00121 (last-digit substitution)
    assert(pairs.contains((120L, 121L)))
    assert(pairs.contains((4998L, 4999L)))
    // documented recall cut: AAA00999 ~ AAA01999 (ids 999, 1999) diverge
    // INSIDE the refined depth-5 prefix ("AAA00" vs "AAA01"), so the
    // hot-block refinement drops them (depth-1 blocking recalled them)
    assert(!pairs.contains((999L, 1999L)))
    // and nothing bogus: spot-check a found pair really is 1 edit
    assert(pairs.forall { case (i, j) => i != j })
  }

  test("fuzzyPairs overflow blocks fall back to sorted-neighborhood") {
    // 60 strings sharing the ENTIRE maxPrefix-deep prefix and length:
    // refinement cannot split them; the bounded window path must
    val ids = (0 until 60).map(i => (i.toLong, f"ZZZZZZ$i%03d"))
    val flat = ids.toDF("id", "name")
    val stats = Dedup.fuzzyBlockStats(flat, "id", "name", maxDist = 1,
      maxBlock = 10, maxPrefix = 3).collect()
    assert(stats.exists(_.getBoolean(4)), "expected an overflow block")

    val pairs = Dedup.fuzzyPairs(flat, "id", "name", maxDist = 1,
      maxBlock = 10, maxPrefix = 3, overflowWindow = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // lexicographic neighbors within the window are recalled:
    // ZZZZZZ000 ~ ZZZZZZ001 etc. (1 substitution, adjacent in sort)
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((58L, 59L)))
    // last-digit edits sort adjacent, so every consecutive same-decade
    // pair is found (decade crossings like 009→010 are 2 edits — out of
    // the maxDist=1 contract entirely, not a window miss)
    assert((0 until 59).filter(_ % 10 != 9)
      .forall(i => pairs.contains((i.toLong, i + 1L))))
    // results are deterministic across physical layouts
    val repart = Dedup.fuzzyPairs(flat.repartition(7), "id", "name",
      maxDist = 1, maxBlock = 10, maxPrefix = 3, overflowWindow = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repart == pairs)
  }

  test("anchoredSpans rejects bad gram/window and reserved columns") {
    val docs = Seq((1L, "x" * 50)).toDF("id", "text")
    assertThrows[IllegalArgumentException] {
      Dedup.anchoredSpans(docs, "id", "text", window = 4, gram = 8)
    }
    assertThrows[IllegalArgumentException] {
      Dedup.anchoredSpans(docs.withColumn("__pos", org.apache.spark.sql
        .functions.lit(1)), "id", "text")
    }
  }
}
