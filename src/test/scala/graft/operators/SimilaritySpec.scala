package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.VectorExprs

/** ANN operators over the embeddings fixture: native-expression cosine
  * equivalence, brute-force baseline, LSH and IVF probes. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  private lazy val query: Array[Float] = emb
    .filter(col("vec_id") === 0).select("embedding")
    .as[Seq[Float]].head().toArray

  test("native cosine matches the HOF formula and self-cosine is 1") {
    val viaHof = emb.limit(50).select(col("vec_id"),
      (aggregate(zip_with(col("embedding"), col("embedding"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)).as("norm2"))
    viaHof.collect().foreach { r => assert(r.getDouble(1) > 0) }

    val bad = emb.limit(50)
      .select(abs(VectorExprs.cosine(col("embedding"), col("embedding")) - 1.0).as("d"))
      .filter(col("d") > 1e-9).count()
    assert(bad == 0)
  }

  test("cosine expression agrees with a driver-side computation") {
    val rows = emb.limit(20)
      .select(col("vec_id"), col("embedding"),
        VectorExprs.cosine(col("embedding"), typedLit(query)).as("cos"))
      .as[(Long, Seq[Float], Double)].collect()
    rows.foreach { case (_, v, cos) =>
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      v.indices.foreach { i =>
        dot += v(i).toDouble * query(i).toDouble
        nx += v(i).toDouble * v(i).toDouble
        ny += query(i).toDouble * query(i).toDouble
      }
      val expected = dot / (math.sqrt(nx) * math.sqrt(ny))
      assert(math.abs(cos - expected) < 1e-12)
    }
  }

  test("bruteForceTopK puts the query vector itself first") {
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 5).collect()
    assert(top.head.getLong(0) == 0L)
    assert(top.head.getDouble(1) == 1.0)
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("lshTopK (multi-probe) finds the exact-match vector") {
    val top = Similarity.lshTopK(emb, "vec_id", "embedding", query, 5, planes = 8)
    assert(top.collect().head.getLong(0) == 0L)
  }

  test("lshTopK auto-parametrization: k rows and recall@10 >= 0.8 vs brute force") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    assert(approx.size == 10, s"expected k=10 rows, got ${approx.size}")
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@10 = $recall")
  }

  test("planesFor scales with corpus size; probeSet covers the Hamming ball") {
    assert(Similarity.planesFor(500) == 2)       // tiny corpus → probe ≈ everything
    assert(Similarity.planesFor(1000000) == 13)  // 1M/128 ≈ 8k buckets
    assert(Similarity.planesFor(Long.MaxValue) == 56)    // 63 - log2(128)
    assert(Similarity.planesFor(Long.MaxValue, 1) == 62) // bitmask cap
    val probes = Similarity.probeSet(5L, 4, 2)
    assert(probes.size == 1 + 4 + 6 && probes.distinct.size == probes.size)
    assert(probes.contains(5L) && probes.contains(5L ^ 3L))
  }

  test("ivf assignment + probe finds the exact-match vector") {
    val centroids = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
    assert(assigned.count() == emb.count()) // exactly one centroid per row
    val top = Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids,
      query, 5, nprobe = 2)
    assert(top.collect().head.getLong(0) == 0L)
  }

  test("ivfTopK (kmeans centroids, gated-query parameters) recall@10 >= 0.8") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val centroids = Similarity.trainCentroids(emb, "embedding", k = 8, maxIter = 5)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
    val approx = Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids,
      query, 10, nprobe = 3).collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall@10 = $recall")
  }

  test("kmeans-trained centroids drive the IVF probe") {
    val centroids = Similarity.trainCentroids(emb, "embedding", k = 4, maxIter = 3)
    assert(centroids.count() == 4)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
    assert(assigned.count() == emb.count())
    val top = Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids,
      query, 5, nprobe = 2)
    assert(top.collect().head.getLong(0) == 0L)
  }

  test("batchTopK ranks self-match first for every query") {
    val queries = emb.limit(3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Similarity.batchTopK(emb, "vec_id", "embedding", queries, "qid", "qvec", 3)
    val selfRank = top.filter(col("qid") === col("vec_id"))
      .select("rank").as[Int].collect()
    assert(selfRank.length == 3 && selfRank.forall(_ == 1))
  }

  test("retrievalNdcg: clean clusters score 1.0, scrambled labels lower") {
    import org.apache.spark.sql.functions.col
    // two tight orthogonal clusters of 6 — every neighbor shares the
    // query's label, and 5 relevant fill the whole ideal list (k=5)
    val pts = (0 until 12).map { i =>
      val lab = i % 2
      val base = if (lab == 0) (1f, 0f) else (0f, 1f)
      (i.toLong, lab, Seq(base._1 + i * 0.001f, base._2))
    }.toDF("vec_id", "label", "embedding")
    val perfect = Similarity.retrievalNdcg(pts, "vec_id", "embedding",
        "label", col("vec_id") < 4, k = 5)
      .collect()
    assert(perfect.length == 4)
    perfect.foreach { r =>
      assert(r.getAs[Long]("n_rel") == 5L)
      assert(r.getAs[Double]("ndcg") == 1.0)
    }
    // same geometry, labels assigned AGAINST geometry → ndcg < 1
    val scrambled = (0 until 12).map { i =>
      val base = if (i < 6) (1f, 0f) else (0f, 1f)
      (i.toLong, i % 2, Seq(base._1 + i * 0.001f, base._2))
    }.toDF("vec_id", "label", "embedding")
    val worse = Similarity.retrievalNdcg(scrambled, "vec_id", "embedding",
        "label", col("vec_id") < 4, k = 5)
      .collect().map(_.getAs[Double]("ndcg"))
    assert(worse.forall(_ < 1.0))
  }

  test("mutualNearestPairs keeps only reciprocal top-1 pairs, per group") {
    // group 0: 1↔2 near-identical, 3 closer to 2 than to 1 (one-sided);
    // group 1 is a separate block — its pair must not cross groups
    val rows = Seq(
      (1L, 0, Seq(1.0f, 0.0f, 0.0f)),
      (2L, 0, Seq(0.999f, 0.04f, 0.0f)),
      (3L, 0, Seq(0.9f, 0.43f, 0.0f)),
      (10L, 1, Seq(0.0f, 1.0f, 0.0f)),
      (11L, 1, Seq(0.0f, 0.999f, 0.04f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.mutualNearestPairs(rows, "vec_id", "embedding", "label")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // 3's top-1 is 2, but 2's top-1 is 1 → (2,3) is NOT mutual
    assert(got == Set((1L, 2L), (10L, 11L)))
  }

  test("mutualNearestPairs requires reciprocity within the SAME group") {
    // Pins the (intentional) round-12 semantics change: reciprocity is
    // checked per (group, unordered pair), matching the generated
    // DuckDB twins' same-block join. Pre-r12, the top1 ⋈ top1 self-join
    // matched directed edges on ids ALONE, so an id appearing in two
    // groups could close a "mutual" pair across groups. Here ids 1 and
    // 2 both appear in g1 and g2; 1's top-1 in g1 is 2, and 2's top-1
    // in g2 is 1 — ids-only reciprocity would emit (1,2), same-group
    // reciprocity must not. The true per-group mutual pairs are (2,3)
    // in g1 and (1,4) in g2.
    val rows = Seq(
      // g1: 1 → 2 (cos .8 beats .790); 2 ↔ 3 mutual
      (1L, "g1", Seq(1.0f, 0.0f)),
      (2L, "g1", Seq(0.8f, 0.6f)),
      (3L, "g1", Seq(0.79f, 0.613f)),
      // g2: 2 → 1 (same geometry, roles swapped); 1 ↔ 4 mutual
      (2L, "g2", Seq(1.0f, 0.0f)),
      (1L, "g2", Seq(0.8f, 0.6f)),
      (4L, "g2", Seq(0.79f, 0.613f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.mutualNearestPairs(rows, "vec_id", "embedding",
        "label", dim = 2)
      .select("label", "id1", "id2").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("g1", 2L, 3L), ("g2", 1L, 4L)),
      s"cross-group reciprocity must not count, got $got")
  }

  test("knnGraph / mutualNearestPairs on string ids match the long-id run") {
    // generic ids: "doc-<n>" strings must rank and pair exactly like the
    // same frame keyed by n (gaussian vectors — no cosine ties, so the
    // id tie rule never decides); the long-id run must keep its
    // bounded-heap top_k plan instead of falling back to a window
    val rnd = new scala.util.Random(5)
    val rows = (0 until 40).map(i =>
      (i.toLong, i % 3, Seq.fill(6)(rnd.nextGaussian().toFloat)))
    val longs = rows.toDF("vec_id", "label", "embedding")
    val strs = rows.map { case (i, l, v) => (s"doc-$i", l, v) }
      .toDF("vec_id", "label", "embedding")
    def n(id: Any): Long = id.toString.stripPrefix("doc-").toLong
    def knn(df: org.apache.spark.sql.DataFrame) =
      Similarity.knnGraph(df, "vec_id", "embedding", "label", k = 3, dim = 6)
    def knnRows(df: org.apache.spark.sql.DataFrame) = knn(df).collect().map(r =>
      (r.getInt(0), n(r.get(1)), r.getInt(2), n(r.get(3)), r.getDouble(4))).toSet
    def mnnRows(df: org.apache.spark.sql.DataFrame) =
      Similarity.mutualNearestPairs(df, "vec_id", "embedding", "label", dim = 6)
        .select("label", "id1", "id2", "cos").collect().map { r =>
          val (a, b) = (n(r.get(1)), n(r.get(2)))
          (r.getInt(0), math.min(a, b), math.max(a, b), r.getDouble(3))
        }.toSet
    val knnLong = knnRows(longs)
    assert(knnLong.size == 40 * 3)
    assert(knnRows(strs) == knnLong)
    val mnnLong = mnnRows(longs)
    assert(mnnLong.nonEmpty && mnnRows(strs) == mnnLong)
    val nodes = graft.PlanWalk.allNodes(knn(longs).queryExecution.executedPlan)
    assert(nodes.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.TopKAgg]))),
      "long-id knnGraph lost its top_k heap aggregate")
  }

  test("maxBlock = 0 auto-resolves to DefaultMnnBlock; explicit caps pass through") {
    assert(Similarity.DefaultMnnBlock == 256)
    assert(Similarity.resolvedBlockCap(0) == Similarity.DefaultMnnBlock)
    assert(Similarity.resolvedBlockCap(-3) == Similarity.DefaultMnnBlock)
    assert(Similarity.resolvedBlockCap(16) == 16)
    assert(Similarity.resolvedBlockCap(4096) == 4096)
  }

  test("auto-cap mutualNearestPairs is exact below DefaultMnnBlock (== explicit 4096)") {
    // one 60-row label block (under the 256 auto cap): the production
    // default must not refine, so its pairs equal the exact regime's
    val rnd = new scala.util.Random(11)
    val rows = (0 until 60).map(i =>
      (i.toLong, 0, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "label", "embedding")
    val auto = Similarity.mutualNearestPairs(rows, "vec_id", "embedding",
        "label", dim = 8)
      .select("id1", "id2", "cos").collect().map(_.toSeq).toSet
    val exact = Similarity.mutualNearestPairs(rows, "vec_id", "embedding",
        "label", maxBlock = 4096, dim = 8)
      .select("id1", "id2", "cos").collect().map(_.toSeq).toSet
    assert(auto == exact && auto.nonEmpty)
  }

  test("mutualNearestPairs refines an oversized group; candidates stay bounded") {
    // one 302-row label group, cap 32: the hyperplane sub-split must
    // engage (no unrefined 302-row all-pairs), the planted exact-copy
    // pair must survive refinement (identical vectors share every
    // sign, so they cannot be separated), and the candidate volume
    // must be linear in the group size, not quadratic
    val base = Seq(2.0f, -1.0f, 0.5f, 3.0f, 0.0f, 1.0f, -2.0f, 0.25f)
    val rnd = new scala.util.Random(7)
    val rows = Seq((1L, 0, base), (2L, 0, base)) ++
      (0 until 300).map(i =>
        (100L + i, 0, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val got = Similarity.mutualNearestPairs(df, "vec_id", "embedding",
      "label", maxBlock = 32, overflowWindow = 4, dim = 8)
    assert(got.filter(col("id1") === 1L && col("id2") === 2L).count() == 1,
      "planted exact-copy pair must survive refinement")
    val planes = Similarity.subBucketPlanes(8)
    val refined = Similarity.refineOversizedBlocks(df, "label", "vec_id",
      "embedding", 32, planes)
    val n = rows.size.toLong
    val cand = Similarity.boundedBlockPairs(refined, 4, planes.last).count()
    assert(cand <= n * 36, s"candidates not bounded: $cand")
    assert(cand < n * (n - 1) / 4, s"looks all-pairs: $cand of ${n * (n - 1) / 2}")
  }

  test("fused ivfAssign matches the crossJoin+window argmax twin exactly") {
    // the map-side nearestCentroidCosine argmax replaced a corpus×k
    // exchange; its tie/fold contract must stay bit-identical to
    // row_number() OVER (ORDER BY cos DESC, cid) = 1 — including a
    // planted EXACT TIE (duplicate centroid → lowest cid wins)
    val rnd = new scala.util.Random(31)
    val emb = (0 until 300).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val cvecs = (0 until 5).map(c =>
      (c, Seq.fill(8)(rnd.nextGaussian().toFloat))) :+ (5, Seq.fill(8)(0.0f))
    val cents = (cvecs :+ ((6, cvecs(2)._2))) // cid 6 duplicates cid 2
      .toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
    val fused = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .select("vec_id", "cid").as[(Long, Int)].collect().toMap
    // independent window twin (the pre-rewrite plan)
    val joined = emb.crossJoin(broadcast(cents))
      .withColumn("__cos", VectorExprs.cosine(col("embedding"), col("cvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("__cos").desc, col("cid"))
    val windowed = joined
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .select("vec_id", "cid").as[(Long, Int)].collect().toMap
    assert(fused == windowed, "fused argmax diverged from the window twin")
    assert(!fused.values.exists(_ == 6), "exact tie must resolve to the LOWER cid")
  }

  test("cosine of a zero-norm NON-NULLABLE input is null (null-introducing expr)") {
    // literals are non-nullable: without CosineSimilarity.nullable=true
    // the unsafe projection either fails to compile (undeclared isNull)
    // or, worse, writes 0.0 where the semantic answer is null
    val zero = org.apache.spark.sql.functions.typedLit(Seq(0.0f, 0.0f))
    val one = org.apache.spark.sql.functions.typedLit(Seq(1.0f, 0.0f))
    val c = VectorExprs.cosine(zero, one)
    val df = spark.range(1).select(c.as("cos"))
    assert(df.schema("cos").nullable, "cosine must declare itself nullable")
    assert(df.head().isNullAt(0), "zero-norm cosine must be null")
  }

  test("ragged vector lengths THROW — no silent prefix truncation") {
    // the pre-round-8 expressions clamped to min(len) (CosineSimilarity)
    // or mixed a full-length ‖x‖ with truncated dot/‖c‖ (the argmax) —
    // plausible-but-wrong on a ragged corpus, and divergent from
    // DuckDB's list_cosine_similarity (which errors). Contract now:
    // loud IllegalArgumentException, same in codegen AND interpreted.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType, DoubleType}
    import graft.functions.{CosineSimilarity, DotProduct, NearestCentroid, NearestCentroidCosine}
    val a2 = typedLit(Seq(1.0f, 2.0f)); val a3 = typedLit(Seq(1.0f, 2.0f, 3.0f))
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
      sb.toString
    }
    // codegen path (DataFrame select over non-null literals)
    for (expr <- Seq(VectorExprs.cosine(a2, a3), VectorExprs.dot(a3, a2))) {
      val e = intercept[Throwable] { spark.range(1).select(expr.as("v")).head() }
      assert(rootMsg(e).contains("length mismatch"), rootMsg(e))
    }
    val cc = VectorExprs.nearestCentroidCosine(a3,
      Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
    val e1 = intercept[Throwable] { spark.range(1).select(cc.as("v")).head() }
    assert(rootMsg(e1).contains("length mismatch"), rootMsg(e1))
    // interpreted path (direct eval, no codegen anywhere)
    val l2 = Literal.create(Seq(1.0f, 2.0f), ArrayType(FloatType, false))
    val l3 = Literal.create(Seq(1.0f, 2.0f, 3.0f), ArrayType(FloatType, false))
    val d3 = Literal.create(Seq(1.0, 2.0, 3.0), ArrayType(DoubleType, false))
    assert(intercept[IllegalArgumentException] {
      CosineSimilarity(l2, l3).eval(InternalRow.empty)
    }.getMessage.contains("length mismatch"))
    assert(intercept[IllegalArgumentException] {
      DotProduct(l3, l2).eval(InternalRow.empty)
    }.getMessage.contains("length mismatch"))
    assert(intercept[IllegalArgumentException] {
      NearestCentroidCosine(l3, Array(Array(1.0f, 0.0f))).eval(InternalRow.empty)
    }.getMessage.contains("length mismatch"))
    assert(intercept[IllegalArgumentException] {
      NearestCentroid(d3, Array(Array(1.0, 0.0))).eval(InternalRow.empty)
    }.getMessage.contains("length mismatch"))
    // ragged CENTROID panels are rejected at construction
    assert(intercept[IllegalArgumentException] {
      NearestCentroidCosine(l2, Array(Array(1.0f, 0.0f), Array(1.0f)))
    }.getMessage.contains("share one dimension"))
    // equal-length inputs still work through both paths
    assert(math.abs(spark.range(1)
      .select(VectorExprs.cosine(a2, a2).as("v")).head().getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(CosineSimilarity(l3, l3).eval(InternalRow.empty)
      .asInstanceOf[Double] - 1.0) < 1e-9)
  }

  test("null blocks pair among themselves (null-safe block key)") {
    // the refineOversizedBlocks contract says a null block is one more
    // block — boundedBlockPairs must honor it through a NULL-SAFE join
    // key (a null-unsafe equi-join would silently emit zero pairs)
    val rows = Seq(
      (1L, Some(0), Seq(1.0f, 0.0f)), (2L, Some(0), Seq(0.99f, 0.1f)),
      (10L, None, Seq(0.0f, 1.0f)), (11L, None, Seq(0.1f, 0.99f)))
      .toDF("vec_id", "label", "embedding")
    val planes = Similarity.subBucketPlanes(2)
    val refined = Similarity.refineOversizedBlocks(rows, "label", "vec_id",
      "embedding", maxBlock = 16, planes = planes)
    val pairs = Similarity.boundedBlockPairs(refined, 4, planes.last)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (10L, 11L)),
      s"null block must pair internally (and never across): $pairs")
    val mnn = Similarity.mutualNearestPairs(rows, "vec_id", "embedding",
      "label", dim = 2).select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(mnn == Set((1L, 2L), (10L, 11L)), s"MNN over a null block: $mnn")
  }

  test("hardNegatives ranks cross-label rows by cosine, skips own label") {
    import spark.implicits._
    def v(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // anchor 1 (label a, 0°); same-label 2 at 1° must NOT appear;
    // label-b rows at 10°, 30°, 80° rank by angle
    val rows = Seq((1L, "a", v(0)), (2L, "a", v(1)),
      (10L, "b", v(10)), (11L, "b", v(30)), (12L, "b", v(80)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(rows, "vec_id", "embedding",
        "label", col("vec_id") === 1, k = 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("neg")))
    assert(got.toSeq == Seq((1L, 1, 10L), (1L, 2, 11L)))
  }

  test("ivfRecallCurve: recall monotone in nprobe, exact at full probe") {
    val cents = emb.filter(col("vec_id").isin(3L, 63L, 123L, 183L, 243L, 303L, 363L, 423L))
      .orderBy(col("vec_id")).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray).toSeq
    val q = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head().toArray
    val curve = Similarity.ivfRecallCurve(emb, "vec_id", "embedding",
        cents, q, k = 10, Seq(1, 2, 4, 8))
      .orderBy(col("nprobe")).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("cand_n"),
        r.getAs[Long]("hits"), r.getAs[Double]("recall")))
    assert(curve.map(_._1).toSeq == Seq(1, 2, 4, 8))
    // candidate cost strictly grows with nprobe; at nprobe = |lists| the
    // probe scans the whole corpus
    assert(curve.map(_._2).toSeq == curve.map(_._2).sorted.toSeq)
    assert(curve.last._2 == emb.count())
    // recall never decreases (probed lists nest) and the full probe IS
    // the exact scan: recall exactly 1
    assert(curve.map(_._3).toSeq == curve.map(_._3).sorted.toSeq)
    assert(curve.last._3 == 10L && curve.last._4 == 1.0)
    // the query vector itself sits in a probed-first list: hits >= 1
    assert(curve.head._3 >= 1L)
  }

  test("ivfRecallCurveBatch: panel mean bounded by per-query curves, exact at full probe") {
    val cents = emb.filter(col("vec_id").isin(3L, 63L, 123L, 183L, 243L, 303L, 363L, 423L))
      .orderBy(col("vec_id")).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray).toSeq
    val qIds = Seq(1L, 41L, 81L, 121L)
    val queries = emb.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id"), col("embedding"))
    val panel = Similarity.ivfRecallCurveBatch(emb, "vec_id", "embedding",
        cents, queries, "vec_id", "embedding", k = 10, Seq(1, 4, 8))
      .orderBy(col("nprobe")).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("n_queries"),
        r.getAs[Long]("cand_total"), r.getAs[Long]("hits_total"),
        r.getAs[Double]("mean_recall")))
    assert(panel.map(_._1).toSeq == Seq(1, 4, 8))
    assert(panel.forall(_._2 == 4L))
    // cost and recall monotone; full probe = exact scan for EVERY query
    assert(panel.map(_._3).toSeq == panel.map(_._3).sorted.toSeq)
    assert(panel.last._3 == emb.count() * 4)
    assert(panel.map(_._4).toSeq == panel.map(_._4).sorted.toSeq)
    assert(panel.last._4 == 40L && panel.last._5 == 1.0)
    // the panel mean at each nprobe equals the mean of the single-query
    // curves — the batch path changes the orchestration, not the math
    val singles = qIds.map { qid =>
      val q = emb.filter(col("vec_id") === qid).select("embedding")
        .as[Seq[Float]].head().toArray
      Similarity.ivfRecallCurve(emb, "vec_id", "embedding", cents, q,
          k = 10, Seq(1, 4, 8))
        .orderBy(col("nprobe")).collect()
        .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("hits"))).toMap
    }
    panel.foreach { case (np, _, _, hitsTotal, _) =>
      assert(hitsTotal == singles.map(_(np)).sum,
        s"panel hits at nprobe=$np must sum the single-query hits")
    }
  }

  test("ivfRecallCurveBatch validates its panel contracts") {
    val queries = emb.limit(2).select(col("vec_id"), col("embedding"))
    assertThrows[IllegalArgumentException] {
      Similarity.ivfRecallCurveBatch(emb, "vec_id", "embedding",
        Seq.empty, queries, "vec_id", "embedding", 10, Seq(1))
    }
    val cents = Seq(Array.fill(64)(0.1f), Array.fill(64)(0.2f))
    assertThrows[IllegalArgumentException] {
      Similarity.ivfRecallCurveBatch(emb, "vec_id", "embedding",
        cents, queries, "vec_id", "embedding", 10, Seq(2, 1))
    }
    assertThrows[IllegalArgumentException] {
      Similarity.ivfRecallCurveBatch(emb, "vec_id", "embedding",
        cents, queries, "vec_id", "embedding", 0, Seq(1))
    }
  }
  test("suggestedNlist keeps expected cell size constant as the corpus grows") {
    import graft.operators.Similarity
    assert(Similarity.suggestedNlist(0) == 1)
    assert(Similarity.suggestedNlist(255) == 1)
    assert(Similarity.suggestedNlist(2000, 256) == 8)
    // 10x the corpus -> ~10x the codebook -> per-cell refine cost flat
    assert(Similarity.suggestedNlist(20000, 256) == 79)
    assert(Similarity.suggestedNlist(1L << 40, 256) > 0) // no overflow
    intercept[IllegalArgumentException](Similarity.suggestedNlist(-1))
    intercept[IllegalArgumentException](Similarity.suggestedNlist(10, 0))
  }

  test("trainCentroids k=0 auto-sizes the codebook with the corpus") {
    // 500-row fixture, targetCell 100 -> ceil(500/100) = 5 centroids;
    // the auto default is the production path (a fixed k lets per-cell
    // density — and the quadratic block-scoped consumers — grow with
    // the corpus)
    val auto = Similarity.trainCentroids(emb, "embedding",
      maxIter = 3, targetCell = 100)
    assert(auto.count() == math.ceil(emb.count() / 100.0).toLong)
    // auto k is bounded by trainCap/4 (k-means cannot place more
    // centroids than a fraction of its training points)
    val capped = Similarity.trainCentroids(emb, "embedding",
      maxIter = 1, trainCap = 8, targetCell = 1)
    assert(capped.count() == 2) // min(500 wanted, 8/4)
    // assignment still covers every row under the auto codebook
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", auto)
    assert(assigned.count() == emb.count())
    assert(assigned.select("cid").distinct().count() <= auto.count())
  }
}
