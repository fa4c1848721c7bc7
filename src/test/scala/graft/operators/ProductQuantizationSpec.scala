package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** PQ semantics ([[ProductQuantization]]): encode matches a driver-side
  * brute force against the trained codebooks; ADC finds the planted
  * nearest vector; contract checks. */
class ProductQuantizationSpec extends SparkSpec {
  import spark.implicits._

  // 60 deterministic 8-dim vectors + a planted near-copy of the query
  private lazy val vecs: Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(42)
    (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextDouble()))) :+
      (60L, Array(0.9, 0.1, 0.2, 0.8, 0.3, 0.7, 0.4, 0.6))
  }
  private lazy val df = vecs.toDF("vec_id", "embedding")

  test("encode assigns each subspace to its nearest codebook centroid") {
    val model = ProductQuantization.train(df, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 2)
    assert(model.subDim == 4 && model.k == 4)
    val got = ProductQuantization.encode(df, "vec_id", "embedding", model)
      .as[(Long, Seq[Int])].collect().toMap
    // driver-side brute force from the same codebooks
    vecs.foreach { case (id, v) =>
      val expected = (0 until 2).map { j =>
        val s = v.slice(j * 4, j * 4 + 4)
        model.codebooks(j).zipWithIndex.map { case (c, cid) =>
          (c.zip(s).map { case (a, b) => (b - a) * (b - a) }.sum, cid)
        }.min._2 // min by (dist, cid) — the fused expression's tie rule
      }
      assert(got(id) == expected, s"vec $id: ${got(id)} vs $expected")
    }
  }

  test("adcTopK surfaces the planted near-copy of the query first") {
    val model = ProductQuantization.train(df, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 2)
    val query = Array(0.9, 0.1, 0.2, 0.8, 0.3, 0.7, 0.4, 0.6) // == vec 60
    val enc = ProductQuantization.encode(df, "vec_id", "embedding", model)
    val top = ProductQuantization.adcTopK(enc, "vec_id", "codes",
      model, query, 61).as[(Long, Double)].collect()
    assert(top.length == 61)
    // vec 60 IS the query, so its codes are the per-subspace argmins and
    // its ADC distance is the global minimum — but coarse codebooks put
    // many vectors in the same minimal cell, and ties break by id, so
    // assert the minimal-cell property rather than a literal rank
    val d60 = top.find(_._1 == 60L).get._2
    assert(top.head._2 == d60, s"planted vector not in the minimal ADC cell")
    // distances ascend and are deterministic across layouts
    assert(top.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    val again = ProductQuantization.adcTopK(
      ProductQuantization.encode(df.repartition(7), "vec_id", "embedding", model),
      "vec_id", "codes", model, query, 61).as[(Long, Double)].collect()
    assert(again.toSeq == top.toSeq)
  }

  test("contracts: dim must split; query dim must match") {
    assertThrows[IllegalArgumentException] {
      ProductQuantization.train(df, "vec_id", "embedding", 8, 3, 2, 1)
    }
    val model = ProductQuantization.train(df, "vec_id", "embedding", 8, 2, 2, 1)
    assertThrows[IllegalArgumentException] {
      ProductQuantization.lookupTables(model, Array(1.0, 2.0))
    }
  }

  // ─────────────── OPQ (rotation + PQ) ───────────────

  test("opq rotation is orthogonal and cuts distortion on cross-subspace correlation") {
    // dims (i, i+4) are strongly correlated ACROSS the subspace
    // boundary (x[i+4] = x[i] + small noise): independent per-subspace
    // codebooks pay for the shared signal twice, while a rotation can
    // decorrelate the pairs so the same code budget cuts more error.
    // (Independent dims would be the no-gain case — PQ is already
    // near-optimal there; correlation is what OPQ exists for.)
    val dim = 8
    val corpus = spark.range(0, 800).map { i =>
      val r = new scala.util.Random(i)
      val z = Seq.fill(4)((r.nextGaussian() * 2.0).toFloat)
      val echo = z.map(v => v + (r.nextGaussian() * 0.1).toFloat)
      (i, z ++ echo)
    }.toDF("vec_id", "v")
    val model = ProductQuantization.trainOpq(corpus, "vec_id", "v",
      dim, m = 2, k = 8, iters = 3, alternations = 4)
    // shipped rotation is orthogonal up to float quantization
    assert(model.orthErr < 1e-4, s"orthErr ${model.orthErr}")
    val out = opqDistortions(corpus, model)
    assert(out._2 < out._1,
      s"OPQ must cut distortion on cross-subspace correlation: raw=${out._1} opq=${out._2}")
  }

  test("opq improves distortion on the embeddings fixture (the gate's claim)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the q_x_opq gate's fit and scoring pass
    val base = emb.select(col("vec_id"), expr("slice(embedding, 1, 16)").as("__xs"))
    val model = ProductQuantization.trainOpq(base, "vec_id", "__xs", 16, 4, 8, 2)
    val out = ProductQuantization.opqDistortionReport(base, "__xs", model).head()
    assert(out.getAs[Double]("distortion_opq") <
      out.getAs[Double]("distortion_raw"))
    assert(out.getAs[Double]("orth_err") < 1e-4)
  }

  test("opq training is deterministic (same model twice)") {
    val corpus = spark.range(0, 300).map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(8)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "v")
    val a = ProductQuantization.trainOpq(corpus, "vec_id", "v", 8, 2, 8, 2)
    val b = ProductQuantization.trainOpq(corpus, "vec_id", "v", 8, 2, 8, 2)
    assert(a.rotation.map(_.toSeq).toSeq == b.rotation.map(_.toSeq).toSeq)
    assert(a.opq.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      b.opq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  // ─────────────── OPQ serve (rotate query → ADC) ───────────────

  test("rotateQuery matches the engine's corpus-side rotation bit-for-bit") {
    import graft.functions.VectorExprs
    val corpus = spark.range(0, 200).map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(8)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "v")
    val model = ProductQuantization.trainOpq(corpus, "vec_id", "v", 8, 2, 8, 2)
    val probe = corpus.filter(col("vec_id") === 7L)
    val engineSide = probe.select(array(model.rotation.map(w =>
        VectorExprs.dot(col("v").cast("array<float>"), typedLit(w))): _*))
      .head().getSeq[Double](0)
    val driverSide = ProductQuantization.rotateQuery(model.rotation,
      probe.select(col("v")).head().getSeq[Float](0).toArray)
    assert(engineSide == driverSide.toSeq,
      "driver rotation must reproduce the fused dot accumulation exactly")
  }

  test("opqServeTopK puts a planted query copy in the minimal ADC cell") {
    val corpus = spark.range(0, 400).map { i =>
      val r = new scala.util.Random(i)
      val z = Seq.fill(4)((r.nextGaussian() * 2.0).toFloat)
      (i, z ++ z.map(v => v + (r.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "v")
    val model = ProductQuantization.trainOpq(corpus, "vec_id", "v",
      8, m = 2, k = 8, iters = 2)
    val query = corpus.filter(col("vec_id") === 123L)
      .select(col("v")).head().getSeq[Float](0).toArray
    val top = ProductQuantization.opqServeTopK(corpus, "vec_id", "v",
      model, query, topK = 400)
      .as[(Long, Double)].collect()
    val dPlanted = top.find(_._1 == 123L).get._2
    assert(top.head._2 == dPlanted,
      "the query's own vector must sit in the minimal ADC cell")
    assert(top.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    // layout invariance: repartitioned corpus serves the identical list
    val again = ProductQuantization.opqServeTopK(corpus.repartition(7),
      "vec_id", "v", model, query, topK = 400).as[(Long, Double)].collect()
    assert(again.toSeq == top.toSeq)
  }

  test("opqServeTopK plans a bounded top-k heap, no pre-top-k exchange") {
    val corpus = spark.range(0, 100).map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(8)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "v")
    val model = ProductQuantization.trainOpq(corpus, "vec_id", "v", 8, 2, 8, 1)
    val plan = ProductQuantization.opqServeTopK(corpus, "vec_id", "v",
      model, Array.fill(8)(0.1f), 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), s"serve scan must be map-side:\n$plan")
  }

  test("opqServeTopK rejects a query of the wrong dimension") {
    val corpus = spark.range(0, 200).map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(8)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "v")
    val model = ProductQuantization.trainOpq(corpus, "vec_id", "v", 8, 2, 8, 1)
    assertThrows[IllegalArgumentException] {
      ProductQuantization.opqServeTopK(corpus, "vec_id", "v", model,
        Array.fill(4)(0.1f), 10)
    }
  }

  /** (raw, opq) mean squared reconstruction error via the public pieces. */

  test("trainOpqSampled: keep-better policy never publishes a worse model") {
    // planted cross-subspace correlation (the case OPQ exists for)
    val corpus = spark.range(0, 1200).map { i =>
      val r = new scala.util.Random(i)
      val z = Seq.fill(4)((r.nextGaussian() * 2.0).toFloat)
      val echo = z.map(v => v + (r.nextGaussian() * 0.1).toFloat)
      (i, z ++ echo)
    }.toDF("vec_id", "v").localCheckpoint()
    val full = ProductQuantization.trainOpq(corpus, "vec_id", "v",
      8, m = 2, k = 8, iters = 2, alternations = 2)
    val choice = ProductQuantization.trainOpqSampled(corpus, "vec_id", "v",
      8, m = 2, k = 8, iters = 2, alternations = 2,
      frac = 0.3, seed = 42L, previous = Some(full))
    // the POLICY pin: the published model's full-corpus distortion is
    // <= BOTH candidates' (it is the argmin, re-scored independently)
    val dPub = ProductQuantization.scoreOpqDistortion(corpus, "v", choice.model)
    assert(math.abs(dPub - choice.distortion) < 1e-9,
      s"reported ${choice.distortion} != rescored $dPub")
    assert(choice.distortion <= choice.sampledDistortion + 1e-12)
    assert(choice.distortion <= choice.previousDistortion.get + 1e-12)
    // bookkeeping consistent with the pick
    if (choice.keptSampled)
      assert(choice.distortion == choice.sampledDistortion)
    else
      assert(choice.distortion == choice.previousDistortion.get)
    assert(choice.sampleRows > 0 && choice.sampleRows < 1200)
  }

  test("trainOpqSampled without a previous model returns the sampled fit") {
    // full-rank planted-correlation corpus (a degenerate one makes the
    // Procrustes cross-moment rank-deficient, which trainOpq rejects)
    val corpus = spark.range(0, 600).map { i =>
      val r = new scala.util.Random(i)
      val z = Seq.fill(4)((r.nextGaussian() * 2.0).toFloat)
      val echo = z.map(v => v + (r.nextGaussian() * 0.1).toFloat)
      (i, z ++ echo)
    }.toDF("vec_id", "v").localCheckpoint()
    val choice = ProductQuantization.trainOpqSampled(corpus, "vec_id", "v",
      8, m = 2, k = 8, iters = 2, alternations = 1, frac = 0.5, seed = 7L)
    assert(choice.keptSampled && choice.previousDistortion.isEmpty)
    assert(choice.distortion == choice.sampledDistortion)
  }

  test("trainOpqSampled rejects bad frac and a dim-mismatched previous") {
    val corpus = spark.range(0, 50).map { i =>
      (i, Seq.fill(8)(0.5f)) }.toDF("vec_id", "v")
    intercept[IllegalArgumentException] {
      ProductQuantization.trainOpqSampled(corpus, "vec_id", "v",
        8, 2, 4, 1, frac = 0.0)
    }
    // hand-built dim-4 model — the dim check must fire before any job
    val pq4 = ProductQuantization.PQModel(4, 2,
      Array.fill(2)(Array(Array(0.0, 0.0))))
    val wrongDim = ProductQuantization.OpqModel(4,
      Array.tabulate(4, 4)((i, j) => if (i == j) 1.0f else 0.0f),
      pq4, pq4, orthErr = 0.0)
    intercept[IllegalArgumentException] {
      ProductQuantization.trainOpqSampled(corpus, "vec_id", "v",
        8, 2, 4, 1, frac = 0.5, previous = Some(wrongDim))
    }
  }

  private def opqDistortions(corpus: org.apache.spark.sql.DataFrame,
      model: ProductQuantization.OpqModel): (Double, Double) = {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExprs
    def mse(df: org.apache.spark.sql.DataFrame, vcol: String,
        pq: ProductQuantization.PQModel): Double = {
      val enc = ProductQuantization.encode(df, "vec_id", vcol, pq)
      val sub = pq.subDim
      val joined = df.join(enc, "vec_id")
      val d2 = (0 until pq.m).flatMap { j =>
        val cb = typedLit(pq.codebooks(j).map(_.toSeq).toSeq)
        (0 until sub).map { i =>
          val t = col(vcol).getItem(j * sub + i).cast("double") -
            element_at(element_at(cb, col("codes").getItem(j) + 1), i + 1)
          t * t
        }
      }.reduce(_ + _)
      joined.agg(avg(d2)).head().getDouble(0)
    }
    val raw = mse(corpus, "v", model.raw)
    val comps = model.rotation.map(w =>
      VectorExprs.dot(col("v").cast("array<float>"), typedLit(w)))
    val rotated = corpus.withColumn("vr", array(comps: _*))
    val opq = mse(rotated, "vr", model.opq)
    (raw, opq)
  }
}
