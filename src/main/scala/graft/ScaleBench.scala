package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale sweep of the most expensive battery gates at 10× the bench SF —
  * the direct evidence for the "would this plan survive a scale-up"
  * claim: the battery is CORRECTNESS-gated at sf0.001/sf0.01 and benched
  * at sf0.1; the family rungs (recallfam/gramfam/opqserve/kmvfam) cover
  * 10-100M synthetic rows, but this main runs the ACTUAL battery queries
  * against a 10×-scaled copy of the bench fixture and reports per-query
  * scaling ratios (a keyed-join/aggregate plan should scale ~linearly;
  * anything superlinear is a finding, not a mystery).
  *
  * `runMain graft.ScaleBench [srcDir] [outDir] [q1,q2,…]` — generates
  * the scaled fixture under outDir if absent (10 key-offset copies per
  * table; dims region/nation stay fixed like TPC-H scaling), runs each
  * query at BOTH scales in the same session (min of SPARK_GRAFT_REPS
  * passes, default 2), and writes BENCH_SF1.json.
  *
  * Scaling scheme (copy c ∈ 0..9; c=0 is the identity so the original
  * rows survive verbatim):
  *  - every surrogate key offsets by c·10⁹, consistently across fact and
  *    dim sides, so FK joins land exactly as before (10× both sides);
  *  - `documents.text` for c>0 gets a per-token copy suffix — exact and
  *    near-dup pipelines must NOT see the 10 copies as one giant
  *    duplicate family (organic 10× data is mostly-new content; exact
  *    replicas would explode LSH buckets quadratically and measure a
  *    fixture artifact, not the operator);
  *  - `embeddings.embedding` for c>0 shifts element-wise by c·10⁻³ —
  *    same reasoning for the vector side (cosine-identical copies would
  *    stack 10-deep in every ANN cell).
  */
object ScaleBench {

  private val Off = 1000000000L // key offset per copy — far above any fixture key

  private def perturbed(spark: SparkSession, srcDir: String, table: String,
      copies: Int): DataFrame = {
    // not IO.table: the scaled fixture keeps events.ts as the source wrote it
    val base = graft.sources.IO.readParquet(spark, s"$srcDir/$table.parquet")
    def shifted(c: Int): DataFrame = {
      val k = lit(c.toLong * Off)
      table match {
        case "region" | "nation" => base // fixed dims, TPC-H style
        case "customer" => base.withColumn("c_custkey", col("c_custkey") + k)
        case "supplier" => base.withColumn("s_suppkey", col("s_suppkey") + k)
        case "part" => base.withColumn("p_partkey", col("p_partkey") + k)
        case "orders" => base
          .withColumn("o_orderkey", col("o_orderkey") + k)
          .withColumn("o_custkey", col("o_custkey") + k)
        case "lineitem" => base
          .withColumn("l_orderkey", col("l_orderkey") + k)
          .withColumn("l_partkey", col("l_partkey") + k)
          .withColumn("l_suppkey", col("l_suppkey") + k)
        case "events" => base
          .withColumn("event_id", col("event_id") + k)
          .withColumn("user_id", col("user_id") + k)
        case "documents" => base
          .withColumn("doc_id", col("doc_id") + k)
          .withColumn("text",
            if (c == 0) col("text")
            else regexp_replace(col("text"), "(\\S+)", "$1" + c.toString))
        case "embeddings" => base
          .withColumn("vec_id", col("vec_id") + k)
          .withColumn("embedding",
            if (c == 0) col("embedding")
            else transform(col("embedding"),
              x => (x + lit(c * 0.001f)).cast("float")))
        case other => sys.error(s"no scaling rule for table $other")
      }
    }
    val n = if (table == "region" || table == "nation") 1 else copies
    (0 until n).map(shifted).reduce(_ unionByName _)
  }

  /** The 20 most expensive gates of the round-10 bench (BENCH_r10 per-
    * query mins, descending) — the default sweep set — plus
    * q_x_pipeline3_auto, the auto-sized production IVF path whose 10×
    * ratio is the round-12 scale gate (the fixed-8-cell q_x_pipeline3
    * measured 18.0× in round 11; the auto codebook must bring the same
    * chain to ~linear). */
  val DefaultQueries: Seq[String] = Seq(
    "q_x_pipeline4", "q_x_pipeline4_auto",
    "q_x_pagerank", "q_x_golden", "q_x_dbscan",
    "q_a_trimmed", "q_x_hits", "q_x_pipeline3", "q_x_pipeline3_auto",
    "q_x_entity",
    "q_x_semdedup", "q_x_bpe", "q_x_mnn_ivf", "q_x_dedup_eval",
    "q_a_spearman", "q_x_mutual_nn", "q_a_wmedian", "q_x_setjoin",
    "q_f_scaling", "q_x_kmeans", "q_x_cluster_split", "q_x_fuzzy")

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/root/repo/tmp/sf1")
    val names = args.lift(2).map(_.split(",").toSeq).getOrElse(DefaultQueries)
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    val spark = GraftSession("graft-scale-bench")

    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // the marker records WHAT was generated (source dir + perturbation
    // scheme version), not just that something finished: a bare marker
    // silently reuses a stale fixture after the source or the scaling
    // rules change, and the sweep then reports ratios against the wrong
    // base. Bump SchemeVersion whenever perturbed() changes.
    val SchemeVersion = "v2-tokensuffix-embshift"
    val markerWant = s"src=$srcDir scheme=$SchemeVersion copies=10"
    val marker = new java.io.File(s"$outDir/_SCALE_OK")
    val markerHave =
      if (marker.exists())
        new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim
      else ""
    if (markerHave != markerWant) {
      if (marker.exists())
        println(s"[scalebench] fixture stale ('$markerHave' != '$markerWant') — regenerating")
      println(s"[scalebench] generating 10x fixture at $outDir")
      tables.foreach { t =>
        val t0 = System.nanoTime()
        perturbed(spark, srcDir, t, copies = 10)
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
        println(f"[scalebench]   $t: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      marker.getParentFile.mkdirs()
      java.nio.file.Files.write(marker.toPath, (markerWant + "\n").getBytes("UTF-8"))
    } else println(s"[scalebench] reusing fixture at $outDir ($markerHave)")

    // warm-up both fixtures (codegen, parquet footers) before timing
    Bench.runOne(spark, names.last, srcDir); Bench.runOne(spark, names.last, outDir)
    Bench.calibrate() // JIT the probe loop
    def best(name: String, dir: String): Double = {
      val xs = (1 to reps).map(_ => Bench.runOne(spark, name, dir)).filter(_ >= 0)
      if (xs.isEmpty) -1.0 else xs.min
    }
    val rows = names.map { n =>
      val a = best(n, srcDir)
      val b = best(n, outDir)
      // contention sentinel: one sample per query, committed — a sweep
      // runs long enough to cross a shared host's degraded windows, and
      // a per-query sentinel tells a reader WHICH ratios were measured
      // under contention
      val c = Bench.calibrate()
      val ratio = if (a > 0 && b > 0) b / a else -1.0
      println(f"[scalebench] $n%-22s sf0.1=$a%7.2f s  sf1=$b%7.2f s  ratio=$ratio%5.2f calib=$c%4.2f")
      (n, a, b, ratio, c)
    }
    def r2(v: Double) = f"$v%.2f"
    val qjson = rows.map { case (n, a, b, r, c) =>
      s""""$n":{"sf0_1":${r2(a)},"sf1":${r2(b)},"ratio":${r2(r)},"calib":${r2(c)}}"""
    }.mkString("{", ",", "}")
    val ta = rows.map(_._2).filter(_ >= 0).sum
    val tb = rows.map(_._3).filter(_ >= 0).sum
    val line = s"""{"metric":"scale_sweep","factor":10,"reps":$reps,""" +
      s""""src":"$srcDir","scaled":"$outDir","total_sf0_1":${r2(ta)},""" +
      s""""total_sf1":${r2(tb)},"total_ratio":${r2(tb / ta)},"queries":$qjson}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_SF1.json")),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
