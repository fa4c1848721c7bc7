package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every declared query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink — a plain `count()` would
  * let Catalyst prune away projections and expression work, timing a
  * different (smaller) plan than the one users run. One untimed warm-up of
  * the smallest query absorbs first-job costs (codegen compiler, shuffle
  * service init) so the per-query numbers measure the plans, not JVM
  * startup. */
object Bench {

  /** Seconds to run gate `name` on `dir` through the noop sink, or -1
    * when it fails. [[ScaleBench]] times its sweep with the same call. */
  def runOne(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    try SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name@$dir failed: ${e.getMessage}")
      return -1.0
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Contention sentinel: a FIXED single-thread CPU probe (pure JVM
    * long-mix loop, no Spark, no IO). Its nominal wall is a property of
    * the HOST, not the engine: on a quiet machine every sample is flat;
    * in a shared host's degraded windows it inflates with the same
    * factor the queries do. Committed next to the timings, it lets a
    * reader NORMALIZE cross-round totals instead of guessing which round
    * ran contended (rounds 10 and 11 both lacked a clean window and
    * their totals were incomparable until a same-session re-measure). */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 300000000) { // ~0.5 s nominal, deterministic work
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench")
    def runOne(name: String): Double = Bench.runOne(spark, name, sfDir)

    // warm-up (untimed): one cheap query per fixture family, so first-touch
    // costs (codegen compiler, JIT of interpreted HOF paths, parquet footer
    // reads) don't land on whichever query sorts first alphabetically
    Seq("q_s_scan_count", "q_x_tokens", "q_a9_group_means").foreach(runOne)
    calibrate() // JIT the probe loop itself before the first timed sample
    // N FULL passes (SPARK_GRAFT_REPS, default 3), per-query MIN as the
    // headline number: this host shows multi-minute degraded windows
    // where the JVM runs 10-100× slow; back-to-back repeats land inside
    // the same window, so each query's next sample comes a whole pass
    // later. At REPS >= 3 the line also carries per-query MEDIANS, the
    // noise-robust number to compare across rounds (a single-shot
    // BENCH_r*.json cannot distinguish a regression from a noise window).
    // optional args: query-name subset (dev loop); driver runs with none
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val names =
      if (args.nonEmpty) args.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted
    val calib = scala.collection.mutable.ArrayBuffer(calibrate())
    val passes = (1 to reps).map { _ =>
      val pass = names.map(n => n -> runOne(n)).toMap
      calib += calibrate()
      pass
    }
    def samples(n: String): Seq[Double] = passes.map(_(n)).filter(_ >= 0)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = names.map(n =>
      n -> samples(n).minOption.getOrElse(-1.0))
    val total = results.map(_._2).filter(_ >= 0).sum
    // per-REP totals: the sum of each full pass, in run order. A contended
    // driver window shows up as a rep spread (r9: 1.49× median/min) —
    // publishing the three pass totals lets a reader separate environment
    // noise from a real regression from the committed artifact alone.
    val repTotals = passes.map(_.values.filter(_ >= 0).sum)
    val repsJson = repTotals.map(v => f"$v%.3f").mkString("[", ",", "]")
    // the sentinel samples bracket the reps: calib[0] before rep 1,
    // calib[i] right after rep i — reps+1 samples total
    val calibJson = calib.map(v => f"$v%.3f").mkString("[", ",", "]")
    // FULL per-query artifact: the SAME [min,median] pair format the
    // compact line uses, over EVERY query (no byte budget) — the round-12
    // driver comparison covered only the ~57 slowest because the compact
    // line is capped at ~1900 bytes and the old full line used a
    // different (min-only + separate medians) layout. One format, two
    // sizes: a consumer that parses the compact line parses this file.
    def r3v(v: Double): String = f"$v%.3f"
    val totalMedAll = names.map(n => median(samples(n))).filter(_ >= 0).sum
    val allPairs = results.sortBy(-_._2).map { case (k, v) =>
      "\"" + k + "\":[" + r3v(v) + "," + r3v(median(samples(k))) + "]"
    }.mkString(",")
    val line = s"""{"metric":"total","value":${r3v(total)},"unit":"sec","reps":$reps,"rep_totals":$repsJson,"calib_sec":$calibJson,"total_median":${r3v(totalMedAll)},"n_queries":${names.size},"q_format":"[min,median]","sf":"$sfDir","queries":{$allPairs}}"""
    println(line)
    // the stdout line gets [info]-decorated under sbt, which defeats a
    // machine parse — also write the bare JSON to a file (SPARK_GRAFT_OUT
    // overrides the default repo-root location). The default lands in
    // the repo root and IS committed each round, so the full per-query
    // map travels with the round artifacts.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    // The driver's per-round artifact keeps only the LAST 2000 chars of
    // stdout and tries to parse a JSON line from them — the full line
    // above (~15 KB at 270+ queries) never fits, so every BENCH_r*.json
    // through round 7 carried `parsed: null` plus a mid-JSON tail blob.
    // Emit a COMPACT line (bounded < ~1900 chars) as the very last stdout,
    // after spark.stop() so no executor log write can interleave: totals,
    // medians pointer, and the slowest queries that fit the budget. Full
    // per-query detail lives in BENCH_LAST.json (which the judge reads).
    def r3(v: Double): String = f"$v%.3f"
    val totalMed = names.map(n => median(samples(n))).filter(_ >= 0).sum
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2)
    // per-query entries are [MIN, MEDIAN] pairs: in a contended driver
    // window (r10: 3.64x rep-total spread) a per-query min over 3 reps
    // is not a trustworthy cross-round comparator on its own — the
    // median is the noise-robust number, and carrying BOTH in the
    // committed artifact lets a reader separate window noise (min
    // stable, median inflated) from a real regression (both moved)
    // for the slowest queries without re-running anything
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,"rep_totals":$repsJson,"calib_sec":$calibJson,"total_median":${r3(totalMed)},"n_queries":${names.size},"q_format":"[min,median]","full":"$outFile","sf":"$sfDir","queries":{"""
    val budget = 1900 - head.length - 2
    val sb = new StringBuilder
    slowest.foreach { case (k, v) =>
      val entry = (if (sb.nonEmpty) "," else "") + "\"" + k + "\":[" +
        r3(v) + "," + r3(median(samples(k))) + "]"
      if (sb.length + entry.length <= budget) sb.append(entry)
    }
    val compact = head + sb.toString + "}}"
    System.out.println()
    System.out.println(compact)
    System.out.flush()
    // …and the same compact line as a stable SMALL file next to the full
    // artifact, so the driver/judge never depend on a stdout parse at all
    // (sbt's own `[success] Total time` banner prints after the last
    // program line, which defeated the tail parse through round 8)
    val summaryFile = sys.env.getOrElse("SPARK_GRAFT_SUMMARY", "BENCH_SUMMARY.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(summaryFile),
      (compact + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $summaryFile: ${e.getMessage}")
    }
  }
}
