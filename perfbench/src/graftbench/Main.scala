package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.apps.{ScoreApp, TrainApp}
import graft.ml.{FlightModel, FlightPipeline}
import graft.operators.{Cleaning, Prepare}
import graft.sources.{FlightsGenerator, IO, Schemas}

/** The JVM half of the benchmark. It times calls into the program's public
  * functions from outside and writes one JSON result file; `run.py` starts
  * it, checks the outputs it leaves behind and prints the metrics.
  *
  *   Main <workload> key=value ...
  *
  * Keys: data (input dir), work (scratch dir), out (result file), seconds,
  * seed, trace (0|1), min_passes, warmup_passes and gates (gate workload),
  * train_rows and score_rows (flight workload and its inputs).
  *
  * `Main flight_inputs` only writes the flight CSVs and exits, so the
  * measured JVM of `flight_lifecycle` starts with no Spark work done.
  *
  * Timeline of a run: session start, for gates untimed warm-up passes (the
  * first writes every output for checking), timed passes until `seconds`
  * have passed (at least `min_passes`), then with trace=1 one traced pass.
  * The flight lifecycle has no warm-up: see `Run.flight`. */
object Main {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val workload = args.head
    val opt = args.tail.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val spark = TrainApp.session("graftbench")
    if (workload == "flight_inputs") {
      try Run.flightInputs(spark, opt) finally spark.stop()
      return
    }
    val out = new Result
    Heap.watch()
    val cache = new CacheWatch(spark)
    out.num("session_ready_epoch_s", System.currentTimeMillis() / 1e3)
    out.num("jvm_start_epoch_s", jvmStartMs / 1e3)
    try {
      val run = new Run(spark, workload, opt, out)
      workload match {
        case "gates_light" => run.gates()
        case "flight_lifecycle" => run.flight()
        case other => sys.error(s"unknown workload $other")
      }
    } finally {
      out.num("peak_cached_mb", cache.peakMb)
      out.num("peak_live_heap_mb", Heap.peakLiveMb)
      out.num("peak_heap_pools_mb", Heap.peakPoolsMb())
      out.num("peak_rss_mb", Host.peakRssMb())
      Files.write(Paths.get(opt("out")), out.json.getBytes(UTF_8))
      spark.stop()
    }
  }
}

/** One benchmark run: the workloads and what they record into `out`. */
final class Run(spark: SparkSession, workload: String,
    opt: Map[String, String], out: Result) {
  private val seconds = opt("seconds").toDouble
  private val seed = opt("seed").toLong
  private val trace = opt.get("trace").contains("1")
  private val work = opt("work")
  private val runId = s"$workload-$seed-${ProcessHandle.current().pid()}"

  private def now(): Double = System.nanoTime() / 1e9

  /** Calls `pass` at least `min_passes` times and until `seconds` have
    * passed, with host readings around every pass. */
  private def timedPasses(pass: Int => Unit): Unit = {
    val minPasses = opt.getOrElse("min_passes", "1").toInt
    Host.sample(out)
    val t0 = now()
    var k = 0
    while (k < minPasses || now() - t0 < seconds) {
      val p0 = now()
      pass(k)
      out.add("pass_s", now() - p0)
      Host.sample(out)
      k += 1
    }
  }

  /** Runs `f`, recording its latency under `op`; a throw is a failure. */
  private def timed(op: String)(f: => Unit): Unit = {
    val t0 = now()
    val ok = try { f; true } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] $op failed: $e")
        false
    }
    out.add(s"op.$op", now() - t0)
    if (!ok) out.add(s"failed.$op", 1.0)
  }

  /** Code generation so far in this JVM. */
  private def codegenMark(): Unit = {
    val (n, ms) = Codegen.read()
    out.num("codegen_count", n.toDouble)
    out.num("codegen_ms", ms)
  }

  // ---- gates ------------------------------------------------------------

  def gates(): Unit = {
    val dir = opt("data")
    val names = opt("gates").split(',').toSeq
    val rnd = new Random(seed)
    def build(g: String): DataFrame = SparkEntry.queries(g)(spark, dir)

    // warm-up: first-touch costs land here. The first pass writes each
    // result for the output check, later ones run like timed passes.
    val w0 = now()
    (1 to opt.getOrElse("warmup_passes", "1").toInt).foreach { k =>
      names.foreach { g =>
        try {
          val w = build(g).write.mode("overwrite")
          if (k == 1) w.parquet(s"$work/check/$g") else w.format("noop").save()
        } catch { case e: Throwable =>
          System.err.println(s"[graftbench] warm-up $g failed: $e")
          out.add(s"failed.$g", 1.0)
        }
      }
    }
    out.num("warmup_s", now() - w0)
    codegenMark()
    out.strs("oracle", names.flatMap(g => SparkEntry.oracleSql.get(g).map(g -> _)))

    timedPasses { _ =>
      rnd.shuffle(names).foreach { g =>
        timed(g)(build(g).write.format("noop").mode("overwrite").save())
      }
    }

    if (trace) traced { t =>
      names.foreach { g =>
        t.span(g) {
          val df = t.span("entry.build")(build(g))
          t.span("exec")(df.write.format("noop").mode("overwrite").save())
        }
      }
    }
  }

  // ---- flight lifecycle ---------------------------------------------------

  def flight(): Unit = {
    val data = opt("data")
    out.num("train_rows", opt("train_rows").toDouble)
    out.num("score_rows", opt("score_rows").toDouble)

    def lifecycleTrain(in: String, dir: String): Unit =
      timed("train")(TrainApp.run(spark, s"$in/train_csv", s"$dir/train",
        countOnly = false, planePath = None, testFile = None,
        saveModelDir = Some(s"$dir/model")))
    def lifecycleScore(in: String, dir: String): Unit =
      timed("score")(ScoreApp.run(spark, s"$in/score_csv", s"$dir/model",
        s"$dir/score", planePath = None))

    // The apps are command-line programs: each TrainApp / ScoreApp run
    // starts in a fresh JVM and pays the first-touch costs (class loading,
    // JIT, code generation). So the timed lifecycle is the first Spark work
    // of this JVM: its inputs come from another one, and there is no
    // warm-up. The code generation it pays is read across the timed pass.
    out.num("warmup_s", 0.0)
    if (!trace) {
      timedPasses { k =>
        lifecycleTrain(data, s"$work/check/pass$k")
        lifecycleScore(data, s"$work/check/pass$k")
      }
      codegenMark()
    } else {
      // the same timed pass, with a listener that counts the apps' jobs
      // and input records (no spans inside the apps): the totals the span
      // replay must reproduce
      val counted = new Tracer(spark, runId)
      timedPasses { k =>
        counted.span("train")(lifecycleTrain(data, s"$work/check/pass$k"))
        counted.span("score")(lifecycleScore(data, s"$work/check/pass$k"))
      }
      codegenMark()
      counted.close()
      counted.report().foreach { case (s, c, _) =>
        out.num(s"untraced.${s.name}.jobs", c.jobs.toDouble)
        out.num(s"untraced.${s.name}.input_records", c.inputRecords.toDouble)
      }
      // the replay runs warm, after the cold pass: its wall is not
      // comparable to the pass's, so no tracing overhead is derived here
      traced(t => replay(t, s"$data/train_csv", s"$data/score_csv",
        s"$work/trace"))
    }
  }

  /** TrainApp.run then ScoreApp.run, call for call, each public call in
    * its own span. */
  private def replay(t: Tracer, trainCsv: String, scoreCsv: String,
      dir: String): Unit = {
    def sinks(df: DataFrame, name: String): Unit = {
      t.span("sources.sink_parquet")(IO.writeParquet(df, s"$dir/$name.parquet"))
      t.span("sources.sink_csv")(
        IO.writeSingleCsv(df, s"$dir/${name}_csv", s"$dir/$name.csv"))
    }
    t.span("train") {
      val raw = t.span("sources.read_csv")(
        IO.readCsv(spark, trainCsv, Some(Schemas.flights)))
      val prepared = t.span("operators.prepare")(Prepare.prepareData(
        Cleaning.dropForbidden(raw), FlightsGenerator.planeData(spark)).cache())
      val pm = t.span("ml.pipeline_fit")(FlightPipeline().fit(prepared))
      val result = t.span("ml.tree_train")(FlightModel.trainModel(prepared, pm))
      result.predictions.foreach { preds =>
        val labeled = FlightModel.addLabels(preds)
        sinks(labeled, "predictions")
        t.span("ml.evaluate")(FlightModel.evaluate(labeled))
      }
      result.release()
      t.span("ml.save_model")(
        FlightModel.saveModels(s"$dir/model", pm, result.model))
      prepared.unpersist()
    }
    t.span("score") {
      val (pm, tree) = t.span("ml.load_model")(
        FlightModel.loadModels(spark, s"$dir/model"))
      val raw = t.span("sources.read_csv")(
        IO.readCsv(spark, scoreCsv, Some(Schemas.flights)))
      val prepared = t.span("operators.prepare")(Prepare.prepareData(
        Cleaning.dropForbidden(raw), FlightsGenerator.planeData(spark)))
      val labeled = t.span("ml.score_transform") {
        val transformed = pm.transform(prepared)
        FlightModel.addLabels(tree.map(_.transform(transformed)).getOrElse(transformed))
      }
      sinks(labeled, "scored")
      t.span("ml.evaluate")(FlightModel.evaluate(labeled))
    }
  }

  /** One traced pass: spans under a root span, then every span's counters. */
  private def traced(body: Tracer => Unit): Unit = {
    val t = new Tracer(spark, runId)
    val t0 = now()
    t.span("pass")(body(t))
    out.num("traced_pass_s", now() - t0)
    t.close()
    out.spans(t.report())
  }
}

object Run {
  /** Writes the flight inputs as CSV with header and `NA` nulls: the train
    * file from the seed, the held-out score file from another seed, so no
    * row repeats. */
  def flightInputs(spark: SparkSession, opt: Map[String, String]): Unit = {
    val seed = opt("seed").toLong
    def writeCsv(n: Long, s: Long, path: String): Unit =
      FlightsGenerator.flights(spark, n, seed = s).write.mode("overwrite")
        .option("header", "true").option("nullValue", "NA").csv(path)
    writeCsv(opt("train_rows").toLong, seed, s"${opt("data")}/train_csv")
    writeCsv(opt("score_rows").toLong, seed + 7919, s"${opt("data")}/score_csv")
  }
}

/** Peak live heap: the largest heap occupancy right after any collection
  * in the JVM's life, read from the collectors' notifications. It grows
  * with whatever the program keeps reachable, such as cached tables, but
  * also holds old-generation garbage that no collection has reached yet,
  * so it depends on when the collector ran. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakLive = 0L

  def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(
      new NotificationListener {
        def handleNotification(n: Notification, h: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
            synchronized { if (used > peakLive) peakLive = used }
          }
      }, null, null)
    case _ =>
  }

  def peakLiveMb: Double = peakLive / 1048576.0

  /** Sum of each heap pool's own peak occupancy (before collections). */
  def peakPoolsMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Host contention readings: the fixed single-thread CPU probe of the
  * program's Bench main (a fifth of its length), the steal share of CPU
  * time since the previous reading, and the 1-minute load average. */
object Host {
  private var lastStat: Option[(Long, Long)] = None

  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def cpuStat(): (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }

  def sample(out: Result): Unit = {
    out.add("host.calib_s", calibrate())
    val (total, steal) = cpuStat()
    lastStat.foreach { case (t0, s0) =>
      out.add("host.steal_frac", if (total > t0) (steal - s0).toDouble / (total - t0) else 0.0)
    }
    lastStat = Some((total, steal))
    out.add("host.loadavg", new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      UTF_8).split(" ")(0).toDouble)
  }

  def peakRssMb(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
      .linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** The result file: named numbers, named sample lists, string maps and
  * spans, as one JSON object. */
final class Result {
  private val nums = mutable.LinkedHashMap.empty[String, Double]
  private val lists = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val maps = mutable.LinkedHashMap.empty[String, Seq[(String, String)]]
  private var spanRows = Seq.empty[(Span, Counters, Double)]

  def num(k: String, v: Double): Unit = nums(k) = v
  def add(k: String, v: Double): Unit =
    lists.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def strs(k: String, kv: Seq[(String, String)]): Unit = maps(k) = kv
  def spans(rows: Seq[(Span, Counters, Double)]): Unit = spanRows = rows

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def json: String = {
    val parts = Seq(
      nums.map { case (k, v) => s"${q(k)}:${n(v)}" },
      lists.map { case (k, vs) => s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}" },
      maps.map { case (k, kv) =>
        s"${q(k)}:${kv.map { case (a, b) => s"${q(a)}:${q(b)}" }.mkString("{", ",", "}")}"
      },
      Seq("\"spans\":" + spanRows.map { case (s, c, driverS) =>
        val fields = (Seq("wall_s" -> (s.endMs - s.startMs) / 1e3,
          "driver_s" -> driverS) ++ c.fields)
          .map { case (k, v) => s"${q(k)}:${n(v)}" }.mkString(",")
        s"""{"id":${s.id},"parent":${s.parent},"run":${q(s.run)},"name":${q(s.name)},""" +
          s""""start_ms":${s.startMs},"end_ms":${s.endMs},$fields}"""
      }.mkString("[", ",", "]")))
    parts.flatten.mkString("{", ",", "}\n")
  }
}
