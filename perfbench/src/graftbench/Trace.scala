package graftbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** One timed call into the program, with the counters of the Spark jobs
  * that started inside it. Spans nest through `parent`; all spans of one
  * benchmark run share `run`. */
final case class Span(id: Int, parent: Int, run: String, name: String,
    startMs: Long, var endMs: Long = -1L)

/** Counters of one span, summed over the jobs and stages it started. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var inputRecords, inputBytes = 0L
  var shuffleWriteBytes, shuffleReadRecords, spillBytes = 0L
  var optimizeMs, physicalMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    inputRecords += o.inputRecords; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadRecords += o.shuffleReadRecords; spillBytes += o.spillBytes
    optimizeMs += o.optimizeMs; physicalMs += o.physicalMs
  }

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "cpu_s" -> cpuNs / 1e9, "run_s" -> runMs / 1e3,
    "gc_s" -> gcMs / 1e3, "input_records" -> inputRecords.toDouble,
    "input_bytes" -> inputBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_records" -> shuffleReadRecords.toDouble,
    "spill_bytes" -> spillBytes.toDouble,
    "optimize_ms" -> optimizeMs.toDouble, "physical_ms" -> physicalMs.toDouble)
}

/** Listener-side record of Spark jobs, stages and query executions. Events
  * arrive on Spark's listener bus after the fact, so each job is filed by
  * its own start time: it belongs to the innermost span open at that time.
  * A lazy call starts no job, so the work it defines lands in the span of
  * the action that later runs it. */
final class Tracer(spark: SparkSession, run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private case class Job(start: Long, var end: Long, stages: Seq[Int])
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageMetrics = mutable.HashMap.empty[Int, Counters]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  @volatile private var jobsEnded = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
      jobsEnded += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = e.stageInfo
        val c = new Counters
        c.stages = 1; c.tasks = info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          c.cpuNs = m.executorCpuTime; c.runMs = m.executorRunTime
          c.gcMs = m.jvmGCTime
          c.inputRecords = m.inputMetrics.recordsRead
          c.inputBytes = m.inputMetrics.bytesRead
          c.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadRecords = m.shuffleReadMetrics.recordsRead
          c.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
        }
        stageMetrics(info.stageId) = c
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      Tracer.this.synchronized {
        phases += ((start, ms("optimization"), ms("planning")))
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), run,
      name, System.currentTimeMillis())
    spans += s
    open.push(s)
    try body
    finally { s.endMs = System.currentTimeMillis(); open.pop() }
  }

  /** Stop listening once every started job has ended and the bus has been
    * quiet for a moment, so late events are not lost. */
  def close(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val settled = synchronized(jobsEnded == jobs.size)
      quiet = if (settled) quiet + 1 else 0
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  // a child opens after its parent, so among spans open at `t` (starts
  // can share a millisecond) the innermost has the highest id
  private def innermost(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.id)

  private def isWithin(s: Span, ancestor: Span): Boolean =
    s.id == ancestor.id ||
      (s.parent >= 0 && isWithin(spans(s.parent), ancestor))

  /** Per span: its own id, parent, name, wall, the counters of every job
    * started inside it (children included) and its driver time — the span
    * wall minus the union of those jobs' intervals. */
  def report(): Seq[(Span, Counters, Double)] = synchronized {
    val owner: Map[Int, Span] = jobs.iterator.flatMap { case (id, j) =>
      innermost(j.start).map(id -> _)
    }.toMap
    val stageJob: Map[Int, Int] = jobs.toSeq
      .flatMap { case (id, j) => j.stages.map(_ -> id) }
      .groupMapReduce(_._1)(_._2)(math.min)
    val phaseOwner = phases.flatMap(p => innermost(p._1).map(_ -> p))
    spans.toSeq.map { s =>
      val c = new Counters
      val mine = jobs.filter { case (id, _) => owner.get(id).exists(isWithin(_, s)) }
      c.jobs = mine.size
      // a stage listed by several jobs (a reused shuffle) ran in the first
      mine.foreach { case (id, j) =>
        j.stages.filter(st => stageJob.get(st).contains(id))
          .flatMap(stageMetrics.get).foreach(c.add)
      }
      phaseOwner.filter(p => isWithin(p._1, s)).foreach { case (_, (_, o, ph)) =>
        c.optimizeMs += o; c.physicalMs += ph
      }
      val intervals = mine.values.map(j =>
        (math.max(j.start, s.startMs), math.min(if (j.end < 0) s.endMs else j.end, s.endMs)))
        .toSeq.sortBy(_._1)
      var covered = 0L; var reach = s.startMs
      intervals.foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) { covered += b - lo; reach = b }
      }
      (s, c, math.max(0L, s.endMs - s.startMs - covered) / 1e3)
    }
  }
}

/** Peak bytes of cached tables held in memory at one time: the in-memory
  * size of every RDD block the block manager holds, from the benchmark's
  * own listener. Broadcasts are left out, because the context cleaner drops
  * them whenever the collector happens to run. */
final class CacheWatch(spark: SparkSession) {
  private val held = mutable.HashMap.empty[BlockId, Long]
  private var current, peak = 0L

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      CacheWatch.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) {
          current -= held.remove(b.blockId).getOrElse(0L)
          if (b.storageLevel.isValid && b.memSize > 0) {
            held(b.blockId) = b.memSize
            current += b.memSize
          }
          peak = math.max(peak, current)
        }
      }
  })

  def peakMb: Double = {
    val bytes: Long = synchronized(peak)
    bytes / 1048576.0
  }
}

/** Readings of Spark's static code-generation metrics. The compile-time
  * histogram keeps up to 1028 samples; below that its values are exact and
  * their sum is the compile time, above it the mean stands in. */
object Codegen {
  def read(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val ms = if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n
    (n, ms)
  }
}
