package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy val).
  * Built by [[GraftSession]] like every main; build.sbt pins the forked
  * test JVM to `SPARK_GRAFT_CPUS=4`, so suites run on `local[4]` with 4
  * shuffle partitions on any host. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Jobs started by `body` on this thread (and threads it spawns), read
    * after a marker job has passed through the listener bus behind them. */
  def countJobs(body: => Unit): Int = countRun(body).jobs

  /** Jobs started by `body` on this thread (and threads it spawns) and the
    * input records their tasks read, after a marker job has passed
    * through the listener bus behind them. */
  def countRun(body: => Unit): SparkSpec.RunCounts = {
    val sc = spark.sparkContext
    val group = s"count-${System.nanoTime()}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            started.incrementAndGet()
            e.stageIds.foreach(stages.add)
          case Some(`marker`) => markerJobs.add(e.jobId)
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      SparkSpec.RunCounts(started.get(), records.get())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession("graft-test")

  /** What [[SparkSpec.countRun]] counts. */
  final case class RunCounts(jobs: Int, inputRecords: Long)
}
