package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration. Every main, the flight apps and
  * the test suites build their session here, so the plans they run are
  * the plans the battery verifies: a hand-copied builder without the
  * extensions once planned physical plans nothing had checked.
  *
  * Env: `SPARK_GRAFT_MASTER` (default `local[cores]`) and
  * `SPARK_GRAFT_CPUS` (default: every available processor). */
object GraftSession {

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(appName: String): SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the graft extensions register the SQL functions and the
      // TopKWindowRewrite optimizer rule: grouped top-k windows over
      // (score DESC [, tie]) become bounded-heap aggregates, so k rows per
      // group per partition reach the exchange instead of every row
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // ObjectHashAggregate falls back to SORT-based aggregation past 128
      // in-memory keys per task, which re-sorts the full input (2.4x at
      // the 10M recall-panel rung). The typed aggregates this engine leans
      // on (TopKAgg k-heaps, KMV k-sets) have BOUNDED buffers, so
      // thousands of keys per task are a few MB: keep them hash-based
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      // stages whose generated method exceeds the JVM's 8 KB JIT bytecode
      // cap must FALL BACK (non-WSCG) instead of running interpreted
      // forever; Spark's default guard (65536) sits far above the real
      // HotSpot limit (DontCompileHugeMethods)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // nano-generation events.parquet reads as epoch-nano longs (the
      // micro-generation converts at IO.epochNanos instead; both end as
      // the same BIGINT convention)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR") // the reference's level (log4j.properties)
    s
  }
}
