package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gates._
import graft.gates.Shared.t

/** Gate registry — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is one [[Gate]]: its name,
  * its `(SparkSession, sfDir) => DataFrame` and, when SQL-expressible, its
  * DuckDB oracle (else the reason it has none), side by side in a family
  * file under `graft.gates`. [[queries]] and [[oracleSql]] are derived from
  * [[gates]]. Column names/aliases MUST match between a gate and its oracle
  * — the compare sorts columns by name before hashing.
  *
  * Cross-engine determinism rules used throughout (so value hashes match
  * bit-for-bit between Spark and DuckDB):
  *  - Float SUM/AVG: sum a DECIMAL cast (order-independent, exact), cast the
  *    sum to DOUBLE, divide by COUNT for averages. Raw double SUM is
  *    aggregation-order-dependent and WILL differ in the last ulp.
  *  - Irrational functions (sin/cos/corr): ROUND(…, 6) in both engines —
  *    libm vs JVM may differ in the final ulp.
  *  - double→int casts: Spark truncates toward zero, DuckDB rounds — oracle
  *    uses CAST(TRUNC(x) AS INTEGER) to match.
  *  - events.ts is normalized to epoch-nano BIGINT at the read boundary
  *    ([[graft.sources.IO.epochNanos]] — handles both the TIMESTAMP(NANOS)
  *    and the TIMESTAMP(MICROS) fixture generations); the DuckDB side uses
  *    epoch_ns(ts). Integer arithmetic only — a double division of an
  *    ~1.7e18 nanos value would lose precision.
  *  - Every result has a deterministic ORDER BY on a unique key.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * Mirrors the reference's core shape (filter → derived cyclical feature →
    * groupBy + avg; cf. `/root/reference/src/main/dataset_utils.py:93-102` and
    * `helper_methods.py:159`) over the lineitem fixture: per return-flag mean
    * "delay" (discounted price) with a cyclical month encoding of ship date.
    */
  def entry(spark: SparkSession): DataFrame = {
    val li = t(spark, "/root/testdata/sf0.001", "lineitem")
    li.filter(col("l_quantity").isNotNull && col("l_discount") >= 0)
      .withColumn("ship_month", month(col("l_shipdate")))
      .withColumn("month_sin", sin(lit(2 * math.Pi) * col("ship_month") / lit(12)))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        avg(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("avg_revenue"),
        avg(col("month_sin")).as("avg_month_sin"))
      .orderBy(col("l_returnflag"))
  }

  /** Every gate, family by family. */
  val gates: Seq[Gate] =
    ScanGates.gates ++ ProjectionGates.gates ++ JoinGates.gates ++
      AggregateGates.gates ++ StatisticsGates.gates ++ WindowGates.gates ++
      SampleGates.gates ++ SetOpGates.gates ++ FunctionGates.gates ++
      StreamingGates.gates ++ TimeSeriesGates.gates ++ SqlGates.gates ++
      TextGates.gates ++ VectorGates.gates ++ DedupGates.gates ++
      GraphGates.gates ++ MediaGates.gates

  private val registry = Gate.registry(gates)

  /** Gate name → engine side. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, g) => n -> g.run }

  /** Gate name → DuckDB oracle SQL, for every gate that has one. A `def`
    * on purpose: each call regenerates every oracle, so each
    * [[Gate.fitted]] twin inlines the state of its gate's last run. */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, Gate(_, _, Gate.Sql(sql))) => n -> sql() }
}
