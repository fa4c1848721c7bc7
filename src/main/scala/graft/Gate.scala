package graft

import scala.collection.immutable.HashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated query, declared once: its name, its engine side
  * (`(session, sfDir) => result`) and either its DuckDB oracle or the
  * stated reason it has none. */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
    oracle: Gate.Oracle)

object Gate {
  sealed trait Oracle

  /** Equivalent ANSI SQL for DuckDB over the same parquet tables. A thunk,
    * not a string: dump-time twins read a memo that only running the gate
    * fills, so the SQL is generated on every [[SparkEntry.oracleSql]]. */
  final case class Sql(sql: () => String) extends Oracle

  /** No SQL twin exists (engine-seeded sampling); the compare falls back
    * to a rows-only check. */
  final case class NoOracle(reason: String) extends Oracle {
    require(reason.trim.nonEmpty, "NoOracle needs a reason")
  }

  /** The gates keyed by name. A name declared twice fails here, naming it,
    * where a map literal would silently keep only the last entry. */
  def registry(gates: Seq[Gate]): HashMap[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty,
      s"gate name declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    HashMap.from(gates.map(g => g.name -> g))
  }
}
