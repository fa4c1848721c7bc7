package graft

import java.util.concurrent.atomic.AtomicReference

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
    * not a string: a [[fitted]] gate's twin inlines the state its last run
    * fitted, so the SQL is generated on every [[SparkEntry.oracleSql]]. */
  final case class Sql(sql: () => String) extends Oracle

  /** No SQL twin exists (engine-seeded sampling); the compare falls back
    * to a rows-only check. */
  final case class NoOracle(reason: String) extends Oracle {
    require(reason.trim.nonEmpty, "NoOracle needs a reason")
  }

  /** A gate whose twin inlines engine-trained state (a codebook, a
    * rotation, a PAV fit, a file path). `run` returns the state it used
    * with its result; the oracle is `twin` of the state of THIS gate's
    * last run — Verify runs every gate before it dumps the oracles, in
    * the same process — and before any run the typed empty marker
    * `SELECT CAST(NULL AS <type>) AS <col>, … WHERE FALSE` built from
    * `empty`'s (column, type) pairs. */
  def fitted[S](name: String, empty: (String, String)*)(
      run: (SparkSession, String) => (S, DataFrame))(twin: S => String): Gate = {
    val last = new AtomicReference[Option[S]](None)
    val marker = empty.map { case (c, t) => s"CAST(NULL AS $t) AS $c" }
      .mkString("SELECT ", ", ", " WHERE FALSE")
    Gate(name, (s, dir) => {
      val (state, out) = run(s, dir)
      last.set(Some(state))
      out
    }, Sql(() => last.get.fold(marker)(twin)))
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
