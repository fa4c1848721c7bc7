package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-funnel analysis: how far does each entity progress through a
  * required event sequence (step i+1 must occur STRICTLY after the
  * matched step i), and how long each transition took.
  *
  * Scale shape: the naive formulation is one self-join per step (k scans,
  * k shuffles of the full event table). This one is a single user-keyed
  * shuffle — non-step events are pruned map-side BEFORE the exchange (an
  * IN-list the scan can push), each entity's events fold in one pass of a
  * codegen'd HOF, and the per-step rollup is a 1-row global aggregate
  * unpivoted driver-free. Per-entity state is the event list, the same
  * bounded-per-entity assumption batch sessionization ([[q_w_sessionize]])
  * already makes.
  *
  * Matching is greedy-earliest (t1 = first step-1 event, t_{i+1} = first
  * step-(i+1) event after t_i), which is complete: if any strictly-ordered
  * chain exists, the greedy one exists. Equal timestamps do NOT satisfy
  * "after" — ties break conservatively, identically in the oracle.
  */
object Funnel {

  /** One row per entity: `hit` = array of the earliest timestamp
    * completing each step (null = stalled at that step). `tsCol` must be
    * a numeric (e.g. epoch-nanos long) or otherwise totally-ordered
    * orderable column. */
  def userSteps(events: DataFrame, entity: String, typeCol: String,
                tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepArr = array(steps.map(lit): _*)
    events
      .where(col(typeCol).isin(steps: _*))
      .select(col(entity), col(tsCol).cast("bigint").as("__ts"),
        col(typeCol).as("__tp"))
      .groupBy(col(entity))
      .agg(sort_array(collect_list(struct(col("__ts"), col("__tp")))).as("evts"))
      .select(col(entity),
        aggregate(col("evts"),
          expr(s"array_repeat(CAST(NULL AS BIGINT), ${steps.length})"),
          (acc, e) => {
            val ts = e.getField("__ts")
            val tp = e.getField("__tp")
            // each slot keeps its value once set; a new event may fill the
            // FIRST empty slot whose step type it matches, provided the
            // previous slot was already set strictly earlier. All slots
            // compare against the pre-event accumulator, so one event can
            // never satisfy two consecutive steps.
            transform(acc, (slot, i) =>
              when(slot.isNotNull, slot).otherwise(
                when(tp === element_at(stepArr, (i + 1).cast("int")),
                  when(i === 0, ts).otherwise(
                    // lazy CASE arm: element_at(acc, 0) is never evaluated
                    when(element_at(acc, i.cast("int")).isNotNull &&
                      ts > element_at(acc, i.cast("int")), ts)))))
          }).as("hit"))
  }

  /** Per-step rollup: (step, step_name, n_users, sum_delta_ns) — entities
    * reaching each step and the total transition time from the previous
    * step (0 for step 1). Steps nobody reaches still emit a row. */
  def summary(events: DataFrame, entity: String, typeCol: String,
              tsCol: String, steps: Seq[String]): DataFrame = {
    val per = userSteps(events, entity, typeCol, tsCol, steps)
    def hitAt(i: Int): Column = element_at(col("hit"), i + 1)
    val aggs = steps.indices.flatMap { i =>
      Seq(sum(when(hitAt(i).isNotNull, 1L).otherwise(0L)).as(s"__n$i")) ++
        (if (i > 0)
          Seq(sum(when(hitAt(i).isNotNull, hitAt(i) - hitAt(i - 1))
            .otherwise(0L)).as(s"__d$i"))
        else Nil)
    }
    val row = per.agg(aggs.head, aggs.tail: _*)
    steps.zipWithIndex.map { case (name, i) =>
      row.select(
        lit(i + 1).as("step"), lit(name).as("step_name"),
        coalesce(col(s"__n$i"), lit(0L)).cast("bigint").as("n_users"),
        (if (i > 0) coalesce(col(s"__d$i"), lit(0L)) else lit(0L))
          .cast("bigint").as("sum_delta_ns"))
    }.reduce(_ unionByName _).orderBy(col("step"))
  }

  /** First-order Markov transition matrix over per-user event sequences
    * — P(next event type | current event type), the product-analytics
    * companion to the funnel: where the funnel checks ONE prescribed
    * path, the matrix measures every observed step.
    *
    * Scale shape: one user-keyed window (the lag) — the same shuffle
    * sessionization needs — then a matrix-sized (from, to) count
    * aggregate; the row-normalizing window runs over the matrix, not the
    * data. Probabilities divide exact integer counts in DOUBLE.
    *
    * `tieCol` breaks equal-timestamp ordering deterministically.
    * Returns (`from_type`, `to_type`, `n`, `p`) — rows with no
    * predecessor (each user's first event) contribute nothing.
    */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val counts = events
      .select(col(typeCol).as("to_type"),
        lag(col(typeCol), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowTot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    counts.withColumn("p",
      round(col("n").cast("double") / sum(col("n")).over(rowTot), 6))
  }

  /** Top opening event paths: each user's first `depth` event types (by
    * time, `tieCol` breaking exact ties) joined into one `a>b>c` path
    * string, counted across users — the onboarding/drop-off "what do
    * people actually do first" query.
    *
    * Scale shape: one user-keyed rank window (the sessionization
    * shuffle), a per-user aggregate whose state is bounded by `depth`
    * (the rank filter runs BEFORE the collect — no unbounded per-user
    * array), then a path-cardinality-sized count. The final top-k is a
    * TakeOrderedAndProject, never a global sort.
    */
  /** Time-to-convert distribution: for users whose first `fromType`
    * event is later followed by a `toType` event, the delay from that
    * first exposure to the FIRST subsequent conversion — the latency
    * companion to the step-count funnel (how FAST do converters
    * convert, not just how many).
    *
    * Scale shape: one user-keyed aggregate pins each user's first
    * exposure; one semi-filtered join + aggregate finds the first
    * conversion at-or-after it; the result is a user-sized relation
    * reduced by one global stats aggregate (exact interpolated
    * percentiles over the converted-user panel — the
    * q_a_group_median percentile-parity regime; mean via decimal
    * sums). `tsCol` integral epoch-nanos; deltas convert to seconds
    * in double at the edge.
    *
    * Output: one row (n_converted, mean_s, med_s, p90_s). */
  def timeToConvert(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, fromType: String, toType: String): DataFrame = {
    val firstFrom = events.where(col(typeCol) === fromType)
      .groupBy(col(userCol).as("__u"))
      .agg(min(col(tsCol)).as("__t0"))
    val deltas = events.where(col(typeCol) === toType)
      .select(col(userCol).as("__u"), col(tsCol).as("__t1"))
      .join(firstFrom, "__u")
      .where(col("__t1") >= col("__t0"))
      .groupBy(col("__u"))
      .agg((min(col("__t1")) - first(col("__t0"))).as("__d"))
    deltas.agg(count(lit(1)).as("n_converted"),
      round(sum(col("__d").cast("decimal(38,0)")).cast("double") /
        count(lit(1)) / lit(1.0e9), 6).as("mean_s"),
      round(expr("percentile(__d, 0.5)") / lit(1.0e9), 6).as("med_s"),
      round(expr("percentile(__d, 0.9)") / lit(1.0e9), 6).as("p90_s"))
  }

  /** First-order journey transition counts for Markov attribution:
    * each user's channel events ordered by (`tsCol`, `tieCol`),
    * truncated at the FIRST `convType` event (mapped to the absorbing
    * state `CONV`); non-converting journeys absorb into `NULL`. Every
    * journey opens from the virtual `START` state. Events outside
    * `channels` + `convType` are ignored.
    *
    * Scale shape: one user-keyed window shuffle (the sessionization
    * partitioning — rank + truncation + lag ride it), then a
    * matrix-sized (src, dst) count aggregate; the output relation is
    * config-sized (≤ (|channels|+3)²) regardless of corpus size.
    *
    * Output: (`src`, `dst`, `n`). */
  def markovTransitionCounts(events: DataFrame, userCol: String,
      tsCol: String, tieCol: String, typeCol: String,
      channels: Seq[String], convType: String): DataFrame = {
    require(channels.nonEmpty, "need at least one channel")
    require(!channels.contains(convType), "convType is not a channel")
    val reserved = Set("START", "CONV", "NULL")
    require(channels.forall(c => !reserved.contains(c)),
      s"channel names collide with reserved states $reserved")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u")).orderBy(col("__ts"), col("__tie"))
    val rn = events
      .where(col(typeCol).isin(channels :+ convType: _*))
      .select(col(userCol).as("__u"), col(tsCol).as("__ts"),
        col(tieCol).as("__tie"), col(typeCol).as("__tp"))
      .withColumn("__rn", row_number().over(w))
    val firstConv = rn.where(col("__tp") === convType)
      .groupBy(col("__u")).agg(min(col("__rn")).as("__crn"))
    val kept = rn.join(firstConv, Seq("__u"), "left")
      .where(col("__crn").isNull || col("__rn") <= col("__crn"))
      .select(col("__u"), col("__rn"), col("__crn"),
        when(col("__tp") === convType, lit("CONV"))
          .otherwise(col("__tp")).as("__st"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u")).orderBy(col("__rn"))
    val steps = kept.select(
      coalesce(lag(col("__st"), 1).over(wk), lit("START")).as("src"),
      col("__st").as("dst"))
    val ends = kept.where(col("__crn").isNull)
      .groupBy(col("__u"))
      .agg(max_by(col("__st"), col("__rn")).as("src"))
      .select(col("src"), lit("NULL").as("dst"))
    steps.unionByName(ends)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
  }

  /** Markov-chain attribution (removal effects): conversion
    * probability from `START` under the journey transition matrix,
    * re-solved with each channel removed (its inbound transitions
    * absorb into `NULL`) — channel value = the conversion share that
    * disappears without it, the data-driven alternative to last-touch
    * rules.
    *
    * Scale shape: the data-scale pass is [[markovTransitionCounts]]
    * (one user-keyed shuffle + a matrix-sized aggregate); the
    * (|channels|+1) value-iteration solves run driver-side on the
    * collected config-sized matrix (the PCA-Jacobi / centroid-panel
    * precedent). Each of the `iters` rounds rounds every per-edge
    * contribution to 12 places and accumulates exactly (BigDecimal) —
    * the [[Graph.pageRank]] discipline, so the generated unrolled-CTE
    * oracle ([[markovRemovalOracleSql]]) reproduces every round
    * bit-for-bit.
    *
    * Output: one row per channel, ordered — (`channel`, `conv_base`,
    * `conv_without`, `removal_effect`, `share`); shares normalize the
    * removal effects in channel-sorted left-fold order. */
  def markovRemovalEffects(events: DataFrame, userCol: String,
      tsCol: String, tieCol: String, typeCol: String,
      channels: Seq[String], convType: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64, s"need 1 <= iters <= 64, got $iters")
    val trans = markovTransitionCounts(events, userCol, tsCol, tieCol,
      typeCol, channels, convType).collect()
    require(trans.length <= 4096, "transition matrix must be config-sized")
    val bySrc: Map[String, Seq[(String, Double)]] = trans
      .groupBy(_.getString(0)).map { case (s, rs) =>
        val tot = rs.map(_.getLong(2)).sum.toDouble
        s -> rs.toSeq.map(r => r.getString(1) -> r.getLong(2) / tot)
      }
    val states = bySrc.keys.toSeq.sorted
    def round12(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_UP)
    def solve(removed: Option[String]): Double = {
      var p = states.map(_ -> 0.0).toMap
      for (_ <- 1 to iters) {
        p = states.map { s =>
          val sum = bySrc(s).foldLeft(java.math.BigDecimal.ZERO) {
            case (acc, (t, pr)) =>
              val v = t match {
                case "CONV" => 1.0
                case "NULL" => 0.0
                case c if removed.contains(c) => 0.0
                case c => p.getOrElse(c, 0.0)
              }
              acc.add(round12(pr * v))
          }
          s -> sum.doubleValue
        }.toMap
      }
      p.getOrElse("START", 0.0)
    }
    val base = solve(None)
    require(base > 0, "no conversions reachable from START")
    val sortedCh = channels.sorted
    val effects = sortedCh.map { c =>
      val pc = solve(Some(c))
      (c, pc, (base - pc) / base)
    }
    // channel-sorted left-fold — mirrored verbatim by the oracle's
    // explicit + chain (SQL + parses left-associative)
    val denom = effects.map(_._3).foldLeft(0.0)(_ + _)
    require(denom != 0.0, "every removal effect is zero — no channel " +
      "influences conversion; shares are undefined")
    val spark = events.sparkSession
    import spark.implicits._
    effects.map { case (c, pc, r) =>
      (c, rd6(base), rd6(pc), rd6(r), rd6(r / denom))
    }.toDF("channel", "conv_base", "conv_without", "removal_effect",
      "share").orderBy(col("channel"))
  }

  private def rd6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Generated DuckDB twin of [[markovRemovalEffects]] over the
    * `events` table (user_id / epoch_ns(ts) / event_id / event_type):
    * the journey + transition CTEs, then (|channels|+1) unrolled
    * value-iteration solves with the identical per-round ROUND(,12)
    * DECIMAL(28,12) accumulation — generated, never hand-copied. */
  def markovRemovalOracleSql(channels: Seq[String], convType: String,
      iters: Int): String = {
    val sortedCh = channels.sorted
    val inList = (channels :+ convType).map(c => s"'$c'").mkString(", ")
    val base =
      s"""WITH ev AS MATERIALIZED (
         |  SELECT user_id AS u, epoch_ns(ts) AS tsn, event_id AS eid,
         |    event_type AS tp
         |  FROM events WHERE event_type IN ($inList)),
         |rn AS MATERIALIZED (
         |  SELECT u, tp,
         |    ROW_NUMBER() OVER (PARTITION BY u ORDER BY tsn, eid) AS rn
         |  FROM ev),
         |fc AS MATERIALIZED (
         |  SELECT u, MIN(CASE WHEN tp = '$convType' THEN rn END) AS crn
         |  FROM rn GROUP BY u),
         |kept AS MATERIALIZED (
         |  SELECT r.u, r.rn, f.crn,
         |    CASE WHEN r.tp = '$convType' THEN 'CONV' ELSE r.tp END AS st
         |  FROM rn r JOIN fc f ON r.u = f.u
         |  WHERE f.crn IS NULL OR r.rn <= f.crn),
         |steps AS MATERIALIZED (
         |  SELECT COALESCE(LAG(st) OVER (PARTITION BY u ORDER BY rn),
         |    'START') AS src, st AS dst
         |  FROM kept),
         |ends AS MATERIALIZED (
         |  SELECT st AS src, 'NULL' AS dst FROM (
         |    SELECT st, crn,
         |      ROW_NUMBER() OVER (PARTITION BY u ORDER BY rn DESC) AS rr
         |    FROM kept)
         |  WHERE rr = 1 AND crn IS NULL),
         |trans AS MATERIALIZED (
         |  SELECT src, dst, count(*) AS n
         |  FROM (SELECT src, dst FROM steps
         |        UNION ALL SELECT src, dst FROM ends)
         |  GROUP BY 1, 2),
         |prob AS MATERIALIZED (
         |  SELECT src, dst, CAST(n AS DOUBLE) /
         |    CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
         |  FROM trans),
         |states AS MATERIALIZED (SELECT DISTINCT src AS state FROM prob)""".stripMargin
    def solveStages(tag: String, removed: Option[String]): Seq[String] = {
      val removedArm = removed
        .map(c => s"WHEN pr.dst = '$c' THEN 0.0 ").getOrElse("")
      val s0 = s"s_${tag}_0 AS MATERIALIZED (SELECT state, 0.0 AS p FROM states)"
      val rest = (1 to iters).map { k =>
        s"""s_${tag}_$k AS MATERIALIZED (
           |  SELECT s.state,
           |    CAST(COALESCE(SUM(CAST(ROUND(pr.p *
           |      (CASE WHEN pr.dst = 'CONV' THEN 1.0
           |            WHEN pr.dst = 'NULL' THEN 0.0
           |            ${removedArm}ELSE COALESCE(prev.p, 0.0) END), 12)
           |      AS DECIMAL(28,12))), 0) AS DOUBLE) AS p
           |  FROM states s
           |  JOIN prob pr ON pr.src = s.state
           |  LEFT JOIN s_${tag}_${k - 1} prev ON prev.state = pr.dst
           |  GROUP BY s.state)""".stripMargin
      }
      s0 +: rest
    }
    val solves = solveStages("base", None) ++
      sortedCh.zipWithIndex.flatMap { case (c, i) =>
        solveStages(s"c$i", Some(c))
      }
    def startP(tag: String) =
      s"(SELECT p FROM s_${tag}_$iters WHERE state = 'START')"
    val fin =
      s"""fin AS MATERIALIZED (SELECT ${startP("base")} AS b,
         |${sortedCh.indices.map(i => s"  ${startP(s"c$i")} AS p$i")
           .mkString(",\n")})""".stripMargin
    val denom = sortedCh.indices.map(i => s"((b - p$i) / b)").mkString(" + ")
    val rows = sortedCh.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS channel, ROUND(b, 6) AS conv_base,
         |  ROUND(p$i, 6) AS conv_without,
         |  ROUND((b - p$i) / b, 6) AS removal_effect,
         |  ROUND(((b - p$i) / b) / ($denom), 6) AS share
         |FROM fin""".stripMargin
    }
    (Seq(base) ++ solves ++ Seq(fin)).mkString(",\n") +
      "\nSELECT * FROM (\n" + rows.mkString("\nUNION ALL\n") +
      ")\nORDER BY channel"
  }

  def topPaths(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String, depth: Int, k: Int): DataFrame = {
    require(depth >= 1 && depth <= 32, s"need 1 <= depth <= 32, got $depth")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    events
      .select(col(userCol), col(typeCol),
        row_number().over(w).as("__rn"))
      .where(col("__rn") <= depth)
      .groupBy(col(userCol))
      .agg(array_join(
        sort_array(collect_list(struct(col("__rn"), col(typeCol).as("t"))))
          .getField("t"), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).cast("bigint").as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }
}
