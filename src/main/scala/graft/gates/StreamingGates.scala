package graft.gates

import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Streaming operators run as batch twins (SURVEY §2.10). */
private[graft] object StreamingGates {
  val gates: Seq[Gate] = Seq(
    // ST: batch twin of the streaming windowed aggregation — event-time
    // tumbling 1-hour buckets (graft.streaming.EventStreams; the streaming
    // variant adds the watermark and runs on readStream sources)
    Gate("q_st_window_counts", (s, dir) =>
      graft.streaming.EventStreams.windowedTypeCountsBatch(t(s, dir, "events")),
      Sql(() => """SELECT CAST(epoch_ms(time_bucket(INTERVAL 1 HOUR,
        |         make_timestamp(epoch_ns(ts) // 1000))) AS BIGINT) AS bucket_ms,
        |       event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ST: native session_window aggregation — dynamic-gap sessions as a
    // first-class aggregate (EventStreams' one sessionizer); same plan
    // runs batch and watermarked-streaming. Merge rule: windows that
    // overlap or TOUCH merge (delta <= gap), pinned in EventStreamsSpec;
    // oracle assigns sessions with the lag/cumsum delta > gap rule over
    // µs-truncated timestamps.
    Gate("q_st_sessions", (s, dir) =>
      graft.streaming.EventStreams.sessionWindowsBatch(
        t(s, dir, "events").where(col("ts").isNotNull)),
      // native session_window twin: lag/cumsum session ids, new session
      // strictly beyond the gap (touching merges), end = last event + gap
      Sql(() => """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts, value FROM events
        |  WHERE ts IS NOT NULL),
        |m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS g
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(g) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start_us,
        |       max(ts) + 1800000000 AS session_end_us,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin)),

    // ST: batch twin of the watermarked stream-stream interval join —
    // clicks to same-user purchases within the last hour (equi-join on the
    // user key, time range as a filter; the streaming variant bounds state
    // via watermarks on both sides)
    Gate("q_st_interval_join", (s, dir) =>
      graft.streaming.EventStreams.intervalJoinBatch(t(s, dir, "events")),
      Sql(() => """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |       p.value AS purchase_value
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND epoch_ns(p.ts) BETWEEN epoch_ns(c.ts) - 3600000000000 AND epoch_ns(c.ts)
        |ORDER BY click_id, purchase_id""".stripMargin)),

    // ST-hopping: sliding-window counts — TimeWindow expands each event
    // into its dur/hop covering windows MAP-SIDE (Generate, plan-constant
    // fan-out), partial aggregation collapses before the one exchange;
    // the identical plan streams under a watermark.
    Gate("q_st_hopping", (s, dir) =>
      graft.streaming.EventStreams.hoppingTypeCountsBatch(
        t(s, dir, "events"), "1 hour", "15 minutes"),
      // hopping windows: each event covers the 4 window starts on the
      // 15-minute grid within the hour before it
      Sql(() => """WITH ev AS (
        |  SELECT event_type, epoch_ns(ts) // 1000000 // 900000 AS k
        |  FROM events WHERE ts IS NOT NULL),
        |w AS (
        |  SELECT event_type, unnest(generate_series(k - 3, k)) AS wk
        |  FROM ev)
        |SELECT wk * 900000 AS win_start_ms, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM w GROUP BY 1, 2
        |ORDER BY win_start_ms, event_type""".stripMargin)),

    // ST-dedup: batch twin of the watermarked stream dedup — planted
    // 1-second retransmissions, first arrival survives (the
    // dropDuplicatesWithinWatermark keep-first semantics; the stream
    // variant is proven in EventStreamsSpec)
    Gate("q_st_dedup", (s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      val retrans = ev.where(col("event_id") % 3 === 0)
        .withColumn("ts", col("ts") + 1000000000L)
      graft.streaming.EventStreams.dedupeBatch(ev.unionByName(retrans))
        .select(col("event_id"), col("ts"))
        .orderBy(col("event_id"))
    },
      // stream-dedup twin: first arrival per id over the planted
      // retransmissions
      Sql(() => """WITH all_ev AS (
        |  SELECT event_id, epoch_ns(ts) AS ts FROM events
        |  UNION ALL
        |  SELECT event_id, epoch_ns(ts) + 1000000000 FROM events
        |  WHERE event_id % 3 = 0),
        |r AS (
        |  SELECT event_id, ts,
        |    row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
        |  FROM all_ev)
        |SELECT event_id, ts FROM r WHERE rn = 1
        |ORDER BY event_id""".stripMargin))
  )
}
