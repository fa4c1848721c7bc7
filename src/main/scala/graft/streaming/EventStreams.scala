package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` shape (build brief §
  * "Structured Streaming for streams"). The reference is batch-only
  * (SURVEY §2.11), so this is extension surface: event-time windowed
  * aggregation with watermarks, gap sessions through Spark's native
  * `session_window` aggregate, sharded per-window heavy hitters through
  * flatMapGroupsWithState with an event-time timeout, and stateful
  * stream dedup. Each capability has one implementation, and none needs
  * a particular state store provider (the default HDFS-backed one and
  * RocksDB both serve).
  *
  * Every transform is `DataFrame => DataFrame` so the same code runs on
  * `readStream` sources in production and on MemoryStream / batch frames in
  * tests; the batch twin of the windowed aggregation is correctness-gated
  * against DuckDB (`q_st_window_counts`).
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Event-time tumbling-window counts with a watermark: the canonical
    * streaming aggregate. State is bounded by the watermark — windows older
    * than `watermark` are finalized and evicted. */
  def windowedTypeCounts(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket_start"), col("event_type"), col("n"))

  private val functions = org.apache.spark.sql.functions

  final case class WindowTop(bucket_start: Timestamp, rank: Int,
      item: String, est: Long)

  /** Per-shard heavy-hitter candidates emitted by [[windowedShardTops]]. */
  final case class ShardTop(bucket_start: Timestamp, shard: Int,
      item: String, est: Long)

  /** Sharded streaming heavy hitters, stage 1 of 2: one Misra-Gries
    * summary ([[graft.functions.FreqSketch.Buffer]]) per (window, shard)
    * in state — at most `capacity` counters per group regardless of the
    * item domain, so an unbounded-cardinality stream (urls, user agents)
    * can't grow state the way an exact `groupBy(window, item)` would.
    *
    * The state key is `(window, hash(item) % shards)`, NOT the window
    * alone: a window-keyed formulation funnels every event of an hour
    * window through ONE state group — one task on one executor — which
    * serializes the window's full event volume at cluster rates. Sharding
    * by the item hash spreads a window across `shards` independent state
    * groups, and because an item's every occurrence hashes to the SAME
    * shard, the shards partition the item domain: each item's full count
    * lives in exactly one shard's summary. That makes the downstream
    * merge a pure selection — any global top-k item ranks <= k within its
    * own shard (fewer than k items beat it anywhere, in particular in its
    * shard, under the same (count desc, item asc) order), so emitting
    * each shard's top-k candidates loses nothing. Per-item counts keep
    * the Misra-Gries guarantee against the SHARD's event count (error <=
    * n_shard/(capacity+1), tighter than the unsharded bound; exact when
    * the shard's distinct items <= capacity).
    *
    * A (window, shard) group finalizes and emits its top-k candidates
    * when the event-time watermark passes the window end; state evicts
    * with it. The watermark is global, so every shard of a window fires
    * in the same micro-batch — the per-batch merge in
    * [[windowedTopTypes]] therefore sees all of a window's shards
    * together. */
  def windowedShardTops(events: Dataset[Event], windowMs: Long = 3600 * 1000L,
      capacity: Int = 64, k: Int = 3, shards: Int = 32,
      watermark: String = "2 hours"): Dataset[ShardTop] = {
    require(shards > 0, s"shards must be positive, got $shards")
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(e => (e.ts.getTime / windowMs,
        math.floorMod(e.event_type.hashCode, shards)))
      .flatMapGroupsWithState[Map[String, Long], ShardTop](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, Int), batch: Iterator[Event], state: GroupState[Map[String, Long]]) =>
          val (bucket, shard) = key
          if (state.hasTimedOut) {
            val top = state.get.toSeq.sortBy { case (i, c) => (-c, i) }.take(k)
            state.remove()
            top.iterator.map { case (item, c) =>
              ShardTop(new Timestamp(bucket * windowMs), shard, item, c)
            }
          } else {
            val buf = new graft.functions.FreqSketch.Buffer(capacity)
            state.getOption.foreach(_.foreach { case (i, c) =>
              buf.counts.update(i, c) })
            batch.foreach(e => buf.add(e.event_type))
            state.update(buf.counts.toMap)
            // fire once the watermark passes the window end (never set a
            // timeout at or before the current watermark)
            state.setTimeoutTimestamp(
              math.max((bucket + 1) * windowMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Stage 2 of the sharded streaming top-k: global top-k per window from
    * the per-shard candidates — a (window)-partitioned rank over at most
    * `shards * k` rows per window, run per micro-batch (batch context, so
    * the window function is legal; the stateful stage already bounded the
    * volume). Selection is exactly the per-item counts' top-k because the
    * shards partition the item domain (see [[windowedShardTops]]). */
  def topKWithinWindows(shardTops: Dataset[ShardTop], k: Int): Dataset[WindowTop] = {
    import shardTops.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket_start"))
      .orderBy(col("est").desc, col("item"))
    shardTops.toDF()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("bucket_start"), col("rank"), col("item"), col("est"))
      .as[WindowTop]
  }

  /** Streaming heavy hitters per tumbling window, end to end: the sharded
    * stateful stage ([[windowedShardTops]]) merged per micro-batch via
    * `foreachBatch` ([[topKWithinWindows]]). Returns the configured
    * writer — call `.start()` (and set any checkpoint/trigger options)
    * to run. `sink` receives the finalized windows' top-k rows each
    * micro-batch; because the watermark is global, a window's shards all
    * finalize in the same batch, so each window arrives at the sink
    * exactly once and complete. */
  def windowedTopTypes(events: Dataset[Event], windowMs: Long = 3600 * 1000L,
      capacity: Int = 64, k: Int = 3, shards: Int = 32,
      watermark: String = "2 hours")(
      sink: Dataset[WindowTop] => Unit): org.apache.spark.sql.streaming.DataStreamWriter[ShardTop] =
    windowedShardTops(events, windowMs, capacity, k, shards, watermark)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[ShardTop], _: Long) =>
        sink(topKWithinWindows(batch, k))
      }

  /** Stream-static enrichment join: each micro-batch joins the (small)
    * static dimension broadcast — the standard streaming enrich, no
    * stream-side state at all. The static side is re-planned per batch,
    * so a refreshed dimension table is picked up without restarting the
    * query. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Idempotent per-epoch parquet sink for `foreachBatch`: epoch `i`
    * lands in `out/epoch=i` with overwrite semantics, so a REPLAYED
    * epoch (micro-batch re-run after failure recovery) rewrites its own
    * directory instead of appending duplicates — the exactly-once
    * pattern for file sinks driven by the checkpointed epoch id. */
  def epochSink(out: String): (DataFrame, Long) => Unit =
    (batch, epochId) =>
      batch.write.mode("overwrite").parquet(s"$out/epoch=$epochId")

  /** Stateful exact stream dedup on event_id; with a watermark the dedup
    * state is evicted as event time advances (bounded state at 100 TB/day
    * rates — an unwatermarked stream dedup grows forever). */
  def dedupeStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Batch twin of [[dedupeStream]]: keep each event id's FIRST arrival
    * (dropDuplicatesWithinWatermark's keep-first semantics, replayable
    * over history) — one id-keyed row_number window. `tsCol` must order
    * arrivals; exact full-row duplicates pick an arbitrary-but-
    * identical survivor. */
  def dedupeBatch(events: org.apache.spark.sql.DataFrame,
      idCol: String = "event_id", tsCol: String = "ts"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col(tsCol))
    events.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Watermarked stream-stream interval join: each left event joined to the
    * same user's right events with `r.ts ∈ [l.ts - lookback, l.ts]`. Both
    * sides carry watermarks and the condition bounds event time relative to
    * the other side, so each side's join state is evicted once the
    * watermark passes its lookback horizon — the requirement for joining
    * two unbounded streams. */
  def intervalJoin(left: Dataset[Event], right: Dataset[Event],
      lookback: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val l = left.toDF().withWatermark("ts", watermark).alias("l")
    val r = right.toDF().withWatermark("ts", watermark).alias("r")
    l.join(r, expr(
      s"l.user_id = r.user_id AND r.ts BETWEEN l.ts - INTERVAL $lookback AND l.ts"))
      .select(col("l.event_id").as("event_id"), col("l.user_id").as("user_id"),
        col("l.ts").as("ts"), col("r.event_id").as("matched_event_id"),
        col("r.value").as("matched_value"))
  }

  /** Batch twin of [[intervalJoin]] on the fixture `events` table
    * (epoch-nano long ts): clicks joined to the same user's purchases
    * within the lookback window. Equi-join on the user key (ONE shuffle);
    * the time range is a post-join filter, not a join explosion. */
  def intervalJoinBatch(eventsNs: DataFrame,
      lookbackNs: Long = 3600L * 1000 * 1000 * 1000): DataFrame = {
    val c = eventsNs.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val p = eventsNs.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("pts"), col("value"))
    c.join(p, "user_id")
      .filter(col("pts") >= col("cts") - lit(lookbackNs) && col("pts") <= col("cts"))
      .select(col("click_id"), col("purchase_id"), col("value").as("purchase_value"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** [[windowedTypeCounts]] over the fixture's epoch-nano long `ts`,
    * bucket starts as epoch-millis — the DuckDB-oracled batch gate
    * (`q_st_window_counts`) runs the streaming plan that ships (the
    * watermark is a no-op on a batch frame). */
  def windowedTypeCountsBatch(eventsNs: DataFrame): DataFrame =
    windowedTypeCounts(
        eventsNs.withColumn("ts", timestamp_micros(expr("ts DIV 1000"))))
      .select(unix_millis(col("bucket_start")).as("bucket_ms"),
        col("event_type"), col("n"))
      .orderBy(col("bucket_ms"), col("event_type"))

  /** Hopping (sliding) window counts — each event contributes to every
    * `dur`-long window whose start lies within `dur` before it, windows
    * advancing by `hop` (the overlapping twin of the tumbling
    * [[windowedTypeCountsBatch]]; the same `window(col, dur, hop)` plan
    * runs under `readStream` with a watermark).
    *
    * Scale shape: Spark's TimeWindow generator expands each row into its
    * dur/hop covering windows MAP-SIDE (a Generate, no shuffle), then one
    * keyed aggregation counts — the fan-out factor is the window/hop
    * ratio, a plan constant, and partial aggregation collapses the
    * expanded rows before the exchange. `dur` must be a multiple of `hop`
    * so window starts land on the hop grid (the contract the oracle's
    * integer-division twin needs) — enforced at entry: a non-multiple
    * pair would type-check and run but silently break batch/oracle and
    * stream/batch agreement. */
  def hoppingTypeCounts(events: DataFrame,
      dur: String = "1 hour", hop: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame = {
    val durMs = intervalMs(dur); val hopMs = intervalMs(hop)
    require(hopMs > 0, s"hop must be positive, got '$hop'")
    require(durMs % hopMs == 0,
      s"dur must be a multiple of hop (got dur='$dur' = ${durMs}ms, " +
        s"hop='$hop' = ${hopMs}ms) — window starts must land on the hop grid")
    events
      .withWatermark("ts", watermark)
      .groupBy(functions.window(col("ts"), dur, hop), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
  }

  /** Fixed-unit interval string → milliseconds, for entry-time contract
    * checks ("90 seconds", "1 hour", "15 minutes"). Supports the
    * day-and-below units `window()` itself accepts for these operators;
    * month/year intervals are not fixed-length and are rejected. */
  private[streaming] def intervalMs(s: String): Long = {
    val m = """\s*(\d+)\s+(\w+?)s?\s*""".r
    s.toLowerCase match {
      case m(n, unit) =>
        val perUnit = unit match {
          case "millisecond" => 1L
          case "second" => 1000L
          case "minute" => 60000L
          case "hour" => 3600000L
          case "day" => 86400000L
          case other => throw new IllegalArgumentException(
            s"unsupported interval unit '$other' in '$s' (fixed-length units only)")
        }
        n.toLong * perUnit
      case _ => throw new IllegalArgumentException(
        s"cannot parse interval '$s' (expected '<n> <unit>')")
    }
  }

  /** [[hoppingTypeCounts]] over the fixture's epoch-nano long `ts`,
    * window starts as epoch-millis — the DuckDB-oracled batch gate
    * (`q_st_hopping`); the same plan streams in append mode, each window
    * emitting once its end passes the watermark. */
  def hoppingTypeCountsBatch(eventsNs: DataFrame,
      dur: String = "1 hour", hop: String = "15 minutes"): DataFrame =
    hoppingTypeCounts(
        eventsNs.withColumn("ts", timestamp_micros(expr("ts DIV 1000"))),
        dur, hop)
      .select(unix_millis(col("win_start")).as("win_start_ms"),
        col("event_type"), col("n"))
      .orderBy(col("win_start_ms"), col("event_type"))

  /** Gap sessionization as Spark's native `session_window` aggregate:
    * no custom state code, and Spark merges session state inside the
    * aggregation operator. Each event opens a [ts, ts+gap) window;
    * windows that overlap OR touch merge, so consecutive events of a user
    * up to and INCLUDING exactly `gap` apart share a session (the
    * `delta <= gap` rule, pinned in [[EventStreamsSpec]]). The emitted
    * `session_end` is the last event + gap, not the last event. The same
    * plan runs on a batch frame (the watermark is a no-op) and on a
    * watermarked stream, where append mode emits a session once, when
    * the watermark passes its end — also for a user who never returns —
    * and evicts its state. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("tv"))
      .select(col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("user_id"),
        col("n_events"), col("tv").cast("double").as("total_value"))

  /** [[sessionWindows]] over the fixture's epoch-nano long `ts`, emitted
    * as epoch-micros — the DuckDB-oracled batch gate (`q_st_sessions`). */
  def sessionWindowsBatch(eventsNs: DataFrame, gap: String = "30 minutes"): DataFrame =
    sessionWindows(
        eventsNs.withColumn("ts", timestamp_micros(expr("ts DIV 1000"))), gap)
      .select(unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("user_id"), col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start_us"))
}
