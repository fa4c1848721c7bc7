package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.EventStreams.Event

/** Streaming semantics on MemoryStream sources: watermarked windowed
  * aggregation, native session windows, sharded heavy hitters on both
  * state store providers, stream dedup. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("windowedTypeCounts aggregates per event-time hour with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.windowedTypeCounts(in.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 1, "click", 1.0),
        Event(3, ts(65), 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("bucket_start", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      assert(rows.contains((ts(0), "click", 2L)))
      assert(rows.contains((ts(60), "view", 1L)))
    } finally q.stop()
  }

  test("intervalJoin matches right events within the lookback window only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.intervalJoin(clicks.toDS(), purchases.toDS(),
      lookback = "1 hour", watermark = "2 hours")
      .writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append()).start()
    try {
      purchases.addData(
        Event(100, ts(10), 1, "purchase", 5.0),   // 20 min before click → in
        Event(101, ts(300), 1, "purchase", 7.0),  // hours after click → out
        Event(102, ts(10), 2, "purchase", 9.0))   // other user → out
      clicks.addData(Event(1, ts(30), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ij")
        .select("event_id", "matched_event_id").as[(Long, Long)]
        .collect().toSet
      assert(rows == Set((1L, 100L)))
    } finally q.stop()
  }

  test("dedupeStream suppresses duplicate event ids across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.dedupeStream(in.toDF(), "2 hours")
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "view", 1.0))
      q.processAllAvailable()
      in.addData(Event(1, ts(0), 1, "click", 1.0), Event(3, ts(2), 1, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("deduped").select("event_id").as[Long].collect().toSet
        == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("dedupeBatch keeps each id's first arrival (the stream twin)") {
    val df = Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 7L, "c"))
      .toDF("event_id", "ts", "tag")
    val got = EventStreams.dedupeBatch(df, "event_id", "ts")
      .orderBy("event_id")
      .select("event_id", "tag").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "b"), (2L, "c")))
  }

  test("windowedTopTypes emits a window's heavy hitters when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    // one run per state store provider: None is the default HDFS-backed
    // store; the flatMapGroupsWithState shard stage needs no code of its
    // own for RocksDB, so both must emit the same rows
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def run(provider: Option[String]): (Seq[(Timestamp, Int, String, Long)], Set[String]) = {
      val prev = spark.conf.getOption(providerKey)
      provider.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
      val in = MemoryStream[Event]
      val got = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, Int, String, Long)]
      // shards = 4 so click/view/scroll land in (possibly) different state
      // groups — the per-batch merge must still produce the global ranking
      val q = EventStreams.windowedTopTypes(in.toDS(),
          windowMs = 3600 * 1000L, capacity = 16, k = 2, shards = 4,
          watermark = "10 minutes") { tops =>
          got.synchronized {
            got ++= tops.collect().map(t => (t.bucket_start, t.rank, t.item, t.est))
          }
        }.start()
      try {
        in.addData(
          Event(1, ts(5), 1, "click", 1.0),
          Event(2, ts(10), 2, "click", 1.0),
          Event(3, ts(15), 3, "click", 1.0),
          Event(4, ts(20), 4, "view", 1.0),
          Event(5, ts(25), 5, "view", 1.0),
          Event(6, ts(30), 6, "scroll", 1.0),
          Event(7, ts(65), 7, "view", 1.0),
          Event(8, ts(70), 8, "view", 1.0))
        q.processAllAvailable()
        assert(got.synchronized(got.isEmpty)) // windows still open

        // event far past hour 1 + watermark → finalizes hours 0 and 1 in
        // the same micro-batch; the merge must keep their rows apart
        in.addData(Event(9, ts(300), 9, "click", 1.0))
        q.processAllAvailable()
        val metrics = q.recentProgress.toSeq.flatMap(_.stateOperators)
          .flatMap(_.customMetrics.keySet.toArray(Array.empty[String])).toSet
        (got.synchronized(got.toSeq).sortBy(r => (r._1.getTime, r._2)), metrics)
      } finally {
        q.stop()
        prev.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
      }
    }
    val (onDefault, defaultMetrics) = run(None)
    val (onRocksDb, rocksDbMetrics) = run(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(onDefault == Seq((ts(0), 1, "click", 3L), (ts(0), 2, "view", 2L),
      (ts(60), 1, "view", 2L)))
    assert(onRocksDb == onDefault)
    // the provider in play is the one asked for: only RocksDB reports
    // its rocksdb* state metrics
    assert(rocksDbMetrics.exists(_.startsWith("rocksdb")), rocksDbMetrics)
    assert(!defaultMetrics.exists(_.startsWith("rocksdb")), defaultMetrics)
  }

  test("windowedShardTops spreads a window's state across (window, shard) groups") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val shards = 8
    val q = EventStreams.windowedShardTops(in.toDS(),
        windowMs = 3600 * 1000L, capacity = 16, k = 8, shards = shards,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("shard_tops")
      .outputMode(OutputMode.Append()).start()
    try {
      // 6 distinct items in hour 0 — with 8 shards their state groups
      // must not all collapse onto one shard
      val items = Seq("click", "view", "scroll", "hover", "search", "buy")
      in.addData(items.zipWithIndex.map { case (it, i) =>
        Event(i + 1, ts(5 + i), i + 1, it, 1.0) }: _*)
      in.addData(Event(99, ts(300), 9, "late_window_opener", 1.0))
      q.processAllAvailable()
      val rows = spark.table("shard_tops")
        .select("bucket_start", "shard", "item", "est")
        .collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getString(2),
          r.getLong(3)))
      // every item surfaced exactly once, with its exact count, in ITS shard
      assert(rows.map(_._3).sorted.toSeq == items.sorted)
      assert(rows.forall(_._4 == 1L))
      rows.foreach { case (_, shard, item, _) =>
        assert(shard == math.floorMod(item.hashCode, shards))
      }
      // the item domain actually spread over multiple state groups
      assert(rows.map(_._2).distinct.length > 1)
      // global top-k from the shard candidates matches the exact ranking
      val merged = EventStreams.topKWithinWindows(
        spark.table("shard_tops").as[EventStreams.ShardTop], 3)
        .collect().sortBy(_.rank)
      assert(merged.map(t => (t.rank, t.item, t.est)).toSeq ==
        Seq((1, "buy", 1L), (2, "click", 1L), (3, "hover", 1L)))
    } finally q.stop()
  }

  test("enrich joins each micro-batch against the broadcast static dim") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = EventStreams.enrich(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 2, "view", 1.0),
        Event(3, ts(2), 9, "view", 1.0)) // no dim row → left-join null
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .select("event_id", "tier")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(rows == Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
    } finally q.stop()
  }

  test("epochSink is idempotent under micro-batch replay") {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_epoch_sink_${System.nanoTime()}").getAbsolutePath
    val sink = EventStreams.epochSink(out)
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    sink(batch, 0L)
    sink(batch, 0L) // replayed epoch → overwrite, not append
    sink(Seq((3L, "c")).toDF("id", "v"), 1L)
    val all = spark.read.parquet(out)
    assert(all.count() == 3) // 2 from epoch 0 (once), 1 from epoch 1
    assert(all.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("epochSink drives a real foreachBatch stream into epoch directories") {
    implicit val sqlCtx = spark.sqlContext
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_epoch_stream_${System.nanoTime()}").getAbsolutePath
    val in = MemoryStream[Event]
    val sink = EventStreams.epochSink(out)
    val q = in.toDF().writeStream
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(batch, id))
      .start()
    try {
      in.addData(Event(1, ts(0), 1, "click", 1.0))
      q.processAllAvailable()
      in.addData(Event(2, ts(1), 1, "view", 1.0), Event(3, ts(2), 2, "click", 1.0))
      q.processAllAvailable()
      val all = spark.read.parquet(out)
      assert(all.count() == 3)
      // partition discovery surfaces the epoch id each row arrived in
      assert(all.select("epoch").distinct().count() >= 2)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("epochSink: kill, restart from checkpoint, forced replay stays exactly-once") {
    import org.apache.spark.sql.Encoders
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_epoch_restart_${System.nanoTime()}")
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val sink = EventStreams.epochSink(outDir)
    def startQ() = spark.readStream
      .schema(Encoders.product[Event].schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch → deterministic epochs
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(batch, id))
      .start()
    try {
      Seq(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "view", 1.0))
        .toDS().coalesce(1).write.mode("append").parquet(srcDir)
      Seq(Event(3, ts(2), 2, "click", 1.0), Event(4, ts(3), 2, "view", 1.0))
        .toDS().coalesce(1).write.mode("append").parquet(srcDir)
      val q1 = startQ()
      q1.processAllAvailable(); q1.stop() // ← the "kill"
      assert(spark.read.parquet(outDir).count() == 4)

      // failure injection: drop the LAST batch's commit marker — on
      // restart the engine finds offsets/N without commits/N and MUST
      // re-execute that epoch from the checkpointed offsets
      val commitFiles = new java.io.File(s"$ckpt/commits").listFiles()
        .filter(f => f.getName.forall(_.isDigit))
      val lastEpoch = commitFiles.map(_.getName.toInt).max
      assert(new java.io.File(s"$ckpt/commits/$lastEpoch").delete())
      // the local ChecksumFileSystem keeps a hidden .N.crc shadow; left
      // behind it makes the replay's rename-based rewrite look like a
      // concurrent writer and fail
      new java.io.File(s"$ckpt/commits/.$lastEpoch.crc").delete()
      // corrupt the replayed epoch's directory so only a true REWRITE
      // (overwrite semantics, not append) restores exactly-once
      Seq(Event(99, ts(9), 9, "bogus", 9.0), Event(98, ts(9), 9, "bogus", 9.0))
        .toDS().coalesce(1).write.mode("append")
        .parquet(s"$outDir/epoch=$lastEpoch")
      assert(spark.read.parquet(outDir).count() == 6) // duplication visible

      // new data + restart: replayed epoch rewritten, new epoch appended
      Seq(Event(5, ts(4), 3, "click", 1.0))
        .toDS().coalesce(1).write.mode("append").parquet(srcDir)
      val q2 = startQ()
      q2.processAllAvailable(); q2.stop()
      val all = spark.read.parquet(outDir)
      assert(all.count() == 5, "replay must overwrite its epoch, not append")
      assert(all.select("event_id").as[Long].collect().toSet ==
        Set(1L, 2L, 3L, 4L, 5L))
      // epochs continued past the replayed one
      assert(all.select("epoch").distinct().count() == 3)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base)
    }
  }

  test("rate source end-to-end: counts cover the consecutive value range exactly once") {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    // the built-in rate source emits value = 0,1,2,… — so the strongest
    // cheap exactly-once check is sum(per-key counts) == max(value) + 1:
    // a lost batch undercounts, a duplicated batch overcounts
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "1000").option("numPartitions", "2").load()
    val counts = stream.select((col("value") % 8).as("k"), col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("max_v"))
    val q = counts.writeStream.format("memory").queryName("rate_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
      val rows = spark.table("rate_counts")
        .select("k", "n", "max_v").as[(Long, Long, Long)].collect()
      assert(rows.nonEmpty, "rate source produced nothing")
      assert(rows.forall { case (k, _, _) => k >= 0 && k < 8 })
      val total = rows.map(_._2).sum
      val maxV = rows.map(_._3).max
      assert(total == maxV + 1,
        s"expected exactly-once coverage of 0..$maxV, counted $total")
    } finally q.stop()
  }

  test("file-source stream: a growing parquet directory feeds the windowed aggregate") {
    import org.apache.spark.sql.Encoders
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_stream_src_${System.nanoTime()}").getAbsolutePath
    // first ingest batch lands before the query starts
    Seq(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 1, "click", 1.0))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(Encoders.product[Event].schema)
      .option("maxFilesPerTrigger", "1") // bounded per-batch file intake
      .parquet(dir)
    val q = EventStreams.windowedTypeCounts(stream, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("file_win_counts")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      // a second file arrives while the query runs — the source must
      // discover and fold it in
      Seq(Event(3, ts(25), 2, "click", 1.0), Event(4, ts(65), 2, "view", 1.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val rows = spark.table("file_win_counts")
        .select("bucket_start", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      assert(rows.contains((ts(0), "click", 3L)))
      assert(rows.contains((ts(60), "view", 1L)))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("batch twin groups the fixture events into hour buckets") {
    val events = graft.sources.IO.table(spark, "/root/testdata/sf0.001", "events")
    val out = EventStreams.windowedTypeCountsBatch(events)
    assert(out.count() > 0)
    val total = out.agg(org.apache.spark.sql.functions.sum("n")).first().getLong(0)
    assert(total == events.count())
  }

  test("hopping windows: every event covers exactly dur/hop window starts") {
    import org.apache.spark.sql.functions._
    val events = graft.sources.IO.table(spark, "/root/testdata/sf0.001", "events")
      .where(col("ts").isNotNull)
    val out = EventStreams.hoppingTypeCountsBatch(events, "1 hour", "15 minutes")
    // total mass = 4 × events (each event in 4 overlapping windows)
    val total = out.agg(sum("n")).first().getLong(0)
    assert(total == 4 * events.count())
    // window starts sit on the 15-minute grid
    assert(out.where(expr("win_start_ms % 900000 != 0")).isEmpty)
    // and each event's windows are the 4 grid starts within the hour
    // before it: cross-check one event against the window list
    val e = events.select(expr("ts DIV 1000000").cast("long")).first().getLong(0)
    val k = e / 900000
    val covered = out.where(col("event_type").isNotNull)
      .select("win_start_ms").distinct()
      .as[Long].collect().toSet
    assert((k - 3 to k).forall(w => covered.contains(w * 900000)))
  }

  test("hopping windows reject dur that is not a multiple of hop") {
    val events = graft.sources.IO.table(spark, "/root/testdata/sf0.001", "events")
    // 1 hour / 25 minutes type-checks and would run — but window starts
    // leave the hop grid and the oracle's integer-division twin breaks,
    // so the contract is enforced at entry
    assertThrows[IllegalArgumentException] {
      EventStreams.hoppingTypeCountsBatch(events, "1 hour", "25 minutes")
    }
    assertThrows[IllegalArgumentException] {
      EventStreams.hoppingTypeCounts(events, "90 seconds", "7 seconds")
    }
    // fixed-length units only: a month is not a constant span
    assertThrows[IllegalArgumentException] {
      EventStreams.intervalMs("1 month")
    }
    assert(EventStreams.intervalMs("90 seconds") == 90000L)
    assert(EventStreams.intervalMs("2 hours") == 7200000L)
    assert(EventStreams.intervalMs("1 minute") == 60000L)
  }

  test("hopping windows: streaming append emits exactly the batch windows") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.hoppingTypeCounts(in.toDF(), "1 hour", "15 minutes", "1 hour")
      .writeStream.format("memory").queryName("hopping_counts")
      .outputMode(OutputMode.Append()).start()
    try {
      val closed = Seq(
        Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(40), 2, "view", 4.0))
      in.addData(closed: _*)
      // far-future event pushes the watermark past every closed window end
      in.addData(Event(9, ts(100000), 9, "late", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("hopping_counts")
        .where(col("event_type") =!= "late")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      val batch = EventStreams.hoppingTypeCounts(closed.toDF(), "1 hour", "15 minutes")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(batch.nonEmpty && streamed == batch)
      // an event participates in dur/hop = 4 windows
      assert(batch.count(_._2 == "view") == 4)
    } finally q.stop()
  }

  test("session_window: touching windows merge (delta <= gap), beyond splits") {
    // windows are [ts, ts+gap) and Spark merges windows that overlap OR
    // touch: an event exactly gap after the previous still extends the
    // session. This boundary is what the q_st_sessions oracle's
    // `delta > gap` new-session rule encodes — if Spark ever changes it,
    // this test fails first.
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(29), 1, "click", 2.0),  // 29 min < 30 → same session
      Event(3, ts(59), 1, "click", 4.0),  // exactly 30 after #2 → still merges
      Event(4, ts(90), 1, "click", 16.0), // 31 after #3 → NEW session
      Event(5, ts(0), 2, "view", 8.0)
    ).toDF()
    val got = EventStreams.sessionWindows(events, "30 minutes")
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set(
      (1L, ts(0), ts(89), 3L, 7.0),    // end = last event (59) + gap
      (1L, ts(90), ts(120), 1L, 16.0),
      (2L, ts(0), ts(30), 1L, 8.0)))
  }

  test("session_window: streaming append emits exactly the batch sessions") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionWindows(in.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      val closed = Seq(
        Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(100), 1, "click", 4.0),
        Event(4, ts(5), 2, "view", 8.0))
      in.addData(closed: _*)
      // far-future event pushes the watermark past every closed session end
      in.addData(Event(9, ts(10000), 9, "click", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("native_sessions")
        .select("user_id", "session_start", "n_events", "total_value")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = EventStreams.sessionWindows(closed.toDF(), "30 minutes")
        .select("user_id", "session_start", "n_events", "total_value")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(batch.nonEmpty && streamed == batch)

      // a session is emitted once: after a later watermark advance the
      // closed sessions' state is gone, so none of them is emitted again
      in.addData(Event(10, ts(20000), 9, "click", 0.0))
      q.processAllAvailable()
      val closedUsers = closed.map(_.user_id).toSet
      val emitted = spark.table("native_sessions")
        .select("user_id", "session_start").as[(Long, Timestamp)].collect()
        .filter { case (u, _) => closedUsers(u) }
      assert(emitted.length == batch.size && emitted.distinct.length == batch.size)
    } finally q.stop()
  }
}
