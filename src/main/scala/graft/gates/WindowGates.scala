package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql
import Shared._

/** Windows (SURVEY §2.5): ranking, top-k, lag/lead, sessions,
  * funnels and path/attribution analyses. */
private[graft] object WindowGates {
  val gates: Seq[Gate] = Seq(
    // W1: row_number over (partition, order) — dedup-rank pattern
    // (helper_methods.py:171-179)
    Gate("q_w1_row_number", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("event_id"), col("user_id"), col("rn"))
        .orderBy(col("event_id"))
    },
      Sql(() => """SELECT event_id, user_id, rn FROM (
        |  SELECT event_id, user_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 2 ORDER BY event_id""".stripMargin)),

    // W-topk-long: grouped top-k whose primary is a LONG (ids-as-scores,
    // timestamps, counters — the most common remaining top-k idiom).
    // The coalesce proves non-nullability (parquet columns read as
    // nullable), so TopKWindowRewrite plans the bounded-heap aggregate
    // on RAW long keys — lossless above 2^53, where the double embedding
    // collides; FullBatteryPlanAudit's heap-plan test pins the rewrite
    // actually firing here.
    Gate("q_w_topk_long", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(coalesce(col("o_orderkey"), lit(Long.MinValue)).desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("rn"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },
      // long-primary top-k (COALESCE mirrors the Spark side's
      // non-nullability proof; fixture keys are never null, so it is inert)
      Sql(() => """SELECT o_orderpriority, o_orderkey, rn FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |           ORDER BY COALESCE(o_orderkey, -9223372036854775808) DESC) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin)),

    // W-topk-rank: the ties-aware grouped top-k idiom — rank() <= k,
    // where ties at the k-th boundary ALL survive (the output legally
    // exceeds k rows per group: ~390 rank-1 rows per returnflag here).
    // NOT heap-expressible; TopKWindowRewrite plans the threshold
    // aggregate RankTopKAgg (buffer O(k + group output), no full-group
    // sort anywhere); FullBatteryPlanAudit pins the rewrite firing.
    // Unlike row_number top-k, the output SET is fully deterministic —
    // no arbitrary tie-pick — so the oracle needs no tiebreaker column.
    Gate("q_w_topk_rank", (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity").desc)
      t(s, dir, "lineitem")
        .withColumn("rk", rank().over(w))
        .filter(col("rk") <= 2)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("rk"))
        .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
    },
      // ties-aware top-k: every boundary tie survives, so the result SET
      // is deterministic without any tiebreaker column
      Sql(() => """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity, rk FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
        |         CAST(RANK() OVER (PARTITION BY l_returnflag
        |           ORDER BY l_quantity DESC) AS INT) AS rk
        |  FROM lineitem) WHERE rk <= 2
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin)),

    // W-topk-dense: dense_rank() <= k — all rows of the k largest
    // DISTINCT key values per group (no rank skipping). Bucketed price
    // (floor/10000) gives a small int key domain so several rows share
    // each kept bucket; same threshold-aggregate plan as q_w_topk_rank.
    Gate("q_w_topk_dense", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("price_bucket").desc)
      t(s, dir, "orders")
        .withColumn("price_bucket",
          floor(col("o_totalprice") / 10000).cast("int"))
        .withColumn("dr", dense_rank().over(w))
        .filter(col("dr") <= 2)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("price_bucket"), col("dr"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },
      Sql(() => """SELECT o_orderpriority, o_orderkey, price_bucket, dr FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(FLOOR(o_totalprice / 10000) AS INT) AS price_bucket,
        |         CAST(DENSE_RANK() OVER (PARTITION BY o_orderpriority
        |           ORDER BY CAST(FLOOR(o_totalprice / 10000) AS INT) DESC) AS INT) AS dr
        |  FROM orders) WHERE dr <= 2
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // W2 rewrite: per-row global max WITHOUT the reference's unpartitioned
    // window (dataset_utils.py:55-60) — scalar agg + broadcast cross join;
    // the fact side keeps its partitioning at any scale
    Gate("q_w2_global_max_share", (s, dir) => {
      val o = t(s, dir, "orders")
      val mx = o.agg(max(col("o_totalprice")).as("__max_total"))
      o.crossJoin(broadcast(mx))
        .select(col("o_orderkey"),
          (col("o_totalprice") / col("__max_total")).as("price_share"))
        .orderBy(col("o_orderkey"))
    },
      Sql(() => """SELECT o_orderkey,
        |       o_totalprice / (SELECT MAX(o_totalprice) FROM orders) AS price_share
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // W3: lag over (partition, order) (notebook cell 26)
    Gate("q_w3_lag", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"),
          coalesce(lag(col("value"), 1).over(w), lit(-1.0)).as("prev_value"))
        .orderBy(col("event_id"))
    },
      Sql(() => """SELECT event_id,
        |       COALESCE(LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), -1.0) AS prev_value
        |FROM events ORDER BY event_id""".stripMargin)),

    // W-stacked: batch sessionization — lag marks gap starts, running sum
    // numbers the sessions (the batch twin of the streaming
    // flatMapGroupsWithState sessionizer; 30-min gap on epoch-nano ts)
    Gate("q_w_sessionize", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapStart = when(
        col("ts") - lag(col("ts"), 1).over(w) > 1800000000000L, 1).otherwise(0)
      t(s, dir, "events")
        .withColumn("session_idx",
          sum(gapStart).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .select(col("event_id"), col("user_id"), col("session_idx"))
        .orderBy(col("event_id"))
    },
      Sql(() => """SELECT event_id, user_id,
        |       CAST(SUM(gap_start) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |FROM (
        |  SELECT event_id, user_id, ts,
        |         CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts), 1) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000
        |         THEN 1 ELSE 0 END AS gap_start
        |  FROM events)
        |ORDER BY event_id""".stripMargin)),

    // W-funnel: strict-order multi-step funnel over a sparse event slice
    // — ONE user-keyed shuffle + a per-user HOF fold instead of one
    // self-join per step; greedy-earliest matching, ties rejected. The
    // oracle is the equivalent conditional-min CTE chain. Timestamps
    // truncate to MICROSECONDS first (DuckDB's parquet reader drops
    // sub-µs), so ordering, ties, and delta sums agree bit-for-bit.
    Gate("q_w_funnel", (s, dir) =>
      graft.operators.Funnel.summary(
          t(s, dir, "events").where(col("event_id") % 7 === 0)
            .withColumn("ts_us", expr("ts DIV 1000")),
          "user_id", "event_type", "ts_us",
          Seq("view", "signup", "click", "purchase"))
        .withColumnRenamed("sum_delta_ns", "sum_delta_us"),
      // funnel: greedy-earliest strict-order chain as conditional-min CTEs
      Sql(() => """WITH f AS (
        |  SELECT user_id, epoch_us(ts) AS ts, event_type
        |  FROM events
        |  WHERE event_id % 7 = 0
        |    AND event_type IN ('view','signup','click','purchase')),
        |s1 AS (SELECT user_id, min(ts) AS t FROM f
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT f.user_id, min(f.ts) AS t FROM f
        |       JOIN s1 ON f.user_id = s1.user_id AND f.ts > s1.t
        |       WHERE f.event_type = 'signup' GROUP BY f.user_id),
        |s3 AS (SELECT f.user_id, min(f.ts) AS t FROM f
        |       JOIN s2 ON f.user_id = s2.user_id AND f.ts > s2.t
        |       WHERE f.event_type = 'click' GROUP BY f.user_id),
        |s4 AS (SELECT f.user_id, min(f.ts) AS t FROM f
        |       JOIN s3 ON f.user_id = s3.user_id AND f.ts > s3.t
        |       WHERE f.event_type = 'purchase' GROUP BY f.user_id)
        |SELECT 1 AS step, 'view' AS step_name, CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(0 AS BIGINT) AS sum_delta_us FROM s1
        |UNION ALL
        |SELECT 2, 'signup', CAST(count(*) AS BIGINT),
        |       CAST(COALESCE(sum(s2.t - s1.t), 0) AS BIGINT)
        |FROM s2 JOIN s1 ON s2.user_id = s1.user_id
        |UNION ALL
        |SELECT 3, 'click', CAST(count(*) AS BIGINT),
        |       CAST(COALESCE(sum(s3.t - s2.t), 0) AS BIGINT)
        |FROM s3 JOIN s2 ON s3.user_id = s2.user_id
        |UNION ALL
        |SELECT 4, 'purchase', CAST(count(*) AS BIGINT),
        |       CAST(COALESCE(sum(s4.t - s3.t), 0) AS BIGINT)
        |FROM s4 JOIN s3 ON s4.user_id = s3.user_id
        |ORDER BY step""".stripMargin)),

    // W-frame: running sum over ROWS UNBOUNDED PRECEDING..CURRENT, exact
    Gate("q_w_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"),
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("run_value"))
        .orderBy(col("event_id"))
    },
      Sql(() => """SELECT event_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_value
        |FROM events ORDER BY event_id""".stripMargin)),

    // W-battery: rank-family windows — dense_rank / ntile / percent_rank /
    // cume_dist over one key-partitioned, uniquely-ordered window (shared
    // WindowExec, single shuffle on the partition key)
    Gate("q_w_rank_battery", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          dense_rank().over(w).as("drank"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy(col("o_orderkey"))
    },
      // rank battery: identical window spec; ranks cast to INT to match
      // Spark's IntegerType outputs; fractional ranks ROUND(,6) both sides
      Sql(() => """SELECT o_orderkey, o_orderpriority,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drank,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS prank,
        |  ROUND(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // W-moving: time-RANGE moving aggregate — per-user trailing-hour mean
    // via rangeBetween on the epoch-nanos long (a RANGE frame, so tied
    // timestamps aggregate identically regardless of intra-tie order)
    Gate("q_w_moving_avg", (s, dir) => {
      val hourNs = 3600L * 1000 * 1000 * 1000
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(-hourNs, 0)
      t(s, dir, "events")
        .select(col("event_id"),
          count(col("value")).over(w).as("n_window"),
          (sum(col("value").cast("decimal(38,6)")).over(w).cast("double") /
            count(col("value")).over(w)).as("mov_avg"))
        .orderBy(col("event_id"))
    },
      // moving window: RANGE frame over epoch nanos; decimal-cast sum
      Sql(() => """SELECT event_id,
        |  CAST(count(value) OVER w AS BIGINT) AS n_window,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
        |    / count(value) OVER w AS mov_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |             RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    // W-markov: first-order event-transition matrix — one user-keyed lag
    // window (the sessionization shuffle), then matrix-sized aggregates;
    // row-normalizing window runs over the matrix, not the data
    Gate("q_w_transitions", (s, dir) =>
      graft.operators.Funnel.transitionMatrix(
          t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
        .orderBy(col("from_type"), col("to_type")),
      // transition matrix: identical LAG window and row-normalization
      Sql(() => """WITH seq AS (
        |  SELECT event_type AS to_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // W-markov-attrib: Markov-chain removal-effect attribution — the
    // data-scale pass is one user-keyed journey shuffle + a
    // config-sized transition aggregate; the (|channels|+1)
    // value-iteration solves run driver-side on the collected matrix
    // with the PageRank round-12 decimal discipline
    Gate("q_w_markov_attrib", (s, dir) =>
      graft.operators.Funnel.markovRemovalEffects(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        channels = Seq("click", "error", "signup", "view"),
        convType = "purchase", iters = 12),
      // markov attribution: generated unrolled value-iteration twin —
      // identical journey truncation, transition probabilities, and
      // per-round ROUND(,12) DECIMAL accumulation (PageRank discipline)
      Sql(() => graft.operators.Funnel.markovRemovalOracleSql(
        Seq("click", "error", "signup", "view"), "purchase", 12))),

    // W-attribution: first/last-touch conversion credit — one user-keyed
    // ordered window (running first/last over the strictly-preceding
    // frame), then a (first, last) matrix aggregate
    Gate("q_w_attribution", (s, dir) =>
      graft.operators.Cohort.touchAttribution(
          t(s, dir, "events"), "user_id", "ts", "event_id",
          "event_type", "value", convType = "purchase")
        .orderBy(col("first_touch"), col("last_touch")),
      // attribution: identical strictly-preceding first/last windows with
      // the same (ts, event_id) order; DECIMAL revenue
      Sql(() => """WITH touched AS (
        |  SELECT event_type, value,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |                IGNORE NULLS) OVER w AS first_touch,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |               IGNORE NULLS) OVER w AS last_touch
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT first_touch, last_touch, CAST(count(*) AS BIGINT) AS n_conv,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM touched
        |WHERE event_type = 'purchase' AND last_touch IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // W-paths: top opening event paths — each user's first 3 event
    // types joined `a>b>c` and counted; rank filter BEFORE the
    // collect bounds per-user state at depth
    Gate("q_w_paths", (s, dir) =>
      graft.operators.Funnel.topPaths(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
        depth = 3, k = 20),
      // top paths: identical rank-then-join formulation; string_agg with
      // an explicit ORDER BY pins the concatenation order
      Sql(() => """WITH r AS (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin)),

    // W-rfm: RFM segmentation of customers from their orders — one
    // entity aggregate, then three exact NTILEs computed from
    // range-partitioned global positions (GlobalOrder.ntileAtScale):
    // no single-partition window anywhere
    Gate("q_w_rfm", (s, dir) =>
      graft.operators.Cohort.rfmScores(
          t(s, dir, "orders"), "o_custkey", "o_orderdate", "o_totalprice",
          k = 5)
        .orderBy(col("o_custkey")),
      // RFM: NTILE window twin of the distributed global-position scoring
      Sql(() => """WITH base AS (
        |  SELECT o_custkey,
        |    MAX(o_orderdate) AS recency,
        |    count(*) AS frequency,
        |    CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(38,6))) AS DOUBLE)
        |      AS monetary
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1)
        |SELECT o_custkey, recency, CAST(frequency AS BIGINT) AS frequency,
        |  monetary,
        |  CAST(NTILE(5) OVER (ORDER BY recency, o_custkey) AS INT) AS r,
        |  CAST(NTILE(5) OVER (ORDER BY frequency, o_custkey) AS INT) AS f,
        |  CAST(NTILE(5) OVER (ORDER BY monetary, o_custkey) AS INT) AS m,
        |  CAST(NTILE(5) OVER (ORDER BY recency, o_custkey) * 100 +
        |       NTILE(5) OVER (ORDER BY frequency, o_custkey) * 10 +
        |       NTILE(5) OVER (ORDER BY monetary, o_custkey) AS INT) AS segment
        |FROM base ORDER BY o_custkey""".stripMargin)),

    // W-churn: period-over-period user transition census — 10-day
    // periods anchored at the 2024-01-01 calendar boundary, "active"
    // meaning a high-value event (value > 260 — tuned so sf0.001 shows
    // churn and sf0.01 shows all four statuses); one user-keyed
    // aggregate of activity flags, one tiny status rollup.
    // NOTE: Spark `div` truncates toward zero while the oracle's `//`
    // floors — they agree ONLY for non-negative deltas. The fixture's
    // events all sit at/after the 2024-01-01 anchor, and only periods
    // 1 and 2 are classified (period 0 never tested), so the twin
    // holds; any gate testing period 0 or a later anchor must switch
    // both sides to an explicit FLOOR formulation first.
    Gate("q_w_churn", (s, dir) => {
      val flags = t(s, dir, "events")
        .select(col("user_id"), col("value"),
          expr("(ts - 1704067200000000000L) div 864000000000000L").as("p"))
        .groupBy(col("user_id"))
        .agg(max(when(col("p") === 1 && col("value") > 260, 1)
            .otherwise(0)).as("__a1"),
          max(when(col("p") === 2 && col("value") > 260, 1)
            .otherwise(0)).as("__a2"))
      flags.select(
          when(col("__a1") === 1 && col("__a2") === 1, "retained")
            .when(col("__a1") === 1, "churned")
            .when(col("__a2") === 1, "new")
            .otherwise("inactive").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    },
      // churn census: identical activity flags + status rollup
      Sql(() => """WITH f AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN (epoch_ns(ts) - 1704067200000000000) // 864000000000000 = 1
        |         AND value > 260 THEN 1 ELSE 0 END) AS a1,
        |    MAX(CASE WHEN (epoch_ns(ts) - 1704067200000000000) // 864000000000000 = 2
        |         AND value > 260 THEN 1 ELSE 0 END) AS a2
        |  FROM events GROUP BY 1)
        |SELECT CASE WHEN a1 = 1 AND a2 = 1 THEN 'retained'
        |            WHEN a1 = 1 THEN 'churned'
        |            WHEN a2 = 1 THEN 'new'
        |            ELSE 'inactive' END AS status,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM f GROUP BY 1 ORDER BY status""".stripMargin)),

    // W-ttc: time-to-convert distribution (first click → first
    // subsequent purchase per user) — exact interpolated percentiles
    // over the converted-user panel, decimal-exact mean
    Gate("q_w_ttc", (s, dir) =>
      graft.operators.Funnel.timeToConvert(
        t(s, dir, "events"), "user_id", "ts", "event_type",
        fromType = "click", toType = "purchase"),
      // time-to-convert: identical first-exposure join + percentile
      // parity (quantile_cont ↔ Spark exact percentile)
      Sql(() => """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
        |f AS (
        |  SELECT user_id, min(ts) AS t0 FROM e
        |  WHERE event_type = 'click' GROUP BY 1),
        |d AS (
        |  SELECT e.user_id, min(e.ts) - min(f.t0) AS delta
        |  FROM e JOIN f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= f.t0
        |  GROUP BY e.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  ROUND(CAST(SUM(CAST(delta AS DECIMAL(38,0))) AS DOUBLE)
        |        / count(*) / 1000000000.0, 6) AS mean_s,
        |  ROUND(quantile_cont(delta, 0.5) / 1000000000.0, 6) AS med_s,
        |  ROUND(quantile_cont(delta, 0.9) / 1000000000.0, 6) AS p90_s
        |FROM d""".stripMargin)),

    // W-absence: temporal anti-join — clicks with NO same-user
    // purchase within the following hour (the negative-funnel
    // question); left_anti on the user key with the range in the join
    // condition
    Gate("q_w_absence", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      clicks.join(purch,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("ts") &&
            col("p_ts") <= col("ts") + 3600000000000L,
          "left_anti")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_unanswered"))
        .orderBy(col("user_id"))
    },
      // absence: the NOT EXISTS twin of the left_anti range join
      Sql(() => """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts
        |  FROM events),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_unanswered
        |FROM c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p
        |  WHERE p.user_id = c.user_id
        |    AND p.ts >= c.ts AND p.ts <= c.ts + 3600000000000)
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin))
  )
}
