package graft.operators

import graft.SparkSpec

/** Funnel semantics: strict ordering, tie rejection, greedy-earliest
  * matching, zero-reach steps, and the single-shuffle plan shape. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private val steps = Seq("view", "signup", "click", "purchase")

  // (user, ts, type): u1 completes; u2's signup precedes its view; u3's
  // signup TIES its view (strict "after" must reject); u4 stalls at
  // click; u5 has no step events at all
  private val events = Seq(
    (1L, 10L, "view"), (1L, 20L, "signup"), (1L, 30L, "click"), (1L, 40L, "purchase"),
    (2L, 5L, "signup"), (2L, 10L, "view"), (2L, 30L, "click"),
    (3L, 10L, "view"), (3L, 10L, "signup"),
    (4L, 1L, "purchase"), (4L, 2L, "view"), (4L, 3L, "signup"), (4L, 4L, "purchase"),
    (5L, 7L, "error")
  ).toDF("user_id", "ts", "event_type")

  test("per-entity step timestamps: strict order, ties rejected, greedy-earliest") {
    val got = Funnel.userSteps(events, "user_id", "event_type", "ts", steps)
      .orderBy("user_id")
      .as[(Long, Seq[Option[Long]])].collect().toSeq
    assert(got == Seq(
      1L -> Seq(Some(10L), Some(20L), Some(30L), Some(40L)),
      2L -> Seq(Some(10L), None, None, None), // signup@5 is before view@10
      3L -> Seq(Some(10L), None, None, None), // signup@10 ties view@10
      4L -> Seq(Some(2L), Some(3L), None, None) // purchase@4 can't skip click
    )) // u5 never enters the funnel
  }

  test("summary: counts, transition times, and zero-reach steps still emit") {
    val got = Funnel.summary(events, "user_id", "event_type", "ts",
      steps :+ "refund") // nobody refunds
      .as[(Int, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1, "view", 4L, 0L),
      (2, "signup", 2L, 10L + 1L), // u1: 20-10, u4: 3-2
      (3, "click", 1L, 10L),       // u1: 30-20
      (4, "purchase", 1L, 10L),    // u1: 40-30
      (5, "refund", 0L, 0L)
    ))
  }

  test("one event can never satisfy two consecutive steps") {
    val df = Seq((1L, 10L, "view"), (1L, 20L, "view")).toDF("user_id", "ts", "event_type")
    val got = Funnel.userSteps(df, "user_id", "event_type", "ts", Seq("view", "view"))
      .as[(Long, Seq[Option[Long]])].head()
    assert(got == (1L -> Seq(Some(10L), Some(20L)))) // needs TWO views, strictly apart
    val one = Funnel.userSteps(df.limit(1), "user_id", "event_type", "ts", Seq("view", "view"))
      .as[(Long, Seq[Option[Long]])].head()
    assert(one == (1L -> Seq(Some(10L), None)))
  }

  test("plan: exactly one exchange; the step IN-list reaches the scan") {
    val fixture = graft.sources.IO.table(spark, "/root/testdata/sf0.001", "events")
    val plan = Funnel.userSteps(fixture, "user_id", "event_type", "ts", steps)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("PushedFilters: [In(event_type"), plan)
  }

  // ───────────────────── transitionMatrix ─────────────────────

  test("transition probabilities normalize per source state") {
    // user 1: a→b→a→c; user 2: a→b — transitions from a: {b:2, c:1}
    val ev = Seq(
      (1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"), (1L, 3L, 30L, "a"),
      (1L, 4L, 40L, "c"), (2L, 5L, 10L, "a"), (2L, 6L, 20L, "b")
    ).toDF("u", "id", "ts", "t")
    val got = Funnel.transitionMatrix(ev, "u", "ts", "t", "id")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("a", "b")) == ((2L, math.round(2.0 / 3 * 1e6) / 1e6)))
    assert(got(("a", "c")) == ((1L, math.round(1.0 / 3 * 1e6) / 1e6)))
    assert(got(("b", "a")) == ((1L, 1.0)))
    // each user's first event has no predecessor: no (null, a) rows,
    // and b→a counts once (user 1 only)
    assert(got.size == 3)
  }

  test("equal timestamps order deterministically by the tie column") {
    val ev = Seq((1L, 1L, 10L, "x"), (1L, 2L, 10L, "y"), (1L, 3L, 10L, "z"))
      .toDF("u", "id", "ts", "t")
    val got = Funnel.transitionMatrix(ev, "u", "ts", "t", "id")
      .as[(String, String, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(got == Set(("x", "y"), ("y", "z")))
  }

  // ───────────────────── topPaths ─────────────────────

  test("topPaths takes each user's first `depth` types in time order") {
    val ev = Seq(
      (1L, 1L, 10L, "view"), (1L, 2L, 20L, "click"), (1L, 3L, 30L, "buy"),
      (1L, 4L, 40L, "view"), // beyond depth 3 — ignored
      (2L, 5L, 10L, "view"), (2L, 6L, 20L, "click"), (2L, 7L, 30L, "buy"),
      (3L, 8L, 10L, "view")) // short history: path is just "view"
      .toDF("u", "id", "ts", "t")
    val got = Funnel.topPaths(ev, "u", "ts", "t", "id", depth = 3, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("view>click>buy" -> 2L, "view" -> 1L))
  }

  test("topPaths breaks count ties by path and equal timestamps by tie col") {
    val ev = Seq(
      (1L, 2L, 10L, "b"), (1L, 1L, 10L, "a"), // same ts: id order → a>b
      (2L, 3L, 10L, "z"))
      .toDF("u", "id", "ts", "t")
    val got = Funnel.topPaths(ev, "u", "ts", "t", "id", depth = 2, k = 10)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a>b", "z")) // counts tie at 1 → lexicographic path
  }

  test("timeToConvert: first exposure to first subsequent conversion") {
    val sec = 1000000000L
    val ev = Seq(
      // u1: click@10s, purchase@30s → 20s (the pre-click purchase@5s
      // must NOT count)
      (1L, 5 * sec, "purchase"), (1L, 10 * sec, "click"),
      (1L, 30 * sec, "purchase"), (1L, 50 * sec, "purchase"),
      // u2: click@0s, purchase@40s → 40s
      (2L, 0L, "click"), (2L, 40 * sec, "purchase"),
      // u3: click only → excluded; u4: purchase only → excluded
      (3L, 7 * sec, "click"), (4L, 9 * sec, "purchase"))
      .toDF("u", "ts", "t")
    val r = Funnel.timeToConvert(ev, "u", "ts", "t", "click", "purchase")
      .head()
    assert(r.getAs[Long]("n_converted") == 2L)
    assert(r.getAs[Double]("mean_s") == 30.0)
    assert(r.getAs[Double]("med_s") == 30.0) // interpolated between 20, 40
    assert(r.getAs[Double]("p90_s") == 38.0)
  }

  test("markovTransitionCounts truncates at first conversion") {
    import spark.implicits._
    // u1: click → purchase → error → error (post-conversion tail ignored)
    // u2: view → (no conversion)
    val ev = Seq((1L, 1L, 1L, "click"), (1L, 2L, 2L, "purchase"),
      (1L, 3L, 3L, "error"), (1L, 4L, 4L, "error"),
      (2L, 1L, 5L, "view"))
      .toDF("u", "ts", "eid", "t")
    val got = Funnel.markovTransitionCounts(ev, "u", "ts", "eid", "t",
        Seq("click", "view", "error"), "purchase")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(("START", "click") -> 1L, ("click", "CONV") -> 1L,
      ("START", "view") -> 1L, ("view", "NULL") -> 1L))
  }

  test("markovRemovalEffects: hand-solved two-channel chain") {
    import spark.implicits._
    // START→click→CONV and START→view→NULL, each probability 0.5/1.0:
    // base P(conv) = 0.5; removing click kills all conversion (effect
    // 1), removing view changes nothing (effect 0)
    val ev = Seq((1L, 1L, 1L, "click"), (1L, 2L, 2L, "purchase"),
      (2L, 1L, 3L, "view"))
      .toDF("u", "ts", "eid", "t")
    val rows = Funnel.markovRemovalEffects(ev, "u", "ts", "eid", "t",
        Seq("click", "view"), "purchase", iters = 5)
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("click", "view"))
    val click = rows(0); val view = rows(1)
    assert(click.getAs[Double]("conv_base") == 0.5)
    assert(click.getAs[Double]("conv_without") == 0.0)
    assert(click.getAs[Double]("removal_effect") == 1.0)
    assert(click.getAs[Double]("share") == 1.0)
    assert(view.getAs[Double]("conv_without") == 0.5)
    assert(view.getAs[Double]("removal_effect") == 0.0)
    assert(view.getAs[Double]("share") == 0.0)
  }

  test("markovRemovalEffects rejects an all-zero-effect model") {
    import spark.implicits._
    // the only journey converts without touching any declared channel
    // beyond the untraversed 'view': START→click→CONV with channels
    // (view) only would drop click... instead: conversion happens with
    // no channel influence — every declared channel's removal leaves
    // P(conv) unchanged, shares are 0/0
    val ev = Seq((1L, 1L, 1L, "click"), (1L, 2L, 2L, "purchase"),
      (2L, 1L, 3L, "view"))
      .toDF("u", "ts", "eid", "t")
    // removing 'view' changes nothing (non-converting branch only):
    // declare ONLY view as a channel → denom = 0 → loud error
    val e = intercept[IllegalArgumentException] {
      Funnel.markovRemovalEffects(ev, "u", "ts", "eid", "t",
        Seq("view"), "purchase", iters = 5)
    }
    assert(e.getMessage.contains("removal effect"))
  }
}
