package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import Relational.{MicrosPerDay, MicrosPerHour, MicrosPerMinute, MicrosPerSecond,
  cents, elapsed, micros, ntzBucket, whole}

/** Ordered-sequence event analytics: conversion funnels and cohort
  * retention. Absent in the reference (whose events surface stops at
  * calendar aggregation) — provided as first-class engine ops for the
  * product-analytics query family.
  *
  * The event-log conventions, each stated once and shared by `Relational`,
  * `Merge`, `AsOf` and [[graft.streaming.EventsStream]]:
  *  - A user's events are ordered by `(ts, event_id)` ([[timeline]]);
  *    `event_id` breaks equal timestamps, so lag/lead/first chains are
  *    deterministic. The latest event is the same order read backwards
  *    ([[latestPerUser]]).
  *  - Event-time arithmetic is exact integer microseconds
  *    (`Relational.micros`, `elapsed`, `whole`), never interval or double
  *    math.
  *  - A session ends after a gap of MORE than [[SessionGap]]: an event
  *    exactly 30 minutes after the previous one stays in the session. The
  *    lag form ([[sessionIds]]) and `session_window` ([[sessionWindow]])
  *    agree on that boundary.
  *  - The view → click → purchase funnel is strict ([[funnelStages]]):
  *    each stage counts only after the previous stage's earliest event.
  *
  * Scale notes: the funnel's three conditional stage times are chained
  * window aggregates over the SAME `user_id` partitioning, so Catalyst
  * plans ONE exchange followed by consecutive Window nodes, and the
  * per-user collapse that follows reuses that partitioning (no second
  * shuffle). Retention pre-shrinks events to one row per (user, day) via
  * a map-side-combined `collect_set` (bounded by the calendar span, ~30
  * elements here) before any per-day work, so the big table is shuffled
  * once at user granularity rather than event granularity.
  */
object EventAnalytics {

  private val stages = Seq("view", "click", "purchase")

  /** Lookback of the touch-attribution models ([[lastTouchAttribution]],
    * [[attributionCompare]]). */
  private val AttributionHorizonDays = 7

  /** Minimum gap between two kept events of one (user, type): the batch
    * [[debounceReport]] and its streaming twin
    * [[graft.streaming.EventsStream.streamingDebounce]]. */
  private[graft] val DebounceGapSeconds = 300L

  /** The inactivity gap that closes a session. */
  private[graft] val SessionGap = "30 minutes"

  /** Each user's event timeline, optionally split further by `keys`:
    * partitioned by `user_id` and `keys`, ordered by `(ts, event_id)`.
    * Callers add their own frame. */
  private[graft] def timeline(keys: String*): WindowSpec =
    Window.partitionBy(("user_id" +: keys).map(col): _*)
      .orderBy(col("ts"), col("event_id"))

  /** Each user's latest event in `events`: the top row under
    * `(ts desc, event_id desc)`, the [[timeline]] read backwards. A
    * top-1 `row_number` filter, which plans as a WindowGroupLimit, so
    * each map partition forwards at most one row per user. */
  private[graft] def latestPerUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
  }

  /** The strict funnel's stage times, added to every row of `events`:
    * per user, `t1` is the earliest view, `t2` the earliest click
    * strictly after `t1`, and `t3` the earliest purchase strictly after
    * `t2` (null when the stage is not reached). Unordered conditional
    * `min`s over one `user_id` window. */
  private def funnelStages(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .withColumn("t1", min(when(col("event_type") === stages(0), col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === stages(1) && col("ts") > col("t1"),
        col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === stages(2) && col("ts") > col("t2"),
        col("ts"))).over(w))
  }

  /** Per-type drop rate of debounce keep flags: `flags` has one row per
    * event with `event_type` and `kept` (1 or 0). Shared by the batch
    * [[debounceReport]] and its streaming twin. */
  private[graft] def dropRates(flags: DataFrame): DataFrame =
    flags.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("kept")).as("n_kept"))
      .withColumn("drop_rate", round(lit(1.0) -
        col("n_kept").cast("double") / col("n_events").cast("double"), 6))
      .orderBy(col("event_type"))

  /** Strictly-ordered conversion funnel view → click → purchase: a user
    * counts at stage k only if each stage-k event happened strictly after
    * their earliest qualifying stage-(k-1) event. Returns one row per
    * funnel stage with the surviving user count.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val perUser = funnelStages(new graft.cube.Engine(spark, dir).table("events"))
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
    perUser
      .agg(count(col("t1")).as("v1"), count(col("t2")).as("v2"), count(col("t3")).as("v3"))
      .selectExpr(
        "stack(3, 'view', v1, 'view_click', v2, 'view_click_purchase', v3) AS (stage, users)")
      .orderBy(col("stage"))
  }

  /** Classic cohort retention: users grouped by their first active day,
    * counted on each later active day offset. One row per
    * (cohort_day, day_offset) with the distinct-user count.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    val perUser = events
      .select(col("user_id"), ntzBucket("day", col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("day")).as("days"))
      .select(col("user_id"), array_min(col("days")).as("cohort_day"),
        explode(col("days")).as("day"))
    perUser
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast(LongType).as("day_offset"))
      .agg(count(lit(1)).as("users")) // (user, day) already distinct by construction
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Time-series gap fill + forward fill: regularize each user's sparse
    * daily purchase series onto the full calendar spine and carry the
    * last observation forward across the gaps — the resample step every
    * downstream time-series model needs.
    *
    * Scale shape: the spine is users × days built by broadcasting a
    * sequence-generated calendar (a few KB regardless of fact size) —
    * the fact table is aggregated once at (user, day) grain and the
    * forward fill is one window over the spine partitioned by user, so
    * the heavy side shuffles exactly once, at its natural key.
    */
  def gapFillDaily(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    val daily = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        ntzBucket("day", col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("day_value"))
    val bounds = events.agg(
      ntzBucket("day", min(col("ts"))).as("d0"),
      ntzBucket("day", max(col("ts"))).as("d1"))
    val calendar = bounds
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
    val spine = daily.select(col("user_id")).distinct()
      .crossJoin(broadcast(calendar))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_value", last(col("day_value"), ignoreNulls = true).over(w))
      .withColumn("is_observed", col("day_value").isNotNull)
      .select(col("user_id"), col("day"), col("filled_value"),
        col("is_observed"))
      .orderBy(col("user_id"), col("day"))
  }

  /** A/B experiment readout: deterministic hash arms, per-metric group
    * means/variances and the Welch t statistic — single-pass moments per
    * (metric, arm), no per-row data leaves the executors.
    */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
      .withColumn("arm", pmod(col("user_id"), lit(2)))
    val stats = events.groupBy(col("event_type"))
      .agg(
        count(when(col("arm") === 0, 1)).as("n_a"),
        count(when(col("arm") === 1, 1)).as("n_b"),
        avg(when(col("arm") === 0, col("value"))).as("mean_a"),
        avg(when(col("arm") === 1, col("value"))).as("mean_b"),
        var_samp(when(col("arm") === 0, col("value"))).as("var_a"),
        var_samp(when(col("arm") === 1, col("value"))).as("var_b"))
    stats.select(col("event_type"), col("n_a"), col("n_b"),
        round(col("mean_a"), 4).as("mean_a"),
        round(col("mean_b"), 4).as("mean_b"),
        round((col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 4)
          .as("welch_t"))
      .orderBy(col("event_type"))
  }

  /** First-order event-type transition matrix: per-user consecutive
    * (prev_type → type) pairs under the deterministic (ts, event_id)
    * order, rolled up to transition counts and distinct-user reach — the
    * Markov-chain view of user behavior that powers next-action models
    * and anomalous-flow detection.
    *
    * Scale shape: ONE user_id exchange feeds the lag window (same
    * single-partitioning discipline as [[funnel]]/SCD2), then the rollup
    * shuffles only (prev, type) pairs — a stage-count², bounded-
    * cardinality key. The fact table is never shuffled twice.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    new graft.cube.Engine(spark, dir).table("events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(timeline()))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Weekly growth accounting: every active week decomposed into
    * new / retained / resurrected users, with churn derived as
    * last week's actives minus this week's retained — the standard
    * growth ledger (active(w) = new + retained + resurrected;
    * churned(w) = active(w−1) − retained(w)).
    *
    * Scale shape: the fact collapses to distinct (user, week) — the only
    * pass over raw events; one self-join shifted by 7 days and one
    * first-week frame classify every user-week, and the churn column is
    * a lag window over the tiny weekly rollup, not another pass.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    val uw = events.select(col("user_id"),
      ntzBucket("week", col("ts")).as("week"))
      .distinct()
    val firstW = uw.groupBy(col("user_id")).agg(min(col("week")).as("first_week"))
    val prev = uw.select(col("user_id"),
      (col("week") + expr("INTERVAL 7 DAYS")).as("week"),
      lit(true).as("__prev"))
    val classified = uw
      .join(firstW, "user_id")
      .join(prev, Seq("user_id", "week"), "left")
      .groupBy(col("week"))
      .agg(count(lit(1)).as("active"),
        count(when(col("first_week") === col("week"), lit(1))).as("new_users"),
        count(when(col("__prev").isNotNull, lit(1))).as("retained"),
        count(when(col("__prev").isNull && col("first_week") < col("week"),
          lit(1))).as("resurrected"))
    val w = Window.orderBy(col("week"))
    classified
      .withColumn("churned",
        coalesce(lag(col("active"), 1).over(w) - col("retained"), lit(0L)))
      .orderBy(col("week"))
  }

  /** Behavioral drift matrix: each user's DOMINANT event type in the
    * first vs second half of the window (max_by over a (count, type)
    * struct — deterministic tie-break, the q158 argmax-as-aggregate
    * shape twice), cross-tabulated. Off-diagonal mass = users whose
    * primary behavior changed — the engagement-mix drift monitor.
    */
  def behaviorSwitchers(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    def dominant(df: org.apache.spark.sql.DataFrame, out: String) =
      df.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(max_by(col("event_type"), struct(col("n"), col("event_type")))
          .as(out))
    val (before, after) = Merge.splitAtCutoff(events)
    dominant(before, "dominant_before").join(dominant(after, "dominant_after"), "user_id")
      .groupBy(col("dominant_before"), col("dominant_after"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("dominant_before"), col("dominant_after"))
  }

  /** Cohort lifetime value: users grouped by first-active day, purchase
    * revenue accumulated by cohort age — [[cohortRetention]]'s value
    * twin, the "how fast does a cohort pay back?" curve. Cumulative
    * revenue is a running sum over PRE-ROUNDED per-age revenue (the
    * q164/q74 grid-point convention), and cohort size ships alongside
    * instead of dividing it in — a per-user LTV divide by an arbitrary
    * cohort size is exactly the rounding trap the verify notes document,
    * so the ratio is left to the reader.
    *
    * Scale shape: one aggregation pins each user's cohort day (map-side
    * combined), the purchase stream joins that per-user frame (AQE
    * broadcasts the smaller side), and the cumulative window runs per
    * cohort over at most age-span rows.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = new graft.cube.Engine(spark, dir).table("events")
      .select(col("user_id"), col("event_type"), col("value"),
        ntzBucket("day", col("ts")).as("day"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("age_days"))
      .agg(round(sum(col("value")), 2).as("revenue"))
    val wCum = Window.partitionBy(col("cohort_day")).orderBy(col("age_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum_revenue", round(sum(col("revenue")).over(wCum), 2))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("age_days"), col("cohort_users"),
        col("revenue"), col("cum_revenue"))
      .orderBy(col("cohort_day"), col("age_days"))
  }

  /** Single change-point detection on the daily value series: the split
    * day maximizing |mean(before) − mean(after)| — the binary-segmentation
    * primitive behind "when did the metric regime shift?". Means derive
    * from ONE pair of running sums over the pre-rounded daily series
    * (q164's convention), so the scan is O(days) — no per-candidate
    * rescans — and both engines walk identical doubles in identical
    * order. Emits the best split with both segment means.
    */
  def changePoint(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    // Daily totals as exact BIGINT cents (the q300 discipline): integer
    // addends make every partial sum independent of partition grouping,
    // which is what lets the running sums ride the DISTRIBUTED two-level
    // prefix sum (Ranks.globalPrefixSum) instead of a single-partition
    // global window — the oracle sums the same integers, so the match is
    // exact, not ulp-lucky.
    val daily = events
      .groupBy(ntzBucket("day", col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("total"))
      .withColumn("cents", cents(col("total")))
    val ranked = Ranks.globalRowNumber(daily, Seq(col("day")), "i", Some("n"))
    val cum = Ranks.globalPrefixSum(ranked, Seq(col("day")), "cents", "cum_cents")
    val tot = daily.agg(sum(col("cents")).as("tot_cents"))
    cum.crossJoin(broadcast(tot))
      // a split needs both sides non-empty: candidate = last day BEFORE
      // the break, excluded for the final day
      .filter(col("i") < col("n"))
      .withColumn("mean_before", col("cum_cents") / lit(100.0) / col("i"))
      .withColumn("mean_after",
        (col("tot_cents") - col("cum_cents")) / lit(100.0) /
          (col("n") - col("i")))
      .select(col("day").as("split_after_day"),
        round(col("mean_before"), 6).as("mean_before"),
        round(col("mean_after"), 6).as("mean_after"),
        round(abs(col("mean_before") - col("mean_after")), 6).as("shift"))
      .orderBy(col("shift").desc, col("split_after_day"))
      .limit(1)
  }

  /** [[funnel]] segmented by acquisition channel — the user's FIRST
    * event type, the standard "which front door converts?" cut. The
    * channel (an ordered `first` over (ts, event_id)) and the strict
    * stage times (unordered conditional `min`s) are windows over the
    * SAME user partitioning, so Catalyst still plans one exchange for
    * the whole per-user stage; the rollup then shuffles only
    * (channel, 3-counters) rows.
    */
  def funnelByChannel(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = timeline()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val staged = funnelStages(new graft.cube.Engine(spark, dir).table("events")
        .withColumn("channel", first(col("event_type")).over(wOrd)))
      .groupBy(col("user_id"))
      .agg(max(col("channel")).as("channel"), max(col("t1")).as("t1"),
        max(col("t2")).as("t2"), max(col("t3")).as("t3"))
    staged.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_users"), count(col("t1")).as("viewed"),
        count(col("t2")).as("clicked"), count(col("t3")).as("converted"))
      .orderBy(col("channel"))
  }

  /** Trailing-window anomaly flags on the daily value series: a day is
    * anomalous when its total deviates more than `sigmas` (2) sample standard
    * deviations from the trailing 28-day mean (window INCLUDES the
    * current day — the usual monitoring convention, and it keeps the
    * first day well-defined). The ops-dashboard "did ingestion break
    * today?" probe.
    *
    * Scale shape: the fact collapses to one row per day FIRST (map-side
    * combined sum), so the rolling window runs over the tiny daily frame
    * — a RANGE frame on an integer day number, one partition-less window
    * over ~years-of-days rows, never over raw events. (A multi-tenant
    * variant partitions the window by tenant and stays fully parallel.)
    */
  def dailyAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val sigmas = 2.0
    val events = new graft.cube.Engine(spark, dir).table("events")
    val daily = events
      .groupBy(ntzBucket("day", col("ts")).as("day"))
      // rounded BEFORE the window (q74's convention): rolling stats run
      // on exact 2dp values, so engines' partial-sum order can't leak
      // ulp drift into the windowed mean/std or the flag comparison
      .agg(round(sum(col("value")), 2).as("total"))
      .withColumn("day_num",
        datediff(col("day").cast("date"), lit("1970-01-01").cast("date"))
          .cast(LongType))
    val w = Window.orderBy(col("day_num")).rangeBetween(-27, 0)
    daily
      .withColumn("mean28", avg(col("total")).over(w))
      .withColumn("std28", stddev_samp(col("total")).over(w))
      // 6dp, not 4: the early ramp divides an exact 2dp sum by n in
      // {1,2,4,8,16}, whose quotient is an exact <=6-digit decimal that
      // can SIT on a 4dp half-grid point (engines' half-up vs
      // scaled-double rounding then diverge — seen live at n=8); at 6dp
      // the exact value is strictly inside a cell, so an ulp of window
      // summation drift cannot flip the rounding
      .select(col("day"), col("total"),
        round(col("mean28"), 6).as("mean28"),
        count(lit(1)).over(w).as("n_days_in_window"),
        (col("std28").isNotNull &&
          abs(col("total") - col("mean28")) > lit(sigmas) * col("std28"))
          .as("is_anomaly"))
      .orderBy(col("day"))
  }

  /** Time-to-convert distribution for the strict [[funnel]]: per
    * converting user, minutes from the earliest view to the earliest
    * qualifying purchase (same chained-window stage times as q72, so
    * "qualifying" means strictly view -> click -> purchase ordered), then
    * the population's p50/p90 and mean. Latency is integer micros
    * arithmetic (`div` on both engines — cast conventions differ on
    * double divides); the percentile interpolation runs on those exact
    * longs.
    */
  def funnelTiming(spark: SparkSession, dir: String): DataFrame = {
    val perUser = funnelStages(new graft.cube.Engine(spark, dir).table("events"))
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t3")).as("t3"))
      .filter(col("t3").isNotNull)
      .select(whole(elapsed(col("t1"), col("t3")), MicrosPerMinute).as("minutes"))
    perUser.agg(
      count(lit(1)).as("n_converted"),
      round(expr("percentile(minutes, 0.5)"), 4).as("p50_minutes"),
      round(expr("percentile(minutes, 0.9)"), 4).as("p90_minutes"),
      round(avg(col("minutes")), 4).as("mean_minutes"))
  }

  /** Last-touch attribution: each purchase is credited to the user's most
    * recent preceding NON-purchase event (its type = the channel) if it
    * happened within the horizon, else to 'none'. The naive shape is a
    * per-purchase lateral "latest touch before me" self-join — quadratic
    * in a hot user's history; here it is one window pass: an
    * ignore-nulls `last` over a (ts, type) struct carries the latest
    * touch forward, so the plan is one shuffle on user_id, one sort, and
    * a tiny channel rollup. Same single-partitioning discipline as
    * [[funnel]].
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = timeline().rowsBetween(Window.unboundedPreceding, -1)
    new graft.cube.Engine(spark, dir).table("events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("lt", last(
        when(col("event_type") =!= "purchase",
          struct(col("ts").as("t"), col("event_type").as("ch"))),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("lt").isNull ||
          col("lt.t") < col("ts") - expr(s"INTERVAL $AttributionHorizonDays DAYS"),
          lit("none")).otherwise(col("lt.ch")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 2).as("attributed_value"))
      .orderBy(col("channel"))
  }

  /** Trailing 7-day active users (the product-analytics WAU curve): for
    * every calendar day, the count of distinct users with >=1 event in
    * the 7-day window ENDING that day. Windowed COUNT(DISTINCT) does not
    * exist as a window function (in Spark or anywhere — distinct state
    * is not frame-shrinkable), and the range-self-join formulation
    * re-scans the fact per day; instead each (user, active-day) pair is
    * EXPANDED to the 7 window-days it contributes to, and a plain
    * two-level distinct aggregation does the rest.
    *
    * Scale shape: the fact first collapses to distinct (user, day) —
    * map-side combined, the only pass over raw events. The 7x expansion
    * then amplifies only that collapsed frame (bounded by users x days,
    * orders of magnitude below event count), and countDistinct plans as
    * the standard two-stage partial-distinct aggregate. No join, no
    * per-day rescan; cost is linear in user-days, independent of how hot
    * a user's event stream is.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    val userDays = events
      .select(col("user_id"),
        ntzBucket("day", col("ts")).as("day"))
      .distinct()
    userDays
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + expr("INTERVAL 6 DAYS"),
          expr("INTERVAL 1 DAY"))).as("win_day"))
      .groupBy(col("win_day"))
      .agg(countDistinct(col("user_id")).as("active_7d"))
      .orderBy(col("win_day"))
  }

  /** Cumulative reach curve: distinct users ever seen, by HOUR of first
    * appearance — the audience-saturation read (hourly, because this
    * fixture's daily-active population saturates day coverage in two
    * rows; the hour grain shows the actual ramp). Computed as one rollup
    * at user grain plus a distributed prefix sum ([[Ranks
    * .globalPrefixSum]]) over the hourly frame; the running-distinct
    * never runs on the fact, and no single-partition sort runs at all —
    * the hourly frame is calendar-bounded, but the same curve over an
    * unbounded grain (per-user, per-document firsts) reuses this exact
    * plan unchanged.
    */
  def cumulativeReach(spark: SparkSession, dir: String): DataFrame = {
    val firstHour = new graft.cube.Engine(spark, dir).table("events")
      .groupBy(col("user_id"))
      .agg(min(date_trunc("hour", col("ts")))
        .cast(org.apache.spark.sql.types.TimestampNTZType).as("hour"))
    Ranks.globalPrefixSum(
      firstHour.groupBy(col("hour")).agg(count(lit(1)).as("new_users")),
      Seq(col("hour")), "new_users", "cum_users")
      .orderBy(col("hour"))
  }

  /** Time-decayed engagement: per event type, the exponentially decayed
    * value mass at the corpus horizon (half-life 30 days) — the scoring
    * kernel recommendation freshness uses. The snapshot time is the max
    * event time (broadcast scalar, no wall clock); ages are exact
    * microseconds and only the decay kernel is floating point.
    */
  def decayedEngagement(spark: SparkSession, dir: String): DataFrame = {
    val halfLifeDays = 30.0
    val ev = new graft.cube.Engine(spark, dir).table("events")
    val horizon = ev.agg(max(micros(col("ts"))).as("h"))
    ev.crossJoin(broadcast(horizon))
      .withColumn("age_days",
        (col("h") - micros(col("ts"))).cast("double") / lit(MicrosPerDay.toDouble))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") *
          pow(lit(0.5), col("age_days") / lit(halfLifeDays))), 6)
          .as("decayed_value"),
        round(sum(col("value")), 2).as("raw_value"))
      .orderBy(col("event_type"))
  }

  /** Audience overlap matrix: Jaccard similarity of user sets between
    * every pair of event types — "do viewers also purchase". The user
    * sets reduce to (type, user) distinct pairs once; pair intersections
    * come from a self-join on user (each user contributes its type-pair
    * cross, bounded by types²), and the union sizes are closed-form from
    * exact counts.
    */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val tu = new graft.cube.Engine(spark, dir).table("events")
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("sz"))
    val inter = tu.join(tu.select(col("event_type").as("type_b"),
        col("user_id")), "user_id")
      .filter(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("sz").as("sz_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("sz").as("sz_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_both"),
        round(col("n_both").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** January activity bitmasks: each user's active days packed into one
    * BIGINT (`bit_or(1 << day_offset)`), then the distribution of
    * active-day counts via `bit_count` — the bitmap-index form of
    * engagement profiling (a 30-day presence fits one word; set algebra
    * on masks replaces joins on (user, day) pairs at any scale). Shift
    * and popcount are exact integer ops on both engines.
    */
  def activityBitmask(spark: SparkSession, dir: String): DataFrame = {
    val masks = new graft.cube.Engine(spark, dir).table("events")
      .filter(col("ts") >= lit("2024-01-01").cast("timestamp_ntz") &&
        col("ts") < lit("2024-02-01").cast("timestamp_ntz"))
      .select(col("user_id"),
        datediff(date_trunc("day", col("ts")),
          lit("2024-01-01").cast("timestamp_ntz")).as("off"))
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT), off)").as("m"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(m)").as("mask"))
    masks.groupBy(bit_count(col("mask")).as("n_active_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_active_days"))
  }

  /** Burst-collapse debounce report: within each (user, event_type)
    * stream, an event survives when it opens a burst — its predecessor
    * is absent or at least [[DebounceGapSeconds]] older. Survivor count equals
    * burst count, so the per-type drop rate is the duplicate-burst
    * pressure a throttling ingest stage would remove. One lag window
    * per (user, type) key (event_id tiebreaks equal timestamps so the
    * lag chain is deterministic), exact microsecond arithmetic, bounded
    * per-type rollup.
    */
  def debounceReport(spark: SparkSession, dir: String): DataFrame =
    dropRates(new graft.cube.Engine(spark, dir).table("events")
      .withColumn("prev", lag(col("ts"), 1).over(timeline("event_type")))
      .withColumn("kept", when(col("prev").isNull ||
        elapsed(col("prev"), col("ts")) >= DebounceGapSeconds * MicrosPerSecond, 1L)
        .otherwise(0L)))

  /** Two-sample Kolmogorov–Smirnov drift audit: for every event type,
    * the KS statistic between its `value` distribution and the pooled
    * rest of the traffic — sup over the ECDF gap. The distribution-shape
    * complement to the PSI report (q168): PSI needs a binning choice to
    * interpret, KS is the assumption-free "did this segment's value
    * distribution move" gate.
    *
    * Scale shape: values are first quantized onto a fixed 0.1-wide grid
    * (the statistic is then EXACT for the quantized distributions, and
    * the oracle replicates the grid), so every downstream frame is
    * bounded by #bins·#types, not events. The cumulative sums run in
    * per-type window partitions over that dense zero-filled grid — no
    * global single-partition window, no raw-event shuffle beyond the
    * first groupBy.
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame =
    ksDriftOf(new graft.cube.Engine(spark, dir).table("events"))

  /** df-based core of [[ksDrift]] — needs (event_type, value). */
  def ksDriftOf(events: DataFrame): DataFrame = {
    val counts = events
      .select(col("event_type"),
        expr("CAST(floor(value * 10) AS BIGINT)").as("bin"))
      .groupBy(col("bin"), col("event_type")).agg(count(lit(1)).as("cnt"))
    val perBin = counts.groupBy(col("bin")).agg(sum(col("cnt")).as("tot"))
    // dense (bin × type) grid, zero-filled: a bin where a type is absent
    // still moves the REST's ECDF, so the sup must be evaluated there
    val dense = perBin
      .crossJoin(counts.select(col("event_type")).distinct())
      .join(counts, Seq("bin", "event_type"), "left")
      .na.fill(0L, Seq("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wType = Window.partitionBy(col("event_type"))
    dense
      .withColumn("cum_t", sum(col("cnt")).over(wCum))
      .withColumn("cum_all", sum(col("tot")).over(wCum))
      .withColumn("n_t", sum(col("cnt")).over(wType))
      .withColumn("n_all", sum(col("tot")).over(wType))
      // degenerate single-type table: the "rest" sample is empty and the
      // rest-ECDF undefined — emit gap 0 (no drift measurable) instead of
      // a 0/0 NaN whose rendering is engine-specific
      .withColumn("gap", when(col("n_all") > col("n_t"), abs(
        col("cum_t").cast("double") / col("n_t").cast("double") -
          (col("cum_all") - col("cum_t")).cast("double") /
            (col("n_all") - col("n_t")).cast("double")))
        .otherwise(lit(0.0)))
      .groupBy(col("event_type"))
      .agg(max(col("n_t")).as("n_events"),
        round(max(col("gap")), 6).as("ks_stat"))
      .orderBy(col("event_type"))
  }

  /** Cross-correlation function between the purchase and click daily
    * series at lags −3..+3 days: does click volume LEAD purchases (the
    * marketing-latency question), and by how many days? Pearson over the
    * lag-aligned day pairs, computed from exact integer power sums (the
    * q196 portability discipline — the only float op is the final
    * division). The raw table collapses to ≤ #days rows per series
    * before any lag work, so the lag fan-out (7×) is over the tiny daily
    * frame, never events.
    */
  def eventCcf(spark: SparkSession, dir: String): DataFrame = {
    val maxLag = 3
    val daily = new graft.cube.Engine(spark, dir).table("events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val a = daily.filter(col("event_type") === "purchase")
      .select(col("day"), col("cnt").as("a"))
    val b = daily.filter(col("event_type") === "click")
      .select(col("day").as("bday"), col("cnt").as("b"))
    val lags = spark.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").cast("int").as("lag_days"))
    a.crossJoin(broadcast(lags))
      .join(b, expr("bday = date_add(day, lag_days)"))
      .groupBy(col("lag_days"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("a")).as("sx"), sum(col("b")).as("sy"),
        sum(col("a") * col("b")).as("sxy"),
        sum(col("a") * col("a")).as("sxx"),
        sum(col("b") * col("b")).as("syy"))
      .select(col("lag_days"), col("n_days"),
        round((col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          sqrt(((col("n_days") * col("sxx") - col("sx") * col("sx")) *
            (col("n_days") * col("syy") - col("sy") * col("sy")))
            .cast("double")), 6).as("ccf"))
      .orderBy(col("lag_days"))
  }

  /** Hill tail-index estimate of the user activity distribution:
    * `α̂ = 1 + n_tail / Σ ln(d_i/d_min)` over users with at least
    * `d_min` events — the "is engagement power-law and how heavy"
    * number that decides whether per-user state needs skew handling
    * (α ≤ 2 means unbounded variance: salt the hot users). One
    * count-rollup then one scalar aggregation; d_min is a fixed,
    * oracle-replicated threshold, and every ln argument is ≥ 1.
    */
  def activityTailIndex(spark: SparkSession, dir: String): DataFrame = {
    val dMin = 16L
    new graft.cube.Engine(spark, dir).table("events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("d") >= dMin, 1L).otherwise(0L)).as("n_tail"),
        sum(when(col("d") >= dMin,
          log(col("d").cast("double") / dMin.toDouble))).as("lnsum"))
      .select(col("n_users"), col("n_tail"), lit(dMin).as("d_min"),
        round(lit(1.0) + col("n_tail").cast("double") / col("lnsum"), 6)
          .as("hill_alpha"))
  }

  /** User specialization census: users grouped by how many distinct
    * event types they touch, with the mean Shannon entropy of their
    * type mix in each group — "are our heavy users generalists or
    * single-surface specialists". Entropy terms use the same ln both
    * engines expose; p > 0 always (a (user, type) row exists only with
    * count ≥ 1), so the ln(0) boundary cannot occur. Two bounded
    * rollups over the (user, type) frame; the census groups by an
    * integer key.
    */
  def userSpecialization(spark: SparkSession, dir: String): DataFrame = {
    val perUserType = new graft.cube.Engine(spark, dir).table("events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val perUser = perUserType.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_types"), sum(col("n")).as("tot"),
        sum(col("n").cast("double") *
          log(col("n").cast("double"))).as("nlogn"))
      // H = ln(tot) − Σ n·ln(n)/tot  (algebraic form of −Σ p·ln p —
      // one pass, no second join for p)
      .withColumn("h", log(col("tot").cast("double")) -
        col("nlogn") / col("tot").cast("double"))
    perUser.groupBy(col("n_types"))
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("h")), 6).as("mean_entropy"))
      .orderBy(col("n_types"))
  }

  /** The lag-form sessionization q272, q289 and q294 share: along each
    * user's [[timeline]], `prev` is the previous event's ts, `new_s`
    * flags an event that opens a session (first event, or more than
    * [[SessionGap]] after `prev`), and the running sum of `new_s` is the
    * session id `sid`. Needs (user_id, ts, event_id).
    */
  private def sessionIds(events: DataFrame): DataFrame = {
    val wu = timeline()
    events
      .withColumn("prev", lag(col("ts"), 1).over(wu))
      .withColumn("new_s", when(col("prev").isNull ||
        col("ts") > col("prev") + expr(s"INTERVAL $SessionGap"), 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** The `session_window` form of the same sessions, named `w`, over the
    * TIMESTAMP column `time`: a session closes only when the next event
    * is more than [[SessionGap]] later, as in [[sessionIds]]. */
  private[graft] def sessionWindow(time: String): Column =
    session_window(col(time), SessionGap).as("w")

  /** Session value by entry channel: which first-touch surface opens the
    * sessions that go on to purchase — per entry event type: session
    * count, sessions containing a purchase, purchase-value total/mean.
    * Builds on the q272 sessionization (30-min gap); the entry pick and
    * the purchase rollup happen inside ONE session aggregation (struct
    * min + conditional sums — no second window pass).
    */
  def entryChannelValue(spark: SparkSession, dir: String): DataFrame = {
    val perSess = sessionIds(new graft.cube.Engine(spark, dir).table("events"))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)).as("purchase_value"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
    perSess.groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"),
        round(sum(col("purchase_value")), 2).as("total_purchase_value"),
        round(sum(col("purchase_value")) / count(lit(1)), 6)
          .as("value_per_session"))
      .orderBy(col("entry_type"))
  }

  /** Signup→first-purchase conversion curve: for each signup user, the
    * delay to their first subsequent purchase, bucketed into the
    * {≤1h, ≤6h, ≤1d, ≤7d, >7d, never} ladder — the activation funnel
    * timing every growth review asks for. First-signup/first-purchase
    * collapse to one row per user before any comparison (exact integer
    * micros; bucket edges are integer comparisons, no float time math).
    */
  def signupToPurchase(spark: SparkSession, dir: String): DataFrame = {
    val firsts = new graft.cube.Engine(spark, dir).table("events")
      .filter(col("event_type").isin("signup", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", micros(col("ts")))).as("su"),
        min(when(col("event_type") === "purchase", micros(col("ts")))).as("pu"))
      .filter(col("su").isNotNull)
    val h = MicrosPerHour
    val bucket = when(col("pu").isNull || col("pu") < col("su"), "6_never")
      .when(col("pu") - col("su") <= h, "1_within_1h")
      .when(col("pu") - col("su") <= 6 * h, "2_within_6h")
      .when(col("pu") - col("su") <= 24 * h, "3_within_1d")
      .when(col("pu") - col("su") <= 168 * h, "4_within_7d")
      .otherwise("5_over_7d")
    val total = firsts.agg(count(lit(1)).as("n_signups"))
    firsts.select(bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("n_users"),
        round(col("n_users").cast("double") /
          col("n_signups").cast("double"), 6).as("share"))
      .orderBy(col("bucket"))
  }

  /** Session-level event-type lift matrix: for each ordered type pair
    * (a→b), how much more likely is a session to contain `b` given it
    * contains `a` — `P(b|a)/P(b)` — the session-association complement
    * of the order/part market basket (q184). Sessions are the 30-minute
    * q176 definition; a session collapses to its distinct type set
    * before any pair work, so the pair fanout is at most #types² per
    * session (bounded 5×5), never event-sized. Diagonal excluded (lift
    * of a type with itself is trivially 1/P(a)-ish and noise).
    *
    * Scale shape (the q184 grouped-pair discipline): the old spelling
    * instantiated the lag + running-sum sessionization window FIVE
    * times in the physical plan (the a/b self-join sides, perType,
    * nSess) — ReusedExchange dedupes only the user_id exchange, the
    * Window computation itself re-ran per branch (the q277 lesson). One
    * grouped `collect_set` per (user, sid) now runs the window ONCE,
    * dedupes in the same aggregate (the old separate `.distinct()`'s
    * exchange disappears — the groupBy runs on the window's user_id
    * partitioning, which already clusters (user_id, sid)), and
    * assembles the bounded type-set array; the session-grain frame is
    * staged once and nSess, perType and the in-row ordered-pair
    * emission all read the checkpointed blocks. Unlike q184's catalog²
    * pair keys, the pair key space here is ≤ #types² (≤ 25), so the
    * map-side partial aggregate collapses the explode before the
    * exchange and no width forecast is needed.
    */
  def sessionTypeLift(spark: SparkSession, dir: String): DataFrame = {
    val sess = Scratch.staged(
      sessionIds(new graft.cube.Engine(spark, dir).table("events"))
        .groupBy(col("user_id"), col("sid"))
        .agg(sort_array(collect_set(col("event_type"))).as("types")))
    val nSess = sess.agg(count(lit(1)).as("n_sessions"))
    val perType = sess.select(explode(col("types")).as("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_t"))
    // `types` is distinct per session, so pairing each element with
    // every OTHER element enumerates exactly the ordered a≠b pairs the
    // old self-join produced (one row per session per pair, diagonal
    // excluded). Interpreted HOF lambdas, but over ≤ #types-element
    // arrays — the event-grain window it replaces ran four extra times.
    sess.select(explode(expr(
        """flatten(transform(types, x ->
          |  transform(filter(types, y -> y != x),
          |    y -> named_struct('type_a', x, 'type_b', y))))"""
          .stripMargin)).as("pr"))
      .select(col("pr.type_a").as("type_a"), col("pr.type_b").as("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nSess))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        round((col("n_ab").cast("double") / col("n_a").cast("double")) /
          (col("n_b").cast("double") / col("n_sessions").cast("double")),
          6).as("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Stationary distribution of the event-type Markov chain: where does
    * a user's behavior settle if the observed transition structure
    * (q98's per-user consecutive pairs) keeps running — the long-run
    * attention share per surface. Power iteration from uniform, a FIXED
    * 12 steps (the chain is a dense stochastic matrix over ≤ #types
    * states; contraction makes 12 ample, and a fixed count is
    * reproducible where a convergence test is not — the oracle unrolls
    * the same 12 steps as CTEs, the q90 discipline).
    *
    * Scale shape: only the transition-count rollup touches events. The
    * counts frame is bounded by the event-type vocabulary (≤ #types²
    * rows of exact BIGINT counts) — model-state-sized by construction,
    * like the k-means centroids or the q301 CMS key list — so the
    * 12-step iteration is driver arithmetic over a require-guarded
    * collect, not 12 scheduled broadcast + shuffle rounds: the old
    * spelling paid 12 sequential tiny stages (plus a staging barrier
    * and a separate distinct-count job) whose per-stage fixed cost
    * dwarfed the ≤ #types²-element math at every scale. The fold
    * replicates the distributed plan's arithmetic exactly: p = cnt/tot
    * (same exact-integer division), r₀ = 1/|distinct cur|, and step k
    * sums r·p grouped by nxt — the sum order (cur-sorted) differs from
    * a partition order only by double ulps, verified hash-identical
    * against the independently-summed DuckDB oracle at every fixture
    * SF.
    */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    val iters = 12
    val trans = new graft.cube.Engine(spark, dir).table("events")
      .withColumn("nxt", lead(col("event_type"), 1).over(timeline()))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("cnt"))
    val cells = trans.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    require(cells.length <= 65536,
      s"markovStationary: transition matrix must stay model-state-sized " +
        s"(got ${cells.length} cells — an event-type vocabulary this " +
        "large needs the distributed iteration back)")
    val tot = cells.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._3).sum }
    val p = cells.map { case (c, nx, n) => (c, nx, n.toDouble / tot(c).toDouble) }
    val states = p.map(_._1).distinct
    var r: Map[String, Double] =
      states.map(_ -> 1.0 / states.length.toDouble).toMap
    for (_ <- 1 to iters) {
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      p.foreach { case (c, nx, pv) =>
        r.get(c).foreach(pr => acc(nx) = acc.getOrElse(nx, 0.0) + pr * pv)
      }
      r = acc.toMap
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("prob",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val local = spark.createDataFrame(
      java.util.Arrays.asList(r.toSeq.sortBy(_._1).map { case (s, pr) =>
        org.apache.spark.sql.Row(s, pr): org.apache.spark.sql.Row }: _*),
      schema)
    local.select(col("event_type"),
        round(col("prob"), 6).as("stationary_prob"))
      .orderBy(col("event_type"))
  }

  /** Inter-arrival burstiness per event type: the Goh–Barabási
    * B = (σ−μ)/(σ+μ) over the gaps between consecutive same-type events
    * of each user (B→−1 periodic, 0 Poisson, →1 bursty) — the statistic
    * that decides whether rate limits / watermark slack can assume
    * Poisson arrivals. Gaps are exact integer SECONDS (micros div 10⁶)
    * so the power sums are BIGINT-exact and partial-agg order can't
    * perturb them (squares stay < 2⁶³ through ~sf100; past that swap in
    * a Welford-style double merge and drop hash parity). One user-keyed
    * window pass, one bounded rollup.
    */
  def interArrivalBurstiness(spark: SparkSession, dir: String): DataFrame =
    interArrivalBurstinessOf(
      new graft.cube.Engine(spark, dir).table("events"))

  /** df-based core of [[interArrivalBurstiness]] — needs
    * (user_id, ts, event_id, event_type).
    */
  def interArrivalBurstinessOf(events: DataFrame): DataFrame = {
    events
      .withColumn("prev", lag(col("ts"), 1).over(timeline("event_type")))
      .filter(col("prev").isNotNull)
      .withColumn("gap", whole(elapsed(col("prev"), col("ts")), MicrosPerSecond))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sx"),
        sum(col("gap") * col("gap")).as("sxx"))
      .withColumn("mu", col("sx").cast("double") / col("n_gaps"))
      .withColumn("sigma", sqrt(col("sxx").cast("double") / col("n_gaps") -
        col("mu") * col("mu")))
      .select(col("event_type"), col("n_gaps"),
        round(col("mu"), 6).as("mean_gap_s"),
        round((col("sigma") - col("mu")) / (col("sigma") + col("mu")), 6)
          .as("burstiness_b"))
      .orderBy(col("event_type"))
  }

  /** First-touch vs last-touch attribution, side by side per channel:
    * for each purchase, the earliest and latest non-purchase event
    * inside the 7-day lookback window (a RANGE frame over event-time
    * micros — the moving bound a rows-frame cannot express), then one
    * rollup per model full-outer-joined on channel. The model-delta
    * table marketing reads before picking an attribution policy; the
    * q161 single-model operator generalized. Purchases with no touch in
    * the window attribute to 'none'. The struct min/max tiebreak is
    * (ts, event_id) — unique, so portable.
    */
  def attributionCompare(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(micros(col("ts")))
      .rangeBetween(-AttributionHorizonDays * MicrosPerDay, -1)
    val touch = when(col("event_type") =!= "purchase",
      struct(col("ts"), col("event_id"), col("event_type")))
    // each purchase contributes one row per model; a single rollup then
    // splits the models with conditional aggregates — ONE window pass,
    // one shuffle, no two-branch plan re-running the RANGE frames and no
    // full-outer stitch (plan-asserted: one user_id exchange)
    new graft.cube.Engine(spark, dir).table("events")
      .withColumn("ft", min(touch).over(w))
      .withColumn("lt", max(touch).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("value"), explode(array(
        struct(lit("first").as("model"),
          coalesce(col("ft.event_type"), lit("none")).as("channel")),
        struct(lit("last").as("model"),
          coalesce(col("lt.event_type"), lit("none")).as("channel"))))
        .as("x"))
      .select(col("x.model").as("model"), col("x.channel").as("channel"),
        col("value"))
      .groupBy(col("channel"))
      .agg(
        sum(when(col("model") === "first", 1L).otherwise(0L)).as("n_first"),
        round(sum(when(col("model") === "first", col("value"))
          .otherwise(0.0)), 2).as("value_first"),
        sum(when(col("model") === "last", 1L).otherwise(0L)).as("n_last"),
        round(sum(when(col("model") === "last", col("value"))
          .otherwise(0.0)), 2).as("value_last"))
      .orderBy(col("channel"))
  }

  /** Session entry/exit matrix: sessionize on a 30-minute inactivity gap
    * (the q176 session definition, same flagging SQL), take each
    * session's first and last event type, and report the
    * (entry, exit) contingency with its share of all sessions — the
    * "how do visits start and end" table every funnel review opens with.
    * One user-keyed shuffle; the entry/exit pick is a struct-ordered
    * min/max inside the session rollup (no second window pass), ties
    * impossible because event_id is unique within the ordering key.
    */
  def sessionEntryExit(spark: SparkSession, dir: String): DataFrame =
    sessionEntryExitOf(new graft.cube.Engine(spark, dir).table("events"))

  /** df-based core of [[sessionEntryExit]] — needs
    * (user_id, ts, event_id, event_type).
    */
  def sessionEntryExitOf(events: DataFrame): DataFrame = {
    val perSess = sessionIds(events)
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"))
    val total = perSess.agg(count(lit(1)).as("n_total"))
    perSess.groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"))
      .crossJoin(broadcast(total))
      .select(col("entry_type"), col("exit_type"), col("n_sessions"),
        round(col("n_sessions").cast("double") /
          col("n_total").cast("double"), 6).as("session_share"))
      .orderBy(col("entry_type"), col("exit_type"))
  }

  /** Transition dwell-time matrix: per (previous event type → event
    * type) transition, how LONG users sit between the two — count,
    * mean and median gap seconds. The timing companion of q98's
    * transition COUNT matrix (which step users stall at, not just which
    * step they take; the UX/funnel-latency read). Gaps are exact
    * integer epoch-second deltas from a lag window PARTITIONED by user
    * (never a global sort); the matrix rollup groups ≤ #types² cells.
    * Mean divides exact BIGINT sums once; median is the engine-shared
    * exact interpolated percentile (the q45 contract).
    */
  def transitionDwell(spark: SparkSession, dir: String): DataFrame = {
    val w = timeline()
    new graft.cube.Engine(spark, dir).table("events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .withColumn("gap_s", whole(elapsed(col("prev_ts"), col("ts")), MicrosPerSecond))
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("gap_s")).as("gap_sum"),
        round(expr("percentile(gap_s, 0.5)"), 4).as("median_gap_s"))
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("gap_sum").cast("double") / col("n"), 6)
          .as("mean_gap_s"),
        col("median_gap_s"))
      .orderBy(col("prev_type"), col("next_type"))
  }
}
