package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AsOfJoin

import graft.core.Tables
import graft.streaming.EventsStreaming
import Catalog._

/** Time-window semantics over the `events` stream table, run in BATCH mode
  * so the DuckDB oracle can check them — the oracle strategy SURVEY.md §2B
  * declares for the streaming rows.
  *
  * Shared-code contract: the window, session and stream-join rows
  * (`q_events_tumbling`, `q_events_sliding`, `q_events_session`,
  * `q_events_trending`, `q_events_view_click`,
  * `q_events_view_click_outer`) build no aggregate or join of their own:
  * each calls its [[graft.streaming.EventsStreaming]] transform on the
  * batch `events` table, so the oracle checks the code Structured
  * Streaming runs. The five native as-of rows share one backward and one
  * forward base ([[backwardAsOf]], [[forwardAsOf]]).
  *
  * Scale notes: tumbling/sliding aggs shuffle once on (window, key) with
  * map-side partial aggregation; session windows shuffle once on user_id.
  * Watermark-driven state eviction (streaming side) keeps state bounded to
  * the gap/window horizon.
  */
object Events extends QueryGroup {

  /** Tumbling 5-minute count and value sum per event type. */
  private def tumbling(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    EventsStreaming.tumblingCounts(Tables.events(s, d))
      .orderBy($"window_start", $"event_type")
  }

  /** Sliding 10-minute windows every 5 minutes (each event lands in 2). */
  private def sliding(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    EventsStreaming.slidingCounts(Tables.events(s, d))
      .orderBy($"window_start", $"event_type")
  }

  /** Per-user session windows with a 5-minute inactivity gap. */
  private def session(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    EventsStreaming.sessionCounts(Tables.events(s, d))
      .orderBy($"user_id", $"session_start")
  }

  /** View → click attribution counts per user, over the shared
    * stream-stream interval-join transform
    * ([[graft.streaming.EventsStreaming.viewClickJoin]]).
    * One shuffle on user_id for the join (both sides co-partition), one
    * partial-agg shuffle for the count. */
  private def viewClick(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    EventsStreaming.viewClickJoin(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_attributed"),
        countDistinct($"view_id").as("n_views_clicked"))
      .orderBy($"user_id")
  }

  /** Batch twin of the LEFT-OUTER stream-stream join
    * ([[graft.streaming.EventsStreaming.viewClickJoinOuter]]) — the
    * funnel shape: conversion AND abandonment from one join. The outer
    * side's null-padding horizon semantics are what this row pins
    * (n_abandoned counts views whose horizon closed with no click; in
    * streaming those rows only surface after the watermark passes
    * view_ts + horizon, which the StreamingSpec twin asserts). Same
    * join/agg shape as the inner twin: one user_id co-partitioned
    * shuffle, one partial-agg shuffle. */
  private def viewClickOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    EventsStreaming.viewClickJoinOuter(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(countDistinct($"view_id").as("n_views"),
        count($"click_id").as("n_attributed"),
        countDistinct(when($"click_id".isNotNull, $"view_id"))
          .as("n_views_clicked"))
      .select($"user_id", $"n_views", $"n_attributed", $"n_views_clicked",
        ($"n_views" - $"n_views_clicked").as("n_abandoned"))
      .orderBy($"user_id")
  }

  /** As-of (point-in-time) join: each click picks up the user's most
    * recent view at or before it — the feature-store lookup a training
    * pipeline does per example. Spark has no ASOF JOIN; a range join
    * explodes (every view within the horizon, then keep-latest). The
    * union+window shape instead tags both sides, sorts per user by
    * (ts, side) — views before clicks at equal ts, so "at or before" is
    * inclusive — and carries the last non-null view forward:
    * ONE shuffle on user_id, linear work, no pair explosion. At 100 TB
    * both sides co-partition on the same exchange; state per task is one
    * running value, not a buffered window.
    *
    * Tie rule (two views, same user+ts): the window also sorts by
    * view_value ascending, so `last` picks the max — same row DuckDB's
    * `ASOF LEFT JOIN` sees after its `max(value)` tie-collapse in the
    * oracle's `views` CTE. */
  private def asof(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts", lit(0).as("side"),
        $"value".as("view_value"), lit(null).cast("long").as("event_id"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(1).as("side"),
        lit(null).cast("double").as("view_value"), $"event_id")
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"side", $"view_value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(clicks)
      .withColumn("vv", last($"view_value", ignoreNulls = true).over(w))
      .withColumn("vts",
        last(when($"side" === 0, $"ts"), ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"event_id", $"user_id", $"ts",
        $"vts".as("view_ts"), $"vv".as("view_value"))
      .orderBy($"event_id")
  }

  /** The probe side of a native as-of join: one event type's rows. */
  private def ofType(ev: DataFrame, eventType: String): DataFrame =
    ev.filter(col("event_type") === eventType)
      .select(col("event_id"), col("user_id"), col("ts"))

  /** Views collapsed to max(value) per (user, ts), exactly like the
    * oracle's `views` CTE, so the operator's tie rule never fires.
    * Renamed to `(user, ts, value)` so two copies can meet in one plan. */
  private def latestViews(ev: DataFrame, user: String, ts: String,
      value: String): DataFrame =
    ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as(value))
      .select(col("user_id").as(user), col("ts").as(ts), col(value))

  /** Backward base of the native as-of rows: each click with the user's
    * most recent view at or before it (`view_ts`, `view_value`), through
    * the NATIVE [[org.apache.spark.sql.graft.AsOfJoinExec]] operator
    * (custom LogicalPlan + Strategy + SparkPlan, injected by
    * GraftExtensions) instead of the union+window rewrite above: both
    * sides co-partition and sort exactly like a sort-merge join, then one
    * forward merge pass with O(1) task state — no union padding, no
    * window buffer, no re-filter. */
  private def backwardAsOf(ev: DataFrame): DataFrame =
    AsOfJoin.asofJoin(ofType(ev, "click"),
      latestViews(ev, "v_user", "view_ts", "view_value"),
      Seq("user_id"), Seq("v_user"), "ts", "view_ts")

  /** Forward base: each view with the user's NEXT click at or after it
    * (`click_ts`, `click_id`) — the "time to next action" /
    * label-attribution shape (pandas merge_asof direction='forward').
    * Same co-partition + sort as the backward exec; the forward merge
    * carries zero buffered state (the lookahead row is the candidate).
    * Clicks at equal (user, ts) are pre-collapsed to the smallest
    * event_id, exactly like the oracle's CTE. */
  private def forwardAsOf(ev: DataFrame): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("event_id")).as("click_id"))
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("click_id"))
    AsOfJoin.asofJoin(ofType(ev, "view"), clicks, Seq("user_id"),
      Seq("c_user"), "ts", "click_ts", forward = true)
  }

  /** The point-in-time lookup of `q_join_asof` as [[backwardAsOf]]. Gated
    * against the SAME DuckDB `ASOF LEFT JOIN` oracle as `q_join_asof`, so
    * the two implementations are pinned equal. */
  private def asofNative(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    backwardAsOf(Tables.events(s, d))
      .select($"event_id", $"user_id", $"ts", $"view_ts", $"view_value")
      .orderBy($"event_id")
  }

  /** FORWARD as-of through the native operator: [[forwardAsOf]]. */
  private def asofForward(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    forwardAsOf(Tables.events(s, d))
      .select($"event_id", $"user_id", $"ts", $"click_ts", $"click_id")
      .orderBy($"event_id")
  }

  private val AsofTtlSec = 86400L // feature freshness horizon (24 h)

  /** TTL-bounded as-of join — the feature-store STALENESS rule
    * (pandas `merge_asof(tolerance=...)`, feature-TTL semantics): the
    * most recent view still joins each click, but only counts when it
    * is at most [[AsofTtlSec]] old; a staler match is a MISSING feature
    * (nulled), not a usable one. The backward as-of result makes the
    * post-filter exact — if the latest prior view is stale, every
    * earlier one is staler — so this is [[backwardAsOf]] plus one
    * row-local freshness predicate on int64 micros; no extra shuffle
    * over `q_join_asof_native`. The surfaced `fresh` bit keeps both
    * outcomes visible to the oracle. */
  private def asofTtl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    backwardAsOf(Tables.events(s, d))
      .withColumn("fresh",
        $"view_ts".isNotNull &&
          unix_micros($"ts") - unix_micros($"view_ts") <=
            AsofTtlSec * 1000000L)
      .select($"event_id", $"user_id", $"ts",
        when($"fresh", $"view_ts").as("view_ts"),
        when($"fresh", $"view_value").as("view_value"),
        $"fresh".cast("int").as("fresh"))
      .orderBy($"event_id")
  }

  private val AsofFwdTtlSec = 3600L // attribution horizon (1 h)

  /** Forward as-of with an attribution horizon — the label-attribution
    * twin of [[asofTtl]] (pandas `merge_asof(direction='forward',
    * tolerance=...)`): each view picks up the user's NEXT click, but
    * the conversion only counts when it lands within
    * [[AsofFwdTtlSec]] of the view; a later click is an UNATTRIBUTED
    * view (nulled), not a conversion. Forward symmetry of the backward
    * staleness argument makes the post-filter exact — if the next
    * click is beyond the horizon, every later one is further — so this
    * is [[forwardAsOf]] plus one row-local int64-micros predicate; no
    * extra shuffle over `q_join_asof_fwd`. The surfaced `attributed` bit
    * keeps both outcomes visible to the oracle. */
  private def asofTtlForward(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    forwardAsOf(Tables.events(s, d))
      .withColumn("attributed",
        $"click_ts".isNotNull &&
          unix_micros($"click_ts") - unix_micros($"ts") <=
            AsofFwdTtlSec * 1000000L)
      .select($"event_id", $"user_id", $"ts",
        when($"attributed", $"click_ts").as("click_ts"),
        when($"attributed", $"click_id").as("click_id"),
        $"attributed".cast("int").as("attributed"))
      .orderBy($"event_id")
  }

  /** NEAREST as-of — the last cell of the merge_asof direction matrix
    * (pandas `merge_asof(direction='nearest')`): each click picks the
    * view closest in time on EITHER side, ties to the backward (past)
    * candidate. Composed from the two native merge passes — the
    * backward [[org.apache.spark.sql.graft.AsOfJoinExec]] then the
    * forward one over its output — plus one row-local int64-micros
    * pick; no new operator code, and the second pass finds its left
    * side already partitioned by user and sorted by ts (the exec's
    * output ordering), so the compose adds no avoidable exchange. */
  private def asofNearest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val bwd = AsOfJoin.asofJoin(ofType(ev, "click"),
      latestViews(ev, "b_user", "bts", "bval"),
      Seq("user_id"), Seq("b_user"), "ts", "bts")
    val both = AsOfJoin.asofJoin(bwd, latestViews(ev, "f_user", "fts", "fval"),
      Seq("user_id"), Seq("f_user"), "ts", "fts", forward = true)
    val takeBwd = $"fts".isNull || ($"bts".isNotNull &&
      unix_micros($"ts") - unix_micros($"bts") <=
        unix_micros($"fts") - unix_micros($"ts"))
    both.select($"event_id", $"user_id", $"ts",
      when(takeBwd, $"bts").otherwise($"fts").as("view_ts"),
      when(takeBwd, $"bval").otherwise($"fval").as("view_value"),
      when($"bts".isNull && $"fts".isNull, lit(0))
        .otherwise(when(takeBwd, lit(-1)).otherwise(lit(1)))
        .as("direction"))
      .orderBy($"event_id")
  }

  /** Deterministic event dedup — the batch twin of the streaming
    * stateful dedup ([[graft.streaming.EventsStreaming]] /
    * dropDuplicatesWithinWatermark): keep the FIRST event per
    * (user_id, event_type, 5-minute tumbling window), first = smallest
    * (ts, event_id), so the keep-one choice is total-ordered and
    * oracle-checkable — unlike dropDuplicates' arbitrary winner
    * (q_dropdup_bykey, gated on its one-survivor-per-key contract
    * instead). The window bound is the
    * batch analogue of the stream's watermark horizon: state per key
    * never outlives one window. One user-keyed exchange feeds the
    * rank window. */
  private def eventsDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window
      .partitionBy($"user_id", $"event_type", $"wstart")
      .orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .withColumn("wstart", window($"ts", "5 minutes").getField("start"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_id", $"user_id", $"event_type", $"ts")
      .orderBy($"event_id")
  }

  /** Calendar resample + forward fill (gap filling) — the time-series
    * regularization step every metrics/feature pipeline runs before
    * modeling: each user's sparse daily activity becomes a dense series
    * over their own [first, last] active span, with missing days carrying
    * the last observed value forward and flagged as gaps.
    *
    * Plan shape: the daily aggregate and the per-user span both key on
    * user_id (the span side is a tiny 2-column relation), the calendar is
    * a row-local `sequence` explode of the span — never a driver loop or
    * a calendar cross join — and the fill is `last(ignoreNulls)` over the
    * running frame of the per-user window. Everything after the daily
    * rollup shuffles (user, day) pairs; the event payload never travels.
    * At 100 TB the fan-out is bounded by span days per key, and the
    * window state is one value — no unbounded buffering. */
  private def gapfill(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(dsum($"value").as("v"))
    val cal = daily
      .groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
    val w = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id", $"day",
        last($"v", ignoreNulls = true).over(w).as("value_ffill"),
        $"v".isNull.as("is_gap"))
      .orderBy($"user_id", $"day")
  }

  /** Trending top-3 event types per sliding window — the batch twin of
    * [[graft.streaming.EventsStreaming.slidingCounts]] +
    * [[graft.streaming.EventsStreaming.trendingRank]] (StreamingSpec pins
    * the stream side equals this on the same data). Window counts shuffle
    * once on (window, type); the rank window repartitions the tiny
    * (window, type, n) relation only. */
  private def trending(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    EventsStreaming.trendingRank(
      EventsStreaming.slidingCounts(Tables.events(s, d)), 3)
      .orderBy($"window_start", $"rnk")
  }

  /** Recency window for the EWMA fold — bounds per-user state. */
  private[queries] val EwmaLastK = 64

  /** Per-user EWMA recency feature (α = 1/4) over each user's last
    * [[EwmaLastK]] events — the catalog's sequential/recursive per-key
    * fold: r_t = (3·r_{t-1} + v_t) div 4, seeded with the oldest value in
    * the window. The fold is ORDER-DEPENDENT (no commutative-aggregate
    * rewrite exists), so it runs as an in-memory array fold per key:
    * rank-filter to the last K events (bounded state — the full history
    * would be an unbounded collect at stream scale), sort the K-array
    * ascending, fold with the `aggregate` HOF. Values are exact
    * centi-units (2-decimal contract) and the fold is integer floor
    * division on non-negative operands, so Spark `div` = DuckDB `//`
    * bit-exactly. One user_id exchange shared by the rank window and the
    * collect; only (user, ts, event_id, cents) quads move. */
  private def ewma(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vi = ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2))
      * 100).cast("long")
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", vi.as("vi"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)))
      .filter($"rn" <= EwmaLastK)
      .groupBy($"user_id")
      .agg(
        sort_array(collect_list(struct($"ts", $"event_id", $"vi"))).as("seq"),
        count(lit(1)).as("n_events"))
      .selectExpr("user_id", "n_events",
        "aggregate(slice(seq.vi, 2, size(seq) - 1), seq.vi[0]," +
          " (acc, x) -> (3*acc + x) div 4) AS ewma_fp")
      .orderBy($"user_id")
  }

  val queries: Map[String, Q] = Map(
    "q_events_ewma" -> ewma,
    "q_events_trending" -> trending,
    "q_events_gapfill" -> gapfill,
    "q_events_tumbling" -> tumbling,
    "q_events_sliding" -> sliding,
    "q_events_session" -> session,
    "q_events_view_click" -> viewClick,
    "q_events_view_click_outer" -> viewClickOuter,
    "q_events_dedup" -> eventsDedup,
    "q_join_asof" -> asof,
    "q_join_asof_native" -> asofNative,
    "q_join_asof_fwd" -> asofForward,
    "q_join_asof_ttl" -> asofTtl,
    "q_join_asof_ttl_fwd" -> asofTtlForward,
    "q_join_asof_nearest" -> asofNearest,
  )

  val oracle: Map[String, String] = Map(
    // list_reduce seeds with the list head = Spark's seq.vi[0] +
    // slice-from-2 aggregate; `//` = `div` on the non-negative operands.
    "q_events_ewma" ->
      s"""WITH ranked AS (
         |  SELECT user_id, ts, event_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vi,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events),
         |seq AS (
         |  SELECT user_id, COUNT(*) AS n_events,
         |    list(vi ORDER BY ts, event_id) AS vis
         |  FROM ranked WHERE rn <= $EwmaLastK GROUP BY user_id)
         |SELECT user_id, n_events,
         |  list_reduce(vis, (acc, x) -> (3*acc + x) // 4) AS ewma_fp
         |FROM seq ORDER BY user_id""".stripMargin,
    "q_events_gapfill" ->
      s"""WITH daily AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day,
         |    ${dsumSql("value")} AS v
         |  FROM events GROUP BY 1, 2),
         |span AS (
         |  SELECT user_id, min(day) AS d0, max(day) AS d1
         |  FROM daily GROUP BY 1),
         |cal AS (
         |  SELECT user_id,
         |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
         |      AS day
         |  FROM span),
         |j AS (
         |  SELECT cal.user_id, cal.day, daily.v
         |  FROM cal LEFT JOIN daily
         |    ON cal.user_id = daily.user_id AND cal.day = daily.day)
         |SELECT user_id, day,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS value_ffill,
         |  (v IS NULL) AS is_gap
         |FROM j ORDER BY user_id, day""".stripMargin,
    "q_events_dedup" ->
      """WITH r AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    row_number() OVER (
        |      PARTITION BY user_id, event_type,
        |        time_bucket(INTERVAL '5 minutes', ts)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q_events_tumbling" ->
      s"""SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
         |  event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_events_sliding" ->
      """WITH b AS (
        |  SELECT event_type,
        |    unnest([time_bucket(INTERVAL '5 minutes', ts),
        |            time_bucket(INTERVAL '5 minutes', ts)
        |              - INTERVAL '5 minutes']) AS window_start
        |  FROM events)
        |SELECT window_start, event_type, COUNT(*) AS n
        |FROM b GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_events_trending" ->
      """WITH b AS (
        |  SELECT event_type,
        |    unnest([time_bucket(INTERVAL '5 minutes', ts),
        |            time_bucket(INTERVAL '5 minutes', ts)
        |              - INTERVAL '5 minutes']) AS window_start
        |  FROM events),
        |c AS (
        |  SELECT window_start, event_type, COUNT(*) AS n
        |  FROM b GROUP BY 1, 2)
        |SELECT window_start, rnk, event_type, n FROM (
        |  SELECT *, row_number() OVER (PARTITION BY window_start
        |    ORDER BY n DESC, event_type) AS rnk
        |  FROM c) t
        |WHERE rnk <= 3 ORDER BY window_start, rnk""".stripMargin,
    "q_events_session" ->
      s"""WITH m AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
         |         THEN 1 ELSE 0 END AS ns
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |), g AS (
         |  SELECT user_id, ts, value,
         |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
         |                  ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m)
         |SELECT user_id, MIN(ts) AS session_start,
         |  MAX(ts) + INTERVAL '5 minutes' AS session_end,
         |  COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
         |FROM g GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,
    "q_events_view_click" ->
      """SELECT v.user_id, COUNT(*) AS n_attributed,
        |  COUNT(DISTINCT v.event_id) AS n_views_clicked
        |FROM events v JOIN events c
        |  ON c.user_id = v.user_id
        |  AND v.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL '10 minutes'
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    "q_events_view_click_outer" ->
      """SELECT v.user_id,
        |  COUNT(DISTINCT v.event_id) AS n_views,
        |  COUNT(c.event_id) AS n_attributed,
        |  COUNT(DISTINCT CASE WHEN c.event_id IS NOT NULL
        |                      THEN v.event_id END) AS n_views_clicked,
        |  COUNT(DISTINCT v.event_id)
        |    - COUNT(DISTINCT CASE WHEN c.event_id IS NOT NULL
        |                          THEN v.event_id END) AS n_abandoned
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        |  AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL '10 minutes'
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    "q_join_asof" -> asofOracleSql,
    // Same spec on purpose: the rewrite and the native operator are
    // pinned to the identical DuckDB ASOF LEFT JOIN result.
    "q_join_asof_native" -> asofOracleSql,
    // The backward ASOF result + the identical int64-micros freshness
    // predicate (epoch_us ↔ unix_micros, the house timestamp rule).
    "q_join_asof_ttl" ->
      s"""WITH views AS (
         |  SELECT user_id, ts, max(value) AS view_value
         |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
         |), clicks AS (
         |  SELECT event_id, user_id, ts FROM events
         |  WHERE event_type = 'click'
         |), j AS (
         |  SELECT c.event_id, c.user_id, c.ts,
         |    v.ts AS v_ts, v.view_value,
         |    v.ts IS NOT NULL AND
         |      epoch_us(c.ts) - epoch_us(v.ts) <= ${AsofTtlSec * 1000000L}
         |      AS fresh
         |  FROM clicks c ASOF LEFT JOIN views v
         |    ON c.user_id = v.user_id AND v.ts <= c.ts)
         |SELECT event_id, user_id, ts,
         |  CASE WHEN fresh THEN v_ts END AS view_ts,
         |  CASE WHEN fresh THEN view_value END AS view_value,
         |  CAST(fresh AS INT) AS fresh
         |FROM j ORDER BY event_id""".stripMargin,
    // Both ASOF directions joined back on the click id + the identical
    // int64-micros nearest pick (ties to backward), 0/-1/1 direction.
    "q_join_asof_nearest" ->
      """WITH views AS (
        |  SELECT user_id, ts, max(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
        |), clicks AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'
        |), b AS (
        |  SELECT c.event_id, c.user_id, c.ts,
        |    v.ts AS bts, v.view_value AS bval
        |  FROM clicks c ASOF LEFT JOIN views v
        |    ON c.user_id = v.user_id AND v.ts <= c.ts
        |), f AS (
        |  SELECT c.event_id, v.ts AS fts, v.view_value AS fval
        |  FROM clicks c ASOF LEFT JOIN views v
        |    ON c.user_id = v.user_id AND v.ts >= c.ts
        |), j AS (
        |  SELECT b.*, f.fts, f.fval,
        |    fts IS NULL OR (bts IS NOT NULL AND
        |      epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts))
        |      AS take_bwd
        |  FROM b JOIN f USING (event_id))
        |SELECT event_id, user_id, ts,
        |  CASE WHEN take_bwd THEN bts ELSE fts END AS view_ts,
        |  CASE WHEN take_bwd THEN bval ELSE fval END AS view_value,
        |  CASE WHEN bts IS NULL AND fts IS NULL THEN 0
        |       WHEN take_bwd THEN -1 ELSE 1 END AS direction
        |FROM j ORDER BY event_id""".stripMargin,
    // The forward ASOF result + the identical int64-micros attribution
    // predicate — forward twin of the q_join_asof_ttl gate.
    "q_join_asof_ttl_fwd" ->
      s"""WITH clicks AS (
         |  SELECT user_id, ts, min(event_id) AS click_id
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
         |), views AS (
         |  SELECT event_id, user_id, ts FROM events
         |  WHERE event_type = 'view'
         |), j AS (
         |  SELECT v.event_id, v.user_id, v.ts,
         |    c.ts AS c_ts, c.click_id,
         |    c.ts IS NOT NULL AND
         |      epoch_us(c.ts) - epoch_us(v.ts) <= ${AsofFwdTtlSec * 1000000L}
         |      AS attributed
         |  FROM views v ASOF LEFT JOIN clicks c
         |    ON v.user_id = c.user_id AND c.ts >= v.ts)
         |SELECT event_id, user_id, ts,
         |  CASE WHEN attributed THEN c_ts END AS click_ts,
         |  CASE WHEN attributed THEN click_id END AS click_id,
         |  CAST(attributed AS INT) AS attributed
         |FROM j ORDER BY event_id""".stripMargin,
    "q_join_asof_fwd" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, min(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), views AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
        |)
        |SELECT v.event_id, v.user_id, v.ts,
        |  c.ts AS click_ts, c.click_id
        |FROM views v ASOF LEFT JOIN clicks c
        |  ON v.user_id = c.user_id AND c.ts >= v.ts
        |ORDER BY v.event_id""".stripMargin,
  )

  private lazy val asofOracleSql =
    """WITH views AS (
      |  SELECT user_id, ts, max(value) AS view_value
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2
      |), clicks AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
      |)
      |SELECT c.event_id, c.user_id, c.ts,
      |  v.ts AS view_ts, v.view_value
      |FROM clicks c ASOF LEFT JOIN views v
      |  ON c.user_id = v.user_id AND v.ts <= c.ts
      |ORDER BY c.event_id""".stripMargin
}
