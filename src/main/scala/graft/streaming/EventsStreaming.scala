package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.pipelines.Populate
import graft.queries.Catalog.dsum

/** Structured-Streaming surface over event streams — SURVEY.md §2B streaming
  * rows. The reference's "stream" is a daily-batch file cadence
  * (`/root/reference/data-cleaner/cleaner.py:142-143` date-stamped
  * hand-offs); this package generalizes it to a continuous pipeline:
  * file/memory source → watermarked windowed aggregation / session windows /
  * stateful dedup / custom state → foreachBatch upsert sink.
  *
  * Shared-code contract: each DataFrame transform here is the ONE
  * implementation of its event-time concept, and the catalog rows in
  * [[graft.queries.Events]] call it on the batch `events` table, so the
  * DuckDB oracle checks the same code `readStream` runs:
  *  - [[tumblingCounts]], [[slidingCounts]], [[sessionCounts]]:
  *    `q_events_tumbling`, `q_events_sliding`, `q_events_session` (the
  *    row adds only its `orderBy`);
  *  - [[slidingCounts]] + [[trendingRank]]: `q_events_trending`;
  *  - [[viewClickJoin]], [[viewClickJoinOuter]]: `q_events_view_click`,
  *    `q_events_view_click_outer` (the row adds a per-user count).
  * In batch, `withWatermark` is a no-op Spark drops from the plan.
  * StreamingSpec feeds the same transforms through a MemoryStream and
  * pins their closed-window rows equal to the catalog rows.
  *
  * Scale notes (1000-executor design point):
  *  - Every stateful op is keyed (window/event_type, user_id, event_id) —
  *    state shards across executors with the shuffle; nothing accumulates
  *    on the driver.
  *  - Watermarks bound state: 10-minute watermark + 5-minute windows/gaps
  *    keeps per-key state O(horizon), independent of stream length.
  *  - foreachBatch writes are idempotent upserts keyed by window/user, so
  *    micro-batch retries are safe (at-least-once → effectively-once).
  */
object EventsStreaming {

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-source stream of events-shaped JSON lines (the reference's
    * date-stamped drop-folder cadence as a real stream). */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EventSchema).json(dir)

  /** Tumbling 5-minute count and exact value sum per event type with a
    * 10-minute watermark — late events beyond the watermark are dropped
    * (behavioral test pins this). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Sliding 10/5-minute counts per event type under a watermark — the
    * state side of a trending-items feed (each event lands in 2 windows;
    * state is bounded by the watermark horizon). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Trending top-k per window, deterministic ties (n DESC, type ASC).
    * Rank is not an incremental streaming operator — it re-evaluates per
    * snapshot: apply this to each foreachBatch state snapshot (streaming)
    * or to the full counts relation (the batch twin `q_events_trending`,
    * which is what the oracle checks). */
  def trendingRank(counts: DataFrame, k: Int): DataFrame =
    counts
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("window_start"))
          .orderBy(col("n").desc, col("event_type"))))
      .filter(col("rnk") <= k)
      .select(col("window_start"), col("rnk").cast("long").as("rnk"),
        col("event_type"), col("n"))

  /** Stream-static dimension enrichment: the static side re-plans as a
    * broadcast each micro-batch — no state, no watermark, and dim
    * updates between batches are picked up for free. The standard shape
    * for attaching reference data (type weights, geo tables, model
    * registries) to an event stream; keep the dim small enough to
    * broadcast, else pre-bucket both sides. */
  def staticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"), "left")

  /** Per-user session windows (5-minute gap: a session ends 5 minutes
    * after its last event) with event count and exact value sum, under a
    * watermark. A late event within the watermark merges into the
    * session it falls in, also across micro-batches. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Stateful exact dedup by event_id, state bounded by the watermark
    * (replaces an unbounded dropDuplicates at stream scale). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join — view → click attribution: each view
    * pairs with the SAME user's clicks inside
    * `[view_ts, view_ts + horizon)`. Watermarks on BOTH sides plus the
    * time-bound join condition let Spark evict buffered rows once the
    * watermark passes `view_ts + horizon`, so join state is
    * O(users x horizon), independent of stream length. In batch mode the
    * watermarks are no-ops and the identical plan is oracle-checked
    * (`q_events_view_click`). */
  def viewClickJoin(events: DataFrame,
      horizonMinutes: Int = 10): DataFrame =
    viewClickJoinImpl(events, horizonMinutes, "inner")

  /** Left-outer variant: EVERY view is emitted — unmatched views
    * null-pad, but only once the watermark passes `view_ts + horizon`,
    * because "no click is coming" is unknowable earlier. This is the
    * funnel-analysis shape (conversion AND abandonment from one join);
    * state stays O(users × horizon), same as the inner variant. */
  def viewClickJoinOuter(events: DataFrame,
      horizonMinutes: Int = 10): DataFrame =
    viewClickJoinImpl(events, horizonMinutes, "left_outer")

  private def viewClickJoinImpl(events: DataFrame, horizonMinutes: Int,
      joinType: String): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "10 minutes")
    views.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") < col("view_ts") +
          expr(s"INTERVAL $horizonMinutes MINUTES"),
      joinType)
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Typed event row for the Dataset (arbitrary-state) operators below. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  // ---- Spark 4 arbitrary state: transformWithState EWMA ------------------

  case class EwmaRec(ts_us: Long, event_id: Long, cents: Long)
  case class EwmaUpdate(user_id: Long, n_total: Long, n_events: Long,
      ewma_fp: Long)

  /** Streaming twin of the batch `q_events_ewma` fold, on the NEW Spark 4
    * arbitrary-state API (`transformWithState` + typed ValueState /
    * ListState on the RocksDB store): per user, a bounded last-K buffer
    * of (ts, id, cents) plus a monotone processed-count. Every batch
    * merges its rows into the buffer, keeps the K most recent by
    * (ts, event_id), and emits the EWMA of the ascending fold — so after
    * ALL events are fed, the latest update per user is byte-identical to
    * the batch query however the stream was chunked (StreamingSpec pins
    * this batch-equivalence). State is O(K) per user by construction. */
  class EwmaProcessor(lastK: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, EwmaUpdate] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, TimerValues,
      TimeMode, TTLConfig, ValueState}
    @transient private var buf: ListState[EwmaRec] = _
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[EwmaRec]("ewma_buf",
        Encoders.product[EwmaRec], TTLConfig.NONE)
      total = getHandle.getValueState[Long]("ewma_total",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[EwmaUpdate] = {
      // Same cents derivation as the batch query's DECIMAL(18,2) cast:
      // BigDecimal.valueOf is the shortest-decimal reading of the double.
      val incoming = rows.map { e =>
        EwmaRec(micros(e.ts), e.event_id,
          java.math.BigDecimal.valueOf(e.value)
            .setScale(2, java.math.RoundingMode.HALF_UP)
            .movePointRight(2).longValueExact())
      }.toSeq
      if (incoming.isEmpty) Iterator.empty
      else {
        val kept = (buf.get().toSeq ++ incoming)
          .sortBy(r => (-r.ts_us, -r.event_id)).take(lastK)
        buf.put(kept.toArray)
        val n = (if (total.exists()) total.get() else 0L) + incoming.size
        total.update(n)
        val asc = kept.sortBy(r => (r.ts_us, r.event_id)).map(_.cents)
        val ewma = asc.tail.foldLeft(asc.head)((a, v) => (3 * a + v) / 4)
        Iterator.single(EwmaUpdate(user, n, asc.size.toLong, ewma))
      }
    }
  }

  /** `transformWithState` wiring for [[EwmaProcessor]] (requires the
    * RocksDB state store provider — the only store implementing the
    * Spark 4 arbitrary-state operator). */
  def ewmaUpdates(events: Dataset[Event],
      lastK: Int = 64): Dataset[EwmaUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor(lastK), TimeMode.None(),
        OutputMode.Update())
  }

  // ---- transformWithState last-touch attribution -------------------------

  case class AttribState(lastClickUs: Long, nPurch: Long, nAttr: Long,
      attrMicro: Long)
  case class AttribUpdate(user_id: Long, n_purchases: Long,
      n_attributed: Long, attr_micro: Long)

  /** Streaming twin of the batch `q_events_attribution` query on the
    * Spark 4 arbitrary-state API: per user, ONE ValueState carries the
    * last click timestamp plus the running (purchases, attributed,
    * micro-unit revenue) totals — O(1) state per user, no buffer. Each
    * batch replays its rows in (ts, event_id) order through the same
    * sequential rule as the batch window (purchase credits the last
    * click ≤ window before it), so with per-user ordered delivery
    * across batches (the upstream contract — enforce with a watermark +
    * sort in production) the latest update per user is byte-identical
    * to the batch query however the stream is chunked (StreamingSpec
    * pins this batch-equivalence). */
  class AttributionProcessor(windowUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, AttribUpdate] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimerValues, TimeMode,
      TTLConfig, ValueState}
    @transient private var st: ValueState[AttribState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[AttribState]("attrib_state",
        Encoders.product[AttribState], TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[AttribUpdate] = {
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        var s = if (st.exists()) st.get()
                else AttribState(Long.MinValue, 0L, 0L, 0L)
        sorted.foreach { e =>
          e.event_type match {
            case "click" => s = s.copy(lastClickUs = micros(e.ts))
            case "purchase" =>
              val attributed = s.lastClickUs != Long.MinValue &&
                micros(e.ts) - s.lastClickUs <= windowUs
              // Same micro-unit derivation as the batch DECIMAL(18,6)
              // cast: shortest-decimal read of the double, half-up.
              val micro = java.math.BigDecimal.valueOf(e.value)
                .setScale(6, java.math.RoundingMode.HALF_UP)
                .movePointRight(6).longValueExact()
              s = s.copy(nPurch = s.nPurch + 1,
                nAttr = s.nAttr + (if (attributed) 1 else 0),
                attrMicro = s.attrMicro + (if (attributed) micro else 0L))
            case _ => ()
          }
        }
        st.update(s)
        if (s.nPurch == 0) Iterator.empty
        else Iterator.single(AttribUpdate(user, s.nPurch, s.nAttr,
          s.attrMicro))
      }
    }
  }

  /** `transformWithState` wiring for [[AttributionProcessor]] (RocksDB
    * state store required, as for [[EwmaProcessor]]). */
  def attributionUpdates(events: Dataset[Event],
      windowUs: Long = 7L * 86400L * 1000000L): Dataset[AttribUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor(windowUs),
        TimeMode.None(), OutputMode.Update())
  }

  case class AsOfBuffer(views: List[(Long, Double)]) // (epochMicros, value) asc
  case class AsOfOut(user_id: Long, event_id: Long, ts: Timestamp,
      view_ts: Option[Timestamp], view_value: Option[Double])

  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming twin of the batch as-of join (`q_join_asof`): enrich each
    * click with the user's most recent view at or before it, on arrival.
    * Custom state via flatMapGroupsWithState — per user, a sorted buffer
    * of (view_ts, value) pairs; clicks floor-search it. State is
    * watermark-bounded: everything older than the watermark collapses to
    * the single latest view (the only old row a future click can match,
    * since future clicks arrive at ts >= watermark), so per-user state is
    * O(horizon), independent of stream length.
    *
    * Tie rule matches the batch twin: equal-ts views sort value-ascending
    * and the floor search takes the LAST qualifying entry — the max.
    * Divergence from batch (documented): a view arriving LATER than a
    * click it should have matched (cross-batch disorder) cannot
    * retroactively re-enrich — streaming emits best-known-at-arrival. */
  def asOfEnrich(events: Dataset[Event]): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfBuffer, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event],
         state: GroupState[AsOfBuffer]) =>
          val rows = batch.toSeq
          val newViews = rows.filter(_.event_type == "view")
            .map(e => (micros(e.ts), e.value))
          val merged =
            (state.getOption.map(_.views).getOrElse(Nil) ++ newViews)
              .sortBy(identity) // ts asc, value asc on ties
          val out = rows.filter(_.event_type == "click")
            .sortBy(e => (micros(e.ts), e.event_id))
            .map { c =>
              val t = micros(c.ts)
              merged.takeWhile(_._1 <= t).lastOption match {
                case Some((vt, vv)) => AsOfOut(userId, c.event_id, c.ts,
                  Some(fromMicros(vt)), Some(vv))
                case None => AsOfOut(userId, c.event_id, c.ts, None, None)
              }
            }
          // Evict: keep views >= watermark plus the latest older one.
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (old, recent) = merged.partition(_._1 < wmUs)
          state.update(AsOfBuffer(old.lastOption.toList ++ recent))
          out.iterator
      }
  }

  // ---- foreachBatch upsert sink ------------------------------------------

  /** foreachBatch sink: publishes each batch of `agg` through
    * [[graft.pipelines.Populate.writeTo]] into `sink`, one row per put. A
    * composite store key is a column the caller builds (e.g. `concat_ws`).
    * Complete-mode re-emission keeps the store converged, and `RowSink`
    * puts are idempotent on key, so a replayed batch is harmless. */
  def foreachBatchUpsert(agg: DataFrame, sink: Populate.RowSink)(
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, _: Long) => Populate.writeTo(batch, sink))
      .start()
}
