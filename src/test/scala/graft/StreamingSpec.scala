package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventsStreaming
import graft.streaming.EventsStreaming.Event

/** Behavioral tests for the Structured-Streaming surface (no oracle exists
  * for late-data semantics — SURVEY.md §5.2): watermark late-drop,
  * stateful dedup, session windows, stream-equals-catalog equivalence,
  * custom flatMapGroupsWithState / transformWithState state, foreachBatch
  * upsert. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private def ev(id: Long, t: Timestamp, user: Long = 1,
      typ: String = "click"): Event = Event(id, t, user, typ, 1.0)

  test("tumbling window agg with watermark drops too-late events") {
    val input = MemoryStream[Event](spark)
    val agg = EventsStreaming.tumblingCounts(input.toDF())
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append).start()
    try {
      // Batch 1: events in windows 10:00 and 10:05.
      input.addData(ev(1, ts(1)), ev(2, ts(2)), ev(3, ts(6)))
      q.processAllAvailable()
      // Batch 2: advance event time far ahead -> watermark passes 10:10.
      input.addData(ev(4, ts(40)))
      q.processAllAvailable()
      // Batch 3: a too-late event for window 10:00 must be DROPPED.
      input.addData(ev(5, ts(3)))
      q.processAllAvailable()
      // Close the 10:40 window too.
      input.addData(ev(6, ts(59)))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
      assert(rows("2024-01-01 10:00:00.0") == 2) // late ev(5) not counted
      assert(rows("2024-01-01 10:05:00.0") == 1)
      assert(rows("2024-01-01 10:40:00.0") == 1)
    } finally q.stop()
  }

  test("tumbling, sliding and session streams equal their catalog rows " +
      "once the watermark closes every window") {
    // In ts order, so no event is late; three chunks, so windows and
    // sessions must carry state across micro-batches.
    val all = graft.core.Tables.events(spark, Sf0001)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    // A day past the last event: the watermark passes every window and
    // session end of the corpus, while the flush event's own stay open.
    val flush = ev(-1, new Timestamp(all.last.ts.getTime + 86400000L),
      user = -1)
    Seq(
      ("q_events_tumbling", EventsStreaming.tumblingCounts _,
        Seq("window_start", "event_type")),
      ("q_events_sliding", EventsStreaming.slidingCounts _,
        Seq("window_start", "event_type")),
      ("q_events_session", EventsStreaming.sessionCounts _,
        Seq("user_id", "session_start"))
    ).foreach { case (row, transform, keys) =>
      val input = MemoryStream[Event](spark)
      val name = s"${row}_stream"
      val q = transform(input.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        all.grouped((all.length + 2) / 3).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        input.addData(flush)
        q.processAllAvailable()
        val streamed = spark.table(name).orderBy(keys.map(col): _*)
          .collect().toSeq
        val batch = SparkEntry.queries(row)(spark, Sf0001).collect().toSeq
        assert(streamed.nonEmpty)
        // The first differing (streamed, catalog) pair, not both tables.
        val firstDiff = streamed.zipAll(batch, null, null)
          .find { case (a, b) => a != b }
        assert(firstDiff.isEmpty,
          s"$row: ${streamed.size} streamed vs ${batch.size} catalog rows")
      } finally q.stop()
    }
  }

  test("stream-static join enriches events from a broadcast dimension") {
    val dim = Seq(("click", 1.0), ("view", 0.1)).toDF("event_type", "weight")
    val input = MemoryStream[Event](spark)
    val enriched = EventsStreaming.staticEnrich(input.toDF(), dim)
      .select($"event_id", $"event_type", $"weight")
    val q = enriched.writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, ts(1), typ = "click"), ev(2, ts(2), typ = "view"),
        ev(3, ts(3), typ = "purchase")) // no dim row -> left-join null
      q.processAllAvailable()
      val rows = spark.table("enrich").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      assert(rows == Map(1L -> Some(1.0), 2L -> Some(0.1), 3L -> None))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups repeated event ids") {
    val input = MemoryStream[Event](spark)
    val q = EventsStreaming.dedupWithinWatermark(input.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, ts(0)), ev(1, ts(0)), ev(2, ts(1)))
      q.processAllAvailable()
      input.addData(ev(1, ts(1, 30)), ev(3, ts(2)))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("session_window merges events within the gap") {
    val input = MemoryStream[Event](spark)
    val q = EventsStreaming.sessionCounts(input.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: events at 10:00, 10:02, 10:04 (one session, end 10:09);
      // then 10:20 (second session).
      input.addData(ev(1, ts(0)), ev(2, ts(2)), ev(3, ts(4)), ev(4, ts(20)))
      q.processAllAvailable()
      input.addData(ev(5, ts(59))) // advance watermark to close sessions
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("session_start", "session_end", "n_events")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
          r.getLong(2))).toSet
      assert(rows.contains(("2024-01-01 10:00:00.0",
        "2024-01-01 10:09:00.0", 3L)))
      assert(rows.contains(("2024-01-01 10:20:00.0",
        "2024-01-01 10:25:00.0", 1L)))
    } finally q.stop()
  }

  test("sliding windows assign each event to two 10/5-minute windows") {
    val input = MemoryStream[Event](spark)
    val q = EventsStreaming.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, ts(7))) // windows 10:00 and 10:05
      q.processAllAvailable()
      input.addData(ev(2, ts(59))) // advance watermark, close them
      q.processAllAvailable()
      val rows = spark.table("sliding").select("window_start", "n").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
      assert(rows("2024-01-01 10:00:00.0") == 1)
      assert(rows("2024-01-01 10:05:00.0") == 1)
    } finally q.stop()
  }

  test("trending top-k over the stream equals the batch twin on closed windows") {
    val events = Seq(
      ev(1, ts(1), typ = "click"), ev(2, ts(2), typ = "view"),
      ev(3, ts(3), typ = "view"), ev(4, ts(7), typ = "click"),
      ev(5, ts(8), typ = "view"))
    val input = MemoryStream[Event](spark)
    val q = EventsStreaming.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("trend_counts")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData(ev(9, ts(59))) // advance watermark, close early windows
      q.processAllAvailable()
      val cutoff = ts(45)
      val streamed = EventsStreaming
        .trendingRank(spark.table("trend_counts"), 3)
        .filter($"window_start" < cutoff)
        .orderBy($"window_start", $"rnk").collect().toSeq
      val batch = EventsStreaming
        .trendingRank(EventsStreaming.slidingCounts(events.toDF()), 3)
        .filter($"window_start" < cutoff)
        .orderBy($"window_start", $"rnk").collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks within the horizon") {
    val input = MemoryStream[Event](spark)
    val q = EventsStreaming.viewClickJoin(input.toDF())
      .writeStream.format("memory").queryName("viewclick")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: view at 10:00; clicks at 10:03 (inside) and 10:15 (past
      // the 10-minute horizon). user 2: click with NO view -> never joins.
      input.addData(
        ev(1, ts(0), user = 1, typ = "view"),
        ev(2, ts(3), user = 1, typ = "click"),
        ev(3, ts(15), user = 1, typ = "click"),
        ev(4, ts(4), user = 2, typ = "click"))
      q.processAllAvailable()
      // Advance both watermarks so buffered state flushes/evicts.
      input.addData(ev(9, ts(59), user = 9, typ = "view"),
        ev(10, ts(59), user = 9, typ = "click"))
      q.processAllAvailable()
      val pairs = spark.table("viewclick")
        .select("user_id", "view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pairs.contains((1L, 1L, 2L))) // in-horizon click attributed
      assert(!pairs.exists(p => p._2 == 1L && p._3 == 3L)) // past horizon
      assert(!pairs.exists(_._1 == 2L)) // viewless click never joins
    } finally q.stop()
  }

  test("outer stream-stream join null-pads unmatched views after watermark") {
    val input = MemoryStream[Event](spark)
    val q = EventsStreaming.viewClickJoinOuter(input.toDF())
      .writeStream.format("memory").queryName("viewclick_outer")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: view + in-horizon click -> matched immediately.
      // user 2: view with NO click -> must surface null-padded, but only
      // once the watermark passes view_ts + horizon.
      input.addData(
        ev(1, ts(0), user = 1, typ = "view"),
        ev(2, ts(3), user = 1, typ = "click"),
        ev(3, ts(1), user = 2, typ = "view"))
      q.processAllAvailable()
      val early = spark.table("viewclick_outer")
        .select("user_id").collect().map(_.getLong(0)).toSet
      // Unmatched view cannot be emitted yet — "no click is coming" is
      // unknowable before the horizon closes.
      assert(!early.contains(2L), "null-padded row emitted before watermark")
      // Advance both watermarks well past view_ts + horizon.
      input.addData(ev(9, ts(59), user = 9, typ = "view"),
        ev(10, ts(59), user = 9, typ = "click"))
      q.processAllAvailable()
      input.addData(ev(11, ts(59, 30), user = 9, typ = "click"))
      q.processAllAvailable()
      val rows = spark.table("viewclick_outer")
        .select("user_id", "view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
      assert(rows.contains((1L, 1L, Some(2L))), "matched pair missing")
      assert(rows.contains((2L, 3L, None)),
        s"abandoned view not null-padded after watermark: ${rows.toSeq}")
    } finally q.stop()
  }

  test("outer join null-pads only past the exact horizon/watermark boundary") {
    // The off-by-one class the batch twin cannot see (r15 verdict stretch
    // item): a view's horizon closes at view_ts + 10min and the watermark
    // trails max event time by 10min, so a view at 10:00 has horizon end
    // 10:10 and the watermark reaches EXACTLY 10:10 when an event at
    // 10:20 arrives. Pin the two halves of the contract around that
    // instant: (a) strictly BEFORE the boundary (watermark 10:09) no
    // null-padded row may exist — an in-horizon click could still arrive;
    // (b) the view is emitted exactly once overall, and never BOTH as a
    // null-padded abandonment and as a matched pair (the double-emit that
    // an early null-pad plus a still-admissible click would produce).
    val input = MemoryStream[Event](spark)
    val q = EventsStreaming.viewClickJoinOuter(input.toDF())
      .writeStream.format("memory").queryName("viewclick_boundary")
      .outputMode(OutputMode.Append).start()
    try {
      def user1Rows() = spark.table("viewclick_boundary")
        .filter($"user_id" === 1L)
        .select($"view_id", $"click_id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq

      // The watched view: user 1 at 10:00, horizon end 10:10.
      input.addData(ev(1, ts(0), user = 1, typ = "view"))
      q.processAllAvailable()
      // (a) BOTH sides -> 10:19, so the global (min-of-sides) watermark
      // reaches 10:09 — one minute SHY of the horizon end. (A one-sided
      // advance would leave the global watermark at the other side's
      // value: multipleWatermarkPolicy defaults to min.)
      input.addData(ev(2, ts(19), user = 9, typ = "click"),
        ev(20, ts(19), user = 9, typ = "view"))
      q.processAllAvailable()
      assert(user1Rows().isEmpty,
        "null-padded row emitted while watermark < horizon end")
      // Watermark -> exactly 10:10 == horizon end. Emitting here is
      // legal (no in-horizon click can be on time any more: admissible
      // clicks have click_ts >= 10:10, all out of horizon) but not
      // required; do not pin Spark's choice at equality.
      input.addData(ev(3, ts(20), user = 9, typ = "click"),
        ev(21, ts(20), user = 9, typ = "view"))
      q.processAllAvailable()
      val atBoundary = user1Rows()
      assert(atBoundary.forall(_ == (1L, None)) && atBoundary.size <= 1)
      // A last-instant in-horizon click (10:09:59) arriving NOW is below
      // the click watermark (10:10) — the engine must DROP it rather
      // than pair it with a view that may already be null-padded.
      input.addData(ev(4, ts(9, 59), user = 1, typ = "click"))
      q.processAllAvailable()
      // Push the watermark strictly past the boundary; the abandonment
      // row must now exist.
      input.addData(ev(5, ts(21), user = 9, typ = "click"),
        ev(22, ts(21), user = 9, typ = "view"))
      q.processAllAvailable()
      val finalRows = user1Rows()
      assert(finalRows == Seq((1L, None)),
        s"expected exactly one null-padded row for the boundary view, got $finalRows")
    } finally q.stop()
  }

  test("outer stream-stream join equals its batch twin for closed horizons") {
    // Batch-equivalence for the LEFT-OUTER variant (the inner variant is
    // oracle-gated via q_events_view_click; the outer twin is
    // q_events_view_click_outer): every view whose horizon the final
    // watermark has passed must appear in the streamed output with
    // exactly the batch join's match set — matched rows AND the
    // null-padded abandonment row.
    val input = MemoryStream[Event](spark)
    val q = EventsStreaming.viewClickJoinOuter(input.toDF())
      .writeStream.format("memory").queryName("viewclick_outer_eq")
      .outputMode(OutputMode.Append).start()
    try {
      val batch1 = Seq(
        ev(1, ts(0), user = 1, typ = "view"),
        ev(2, ts(3), user = 1, typ = "click"),
        ev(3, ts(1), user = 2, typ = "view"), // abandoned
        ev(4, ts(2), user = 3, typ = "view"),
        ev(5, ts(5), user = 3, typ = "click"),
        ev(6, ts(8), user = 3, typ = "click"), // two matches, one view
        ev(7, ts(20), user = 4, typ = "click")) // viewless click
      input.addData(batch1: _*)
      q.processAllAvailable()
      // Flush: watermark -> 10:110; every batch1 horizon (<= 10:30) closes.
      val flush = Seq(ev(90, ts(120), user = 9, typ = "view"),
        ev(91, ts(120), user = 9, typ = "click"))
      input.addData(flush: _*)
      q.processAllAvailable()
      val cutoff = ts(100)
      def rowSet(df: org.apache.spark.sql.DataFrame) = df
        .filter($"view_ts" < cutoff)
        .select($"user_id", $"view_id", $"click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      val streamed = rowSet(spark.table("viewclick_outer_eq"))
      val batch = rowSet(EventsStreaming.viewClickJoinOuter(
        (batch1 ++ flush).toDF()))
      assert(streamed.nonEmpty && streamed === batch)
      assert(streamed.contains((2L, 3L, None))) // the funnel's abandonment
    } finally q.stop()
  }

  test("foreachBatch upserts aggregated rows into a KV store") {
    val input = MemoryStream[Event](spark)
    val agg = input.toDF().groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    // JVM-singleton store: the sink closure is serialized to tasks, so a
    // captured map instance would be a per-task copy; the object is shared
    // within the local-mode JVM.
    val store = StreamingSpec.Store
    store.clear()
    val sink = new graft.pipelines.Populate.RowSink {
      def put(row: Map[String, String]): Unit =
        StreamingSpec.Store.put(row("event_type"), row("n"))
    }
    val ckpt = "target/tmp/graft_ckpt_" + System.nanoTime()
    val q = EventsStreaming.foreachBatchUpsert(agg, sink)(ckpt)
    try {
      input.addData(ev(1, ts(0), typ = "click"), ev(2, ts(1), typ = "view"))
      q.processAllAvailable()
      input.addData(ev(3, ts(2), typ = "click"))
      q.processAllAvailable()
      assert(store.get("click") == "2")
      assert(store.get("view") == "1")
    } finally q.stop()
  }

  test("foreachBatch publishes through the graftkv connector end-to-end") {
    import org.apache.spark.sql.functions.{concat_ws, count, lit}
    val input = MemoryStream[Event](spark)
    val agg = input.toDF().groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
    val dir = java.nio.file.Files
      .createTempDirectory("graftkv-stream").toString
    val ckpt = "target/tmp/graft_ckpt_kv_" + System.nanoTime()
    // Complete-mode snapshot per batch, published as (key, value) through
    // the DSv2 write path: each batch appends a log segment, the store's
    // last-write-wins replay makes the latest snapshot the served truth.
    val q = agg.writeStream
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select($"event_type".as("key"),
            concat_ws("=", lit("n"), $"n".cast("string")).as("value"))
          .write.format("graftkv").mode("append").save(dir)
      }
      .start()
    try {
      input.addData(ev(1, ts(0), typ = "click"), ev(2, ts(1), typ = "view"))
      q.processAllAvailable()
      input.addData(ev(3, ts(2), typ = "click"))
      q.processAllAvailable()
      val served = spark.read.format("graftkv").load(dir)
        .as[(String, String)].collect().toMap
      assert(served === Map("click" -> "n=2", "view" -> "n=1"))
    } finally q.stop()
  }

  test("checkpoint recovery: restart processes only new files, no dups") {
    import java.nio.file.{Files, Paths}
    val work = "target/tmp/graft_recovery_" + System.nanoTime()
    val inDir = s"$work/in"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(inDir))
    def writeBatch(name: String, ids: Seq[Int]): Unit =
      Files.writeString(Paths.get(s"$inDir/$name"), ids.map(i =>
        s"""{"event_id":$i,"ts":"2024-01-01T10:0$i:00.000Z",""" +
          s""""user_id":1,"event_type":"click","value":1.0}""")
        .mkString("\n"))
    StreamingSpec.Seen.clear()
    def runOnce(): Unit = {
      val q = EventsStreaming.fileSource(spark, inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("event_id").collect()
            .foreach(r => StreamingSpec.Seen.add(r.getLong(0)))
        }
        .start()
      q.awaitTermination()
    }
    writeBatch("b1.json", Seq(1, 2, 3))
    runOnce()
    assert(StreamingSpec.Seen.size() == 3)
    writeBatch("b2.json", Seq(4, 5))
    runOnce() // same checkpoint: b1 must NOT be reprocessed
    val seen = scala.jdk.CollectionConverters
      .CollectionHasAsScala(StreamingSpec.Seen).asScala.toSeq.sorted
    assert(seen == Seq(1L, 2L, 3L, 4L, 5L),
      s"expected exactly-once ids, got $seen")
  }

  test("as-of enrichment attaches the latest prior view per user") {
    val input = MemoryStream[Event](spark)
    val q = EventsStreaming.asOfEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof")
      .outputMode(OutputMode.Append).start()
    try {
      // Batch 1: u1 views at 10:00 (v=1.0) and 10:02 (v=2.0); clicks
      // before any view, between, and after; u2 has no views. A same-ts
      // tie (two views at 10:02, values 2.0 and 5.0) must pick the max —
      // the batch twin's tie rule.
      input.addData(
        Event(100, ts(0), 1, "view", 1.0),
        Event(101, ts(2), 1, "view", 2.0),
        Event(102, ts(2), 1, "view", 5.0),
        Event(1, ts(1), 1, "click", 0.0),
        Event(2, ts(3), 1, "click", 0.0),
        Event(3, ts(0), 2, "click", 0.0))
      q.processAllAvailable()
      // Batch 2: state carries across batches — a 10:07 click still sees
      // the 10:02 view; a fresh view re-points later clicks.
      input.addData(
        Event(4, ts(7), 1, "click", 0.0),
        Event(103, ts(8), 1, "view", 9.0),
        Event(5, ts(9), 1, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("asof").collect().map { r =>
        r.getLong(1) -> ((Option(r.getTimestamp(3)).map(_.toString),
          Option(r.get(4)).map(_.asInstanceOf[Double])))
      }.toMap
      assert(rows(1) == ((Some("2024-01-01 10:00:00.0"), Some(1.0))))
      assert(rows(2) == ((Some("2024-01-01 10:02:00.0"), Some(5.0))))
      assert(rows(3) == ((None, None)))
      assert(rows(4) == ((Some("2024-01-01 10:02:00.0"), Some(5.0))))
      assert(rows(5) == ((Some("2024-01-01 10:08:00.0"), Some(9.0))))
    } finally q.stop()
  }

  test("transformWithState ewma converges to the batch fold at sf0.001") {
    // The Spark 4 arbitrary-state operator only runs on the RocksDB
    // store; scope the provider to this query's lifetime.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event](spark)
      val q = EventsStreaming.ewmaUpdates(input.toDS())
        .toDF().writeStream.format("memory").queryName("ewma_updates")
        .outputMode(OutputMode.Update).start()
      try {
        val all = graft.core.Tables.events(spark, Sf0001)
          .selectExpr("event_id", "ts", "user_id", "event_type", "value")
          .as[Event].collect()
        // Feed in three arbitrary chunks: the buffer must merge state
        // across batches, not just sort within one.
        all.grouped((all.length + 2) / 3).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        // Latest update per user = the row with the max monotone n_total.
        val streamed = spark.table("ewma_updates").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .groupBy(_._1).map { case (u, xs) =>
            val last = xs.maxBy(_._2)
            u -> (last._3, last._4)
          }
        val batch = SparkEntry.queries("q_events_ewma")(spark, Sf0001)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        assert(streamed == batch)
        // Multiple updates per user prove cross-batch state, not a
        // single-batch sort.
        assert(spark.table("ewma_updates").count() > batch.size)
      } finally q.stop()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState attribution converges to the batch query") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event](spark)
      val q = EventsStreaming.attributionUpdates(input.toDS())
        .toDF().writeStream.format("memory").queryName("attrib_updates")
        .outputMode(OutputMode.Update).start()
      try {
        // Ordered delivery is the processor's documented upstream
        // contract: feed (ts, event_id)-sorted chunks, state must carry
        // the last click ACROSS the chunk boundaries.
        val all = graft.core.Tables.events(spark, Sf0001)
          .selectExpr("event_id", "ts", "user_id", "event_type", "value")
          .as[Event].collect()
          .sortBy(e => (e.ts.getTime, e.event_id))
        all.grouped((all.length + 2) / 3).foreach { chunk =>
          input.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        // Totals are monotone: the latest update per user has the max
        // n_purchases.
        val streamed = spark.table("attrib_updates").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .groupBy(_._1).map { case (u, xs) =>
            val last = xs.maxBy(_._2)
            u -> ((last._2, last._3, last._4))
          }
        val batch = SparkEntry.queries("q_events_attribution")(spark, Sf0001)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
        assert(streamed == batch)
        // Cross-batch state, not a single-batch replay: users updated in
        // more than one micro-batch exist.
        assert(spark.table("attrib_updates").count() > batch.size)
      } finally q.stop()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState ewma recovers across a kill/restart from checkpoint") {
    // r16 verdict stretch item: the EWMA processor is pinned
    // stream-equals-batch under chunking, but a real deployment's
    // failure mode is a query KILLED mid-stream and restarted from its
    // checkpoint — the RocksDB state (per-user last-K buffers) must
    // come back, not just the source offsets. Feed half the corpus,
    // stop the query, restart against the SAME checkpoint, feed the
    // rest: the post-restart updates must equal the batch fold over the
    // full history, which is only possible if the pre-kill state
    // survived.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = "target/tmp/graft_tws_restart_" + System.nanoTime()
    try {
      val input = MemoryStream[Event](spark)
      val updates = StreamingSpec.EwmaUpdates
      updates.clear()
      // foreachBatch, not the memory sink: memory-sink queries refuse
      // checkpoint recovery ("does not support recovering from
      // checkpoint location"), and recovery IS the case under test.
      def start() = EventsStreaming.ewmaUpdates(input.toDS())
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => updates.add(
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
        }
        .start()
      val all = graft.core.Tables.events(spark, Sf0001)
        .selectExpr("event_id", "ts", "user_id", "event_type", "value")
        .as[Event].collect()
      val chunks = all.grouped((all.length + 1) / 2).toSeq
      def latestPerUser(xs: Seq[(Long, Long, Long, Long)]): Map[Long, (Long, Long)] =
        xs.groupBy(_._1).map { case (u, ys) =>
          val last = ys.maxBy(_._2)
          u -> (last._3, last._4)
        }
      import scala.jdk.CollectionConverters._
      val q1 = start()
      val nBeforeKill =
        try {
          input.addData(chunks.head.toIndexedSeq: _*)
          q1.processAllAvailable()
          updates.size()
        } finally q1.stop() // the "kill": stop mid-stream, state on disk
      val q2 = start() // fresh query instance, same checkpoint
      try {
        input.addData(chunks(1).toIndexedSeq: _*)
        q2.processAllAvailable()
        val allUpdates = updates.asScala.toSeq
        // Post-restart updates only exist for chunk-2 users; users
        // untouched after the kill keep their pre-kill values.
        val afterRestart = latestPerUser(allUpdates.drop(nBeforeKill))
        val merged = latestPerUser(allUpdates.take(nBeforeKill)) ++ afterRestart
        val batch = SparkEntry.queries("q_events_ewma")(spark, Sf0001)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        assert(merged == batch,
          "post-restart updates diverge from the batch fold — RocksDB " +
            "state did not survive the restart")
        // The restart must have produced updates that REQUIRED recovered
        // state: at least one post-restart user carries pre-kill history
        // (its n_total exceeds what chunk 2 alone could produce).
        val chunk2Counts = chunks(1).groupBy(_.user_id)
          .map { case (u, es) => u -> es.size.toLong }
        assert(afterRestart.exists { case (u, (n, _)) =>
          n > chunk2Counts.getOrElse(u, 0L)
        }, "no post-restart update shows pre-kill history — the restart " +
          "case did not exercise state recovery")
      } finally q2.stop()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState attribution recovers across a kill/restart") {
    // r17 verdict stretch item: the EWMA processor has its
    // kill/restart-from-checkpoint case; the stream-stream attribution
    // processor (last-click state + purchase totals) did not. Same
    // shape: feed half the (ts, event_id)-ordered corpus, stop the
    // query, restart against the SAME checkpoint, feed the rest — the
    // merged latest-update-per-user must equal the batch attribution
    // query over the full history, which requires both the per-user
    // lastClick timestamps AND the running purchase totals to survive
    // the restart in RocksDB.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = "target/tmp/graft_attrib_restart_" + System.nanoTime()
    try {
      val input = MemoryStream[Event](spark)
      val updates = StreamingSpec.AttribUpdates
      updates.clear()
      def start() = EventsStreaming.attributionUpdates(input.toDS())
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => updates.add(
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
        }
        .start()
      // Ordered delivery is the processor's documented upstream contract
      // (same as the convergence test): state carries last clicks across
      // the kill only if the chunks respect the global event order.
      val all = graft.core.Tables.events(spark, Sf0001)
        .selectExpr("event_id", "ts", "user_id", "event_type", "value")
        .as[Event].collect()
        .sortBy(e => (e.ts.getTime, e.event_id))
      val chunks = all.grouped((all.length + 1) / 2).toSeq
      // Latest update per user: n_purchases is monotone per user, so the
      // max-n_purchases row is the final state.
      def latestPerUser(xs: Seq[(Long, Long, Long, Long)])
          : Map[Long, (Long, Long, Long)] =
        xs.groupBy(_._1).map { case (u, ys) =>
          val last = ys.maxBy(_._2)
          u -> ((last._2, last._3, last._4))
        }
      import scala.jdk.CollectionConverters._
      val q1 = start()
      val nBeforeKill =
        try {
          input.addData(chunks.head.toIndexedSeq: _*)
          q1.processAllAvailable()
          updates.size()
        } finally q1.stop() // the "kill": stop mid-stream, state on disk
      val q2 = start() // fresh query instance, same checkpoint
      try {
        input.addData(chunks(1).toIndexedSeq: _*)
        q2.processAllAvailable()
        val allUpdates = updates.asScala.toSeq
        val afterRestart = latestPerUser(allUpdates.drop(nBeforeKill))
        val merged = latestPerUser(allUpdates.take(nBeforeKill)) ++ afterRestart
        val batch = SparkEntry.queries("q_events_attribution")(spark, Sf0001)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
        assert(merged == batch,
          "post-restart attribution diverges from the batch query — " +
            "per-user click/total state did not survive the restart")
        // The restart must have exercised recovered state: some
        // post-restart user's purchase total exceeds what chunk 2 alone
        // could produce (i.e. it carries pre-kill purchases).
        val chunk2Purch = chunks(1).filter(_.event_type == "purchase")
          .groupBy(_.user_id).map { case (u, es) => u -> es.size.toLong }
        assert(afterRestart.exists { case (u, (nPurch, _, _)) =>
          nPurch > chunk2Purch.getOrElse(u, 0L)
        }, "no post-restart update shows pre-kill purchases — the case " +
          "did not exercise state recovery")
      } finally q2.stop()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }
}

object StreamingSpec {
  val Store = new java.util.concurrent.ConcurrentHashMap[String, String]()
  // A LIST, not a set: duplicates from checkpoint replay must be visible.
  val Seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  // (user_id, n_total, n_events, ewma_fp) updates captured by the
  // restart-recovery test's foreachBatch sink, in arrival order.
  val EwmaUpdates =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  // (user_id, n_purchases, n_attributed, attr_micro) updates captured by
  // the attribution restart-recovery test, in arrival order.
  val AttribUpdates =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
}
