package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming state-scale probe — the measured evidence behind the
  * streaming surface's bounded-state claims (SCALE_PROBE.md "Streaming
  * state at scale").
  *
  * The behavioral suite (StreamingSpec) pins CORRECTNESS on tiny
  * MemoryStream fixtures; this main drives the RocksDB-backed stateful
  * operators with a full scale-probe events corpus fed in chronological
  * chunks, and records, per chunk: input rows, wall seconds,
  * state-store rows, and state bytes (the store's own usage metric).
  * What the numbers must show, per operator:
  *
  *  - `ewma` (`transformWithState`, ListState last-64 buffer): state rows
  *    = distinct users seen so far, byte size O(users · K) — growth
  *    tracks NEW users only, never total events processed.
  *  - `attribution` (`transformWithState`, one ValueState): state rows =
  *    users, O(1) bytes per user.
  *  - `sliding` (watermarked 10/5-minute windowed agg): state rows =
  *    open windows × event types, BOUNDED by the watermark horizon —
  *    rows must plateau and shrink as the watermark closes windows,
  *    never track corpus size.
  *
  * The corpus NEVER materializes on the driver (a `.collect()` feed
  * would cap the probe at whatever fits in
  * driver memory — the exact anti-pattern the engine under test
  * avoids). Instead a one-time distributed staging pass splits the
  * corpus into nChunks chronological parquet slices (chunk = uniform
  * event-time bucket between the corpus min/max ts — one tiny agg, no
  * global sort), and each operator streams them through a FILE-SOURCE
  * reader: per chunk, the staged files are hard-linked into the watch
  * directory (driver-side file METADATA only) and the query drains
  * them. Event-time order holds BETWEEN chunks (bucket boundaries
  * partition by ts), which is what watermark advancement needs; order
  * within a micro-batch is immaterial to every operator probed.
  *
  * Usage: Test/runMain graft.StateScaleProbe [eventsSfDir] [nChunks]
  *        (defaults: /tmp/graft_scale/x10 10) */
object StateScaleProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft_scale/x10"
    val nChunks = if (args.length > 1) args(1).toInt else 10

    val spark = graft.core.Sessions.local(32,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    import graft.streaming.EventsStreaming
    import EventsStreaming.Event

    // ---- Stage: one distributed pass splits the corpus into nChunks
    // chronological parquet slices. Chunk = uniform ts bucket over
    // [min, max] — rows never route through the driver; only the 2-value
    // bounds aggregate does.
    val events = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
    val row = events
      .agg(min(unix_timestamp($"ts")), max(unix_timestamp($"ts")),
        count(lit(1))).collect()(0)
    val (tsMin, tsMax, nRows) = (row.getLong(0), row.getLong(1), row.getLong(2))
    println(s"""{"probe":"corpus","dir":"$dir","rows":$nRows}""")
    val span = math.max(1L, tsMax - tsMin + 1)
    val stageBase = java.nio.file.Files
      .createTempDirectory("graft-state-probe").toFile.getAbsolutePath
    val staged = events
      .withColumn("chunk",
        least(lit(nChunks - 1), floor(
          (unix_timestamp($"ts") - tsMin) * nChunks / span).cast("int")))
      .repartition($"chunk")
    staged.write.partitionBy("chunk").parquet(s"$stageBase/slices")
    val chunkSizes = staged.groupBy($"chunk").count()
      .as[(Int, Long)].collect().toMap

    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    /** Hard-link chunk i's staged part files into the watch dir (file
      * metadata only — no payload bytes move through the driver). */
    def publishChunk(watch: java.io.File, i: Int): Unit = {
      val src = new java.io.File(s"$stageBase/slices/chunk=$i")
      val parts = Option(src.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet"))
      parts.foreach { f =>
        java.nio.file.Files.createLink(
          new java.io.File(watch, s"c${i}_${f.getName}").toPath, f.toPath)
      }
    }

    /** Feed the corpus chunk-by-chunk through `build`, recording one
      * JSON line per chunk from the query's progress metrics. */
    def drive(name: String)(
        build: org.apache.spark.sql.Dataset[Event]
          => org.apache.spark.sql.DataFrame): Unit = {
      val watch = java.nio.file.Files
        .createTempDirectory(s"graft-state-probe-$name").toFile
      // The staged parquet round-trips ts as TIMESTAMP_NTZ; watermarked
      // operators require TIMESTAMP — cast at the stream boundary (the
      // MemoryStream feed this replaced got TIMESTAMP from the encoder).
      val input = spark.readStream
        .schema(events.schema)
        .parquet(watch.getAbsolutePath)
        .withColumn("ts", $"ts".cast("timestamp"))
        .as[Event]
      val q = build(input).writeStream.format("noop")
        .outputMode(OutputMode.Update).start()
      try {
        (0 until nChunks).foreach { i =>
          val t0 = System.nanoTime()
          publishChunk(watch, i)
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          val rowsIn = chunkSizes.getOrElse(i, 0L)
          val so = Option(q.lastProgress).toSeq
            .flatMap(_.stateOperators.toSeq)
          val rows = so.map(_.numRowsTotal).sum
          val bytes = so.map(_.memoryUsedBytes).sum
          // memoryUsedBytes on the RocksDB provider counts ALL SST files
          // including obsolete pre-compaction/changelog versions — an
          // accumulation artifact of the local checkpoint dir, not live
          // state. The live-state figures are `state_rows`
          // (numRowsTotal) and the per-batch FLUSH volume (bytes of
          // actual state written this batch, which must track state
          // churn, not history length).
          import scala.jdk.CollectionConverters._
          val cm = so.flatMap(_.customMetrics.asScala)
            .groupMapReduce(_._1)((kv: (String, java.lang.Long)) =>
              kv._2.longValue)(_ + _)
          val flush = cm.getOrElse("rocksdbTotalBytesWrittenByFlush", 0L)
          println(s"""{"probe":"$name","chunk":${i + 1},"rows_in":$rowsIn,"sec":${f3(sec)},"rows_per_sec":${f3(rowsIn / sec)},"state_rows":$rows,"batch_flush_bytes":$flush,"sst_accum_bytes":$bytes}""")
        }
      } finally {
        q.stop()
        deleteRecursively(watch)
      }
    }

    try {
      drive("ewma")(in => EventsStreaming.ewmaUpdates(in).toDF())
      drive("attribution")(in => EventsStreaming.attributionUpdates(in).toDF())
      drive("sliding")(in => EventsStreaming.slidingCounts(in.toDF()))
    } finally {
      // The staging dir is a full re-write of the events corpus and each
      // watch dir holds a hard-linked copy's worth of directory entries —
      // a ×100 probe run would otherwise leave a corpus-sized residue in
      // /tmp (plus three link trees) per invocation.
      deleteRecursively(new java.io.File(stageBase))
    }

    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}
