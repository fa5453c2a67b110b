package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.FileKvStore
import graft.streaming.EventsStreaming

/** End-to-end Structured-Streaming smoke: events-shaped JSON files →
  * file-source stream → watermarked tumbling aggregation → foreachBatch
  * upsert into a DURABLE file-backed KV store, run with
  * Trigger.AvailableNow (the batch-cadence analogue of the reference's
  * daily drop folder). The read-back at the end goes through a fresh
  * store handle — the view a restarted serving JVM would see.
  *
  * Usage: runMain graft.StreamingSmoke [workDir]
  */
object StreamingSmoke {

  def main(args: Array[String]): Unit = {
    val work = if (args.nonEmpty) args(0) else "target/streaming_smoke"
    val inDir = s"$work/in"
    val ckpt = s"$work/ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    Files.createDirectories(Paths.get(inDir))
    // Two drop files, overlapping windows.
    Files.writeString(Paths.get(s"$inDir/batch1.json"), Seq(
      """{"event_id":1,"ts":"2024-01-01T10:01:00.000Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T10:02:00.000Z","user_id":1,"event_type":"view","value":2.0}""",
      """{"event_id":3,"ts":"2024-01-01T10:06:00.000Z","user_id":2,"event_type":"click","value":3.0}""").mkString("\n"))
    Files.writeString(Paths.get(s"$inDir/batch2.json"), Seq(
      """{"event_id":4,"ts":"2024-01-01T10:07:00.000Z","user_id":2,"event_type":"click","value":4.0}""",
      """{"event_id":5,"ts":"2024-01-01T10:11:00.000Z","user_id":3,"event_type":"view","value":5.0}""").mkString("\n"))

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = EventsStreaming.fileSource(spark, inDir)
    val counts = EventsStreaming.tumblingCounts(events)
      .withColumn("key", concat_ws("|", col("window_start").cast("string"),
        col("event_type")))
    // foreachPartition upserts on executors (no driver collect), durable
    // on disk under work/store.
    val sink = new FileKvStore(s"$work/store").rowSink("key")
    val q = EventsStreaming.foreachBatchUpsert(counts, sink,
      Some(Trigger.AvailableNow()))(ckpt)
    q.awaitTermination()
    println("=== upserted window counts (read back from disk) ===")
    val back = FileKvStore.read(s"$work/store")
    back.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"$k -> $v") }
    println(s"STORE_KEYS=${back.size}")
    spark.stop()
  }
}
