package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.core.Tables

/** `Tables.load` memoizes each table's inferred schema: a repeated load
  * of an unchanged table runs no Spark job, while a rewritten table or a
  * session with other parquet inference confs infers again. */
class TablesSpec extends SparkTestBase {

  private def withTempDir(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("graft_tables")
    try body(d.toString) finally FileUtils.deleteQuietly(d.toFile)
  }

  test("a second load of an unchanged table runs no Spark job") {
    withTempDir { d =>
      Files.copy(Paths.get(Sf0001, "orders.parquet"), Paths.get(d, "orders.parquet"))
      val (first, inferJobs) = countJobs(Tables.orders(spark, d))
      assert(inferJobs >= 1, "the first load did not infer a schema")
      val (second, jobs) = countJobs(Tables.orders(spark, d))
      assert(jobs == 0, s"the repeated load ran $jobs Spark job(s)")
      assert(second.schema == first.schema)
      assert(second.collect().toSeq == first.collect().toSeq)
    }
  }

  test("a table rewritten in place with an added column is re-inferred") {
    withTempDir { d =>
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .write.parquet(s"$d/t.parquet")
      assert(Tables.load(spark, d, "t").columns.toSeq == Seq("k", "v"))
      assert(countJobs(Tables.load(spark, d, "t"))._2 == 0)
      Seq((1L, "a", 10.5), (2L, "b", 20.5)).toDF("k", "v", "w")
        .write.mode("overwrite").parquet(s"$d/t.parquet")
      val after = Tables.load(spark, d, "t")
      assert(after.columns.toSeq == Seq("k", "v", "w"))
      assert(after.orderBy("k").select("w").as[Double].collect().toSeq ==
        Seq(10.5, 20.5))
      assert(countJobs(Tables.load(spark, d, "t"))._2 == 0)
    }
  }

  test("a session with another nanosAsLong gets its own events.ts type") {
    withTempDir { d =>
      writeNanosEvents(s"$d/events.parquet", 1700000000123456789L)
      val asLong = spark.newSession()
      asLong.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val notLong = spark.newSession()
      notLong.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      def rawType(s: SparkSession) =
        scala.util.Try(Tables.load(s, d, "events").schema("ts").dataType)
      // Each session twice, alternating, so each load follows one made
      // under the other conf value.
      val seen = Seq(asLong, notLong, asLong, notLong).map(rawType)
      assert(seen(0).get == LongType)
      assert(seen(2).get == LongType)
      // Spark 4 rejects TIMESTAMP(NANOS) unless nanosAsLong is set; what
      // matters is that this session never reuses the LongType schema.
      assert(!seen(1).toOption.contains(LongType),
        s"nanosAsLong=false read the ts column as $seen")
      assert(seen(3).toOption == seen(1).toOption)
      val ev = Tables.events(asLong, d)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.head().getAs[java.sql.Timestamp]("ts") ==
        java.sql.Timestamp.from(java.time.Instant.parse("2023-11-14T22:13:20.123456Z")))
    }
  }

  test("a missing table still raises PATH_NOT_FOUND") {
    withTempDir { d =>
      val e = intercept[AnalysisException](Tables.documents(spark, d))
      assert(e.getMessage.contains("[PATH_NOT_FOUND]"), e.getMessage)
    }
  }

  /** One-row parquet file whose `ts` is INT64 TIMESTAMP(NANOS), a form
    * Spark cannot write: `event_id` 1 at `nanos` since the epoch. */
  private def writeNanosEvents(path: String, nanos: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", nanos))
    finally w.close()
  }
}
