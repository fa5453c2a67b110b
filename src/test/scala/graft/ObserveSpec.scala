package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Pipeline observability via `Dataset.observe` — production jobs attach
  * data-quality counters to the SAME pass that does the work (no second
  * scan, no collect): metrics accumulate inside the plan and surface
  * through a QueryExecutionListener at job end. Pinned on the real clean
  * pipeline: row count and null-salary count observed during one
  * consume of the cleaned frame. */
class ObserveSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val rawDir = {
    val dir = Files.createDirectories(
      Paths.get("target/tmp/graft_raw_observe")).toString
    Files.writeString(
      Paths.get(s"$dir/glassdoor-job-scrapping02-09-2021-data-engineer-london.csv"),
      PipelineFixtures.RawCsv)
    dir
  }

  test("observe() surfaces quality counters from the working pass") {
    val captured = mutable.Map.empty[String, Map[String, Any]]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          captured.synchronized {
            captured(name) = row.getValuesMap[Any](row.schema.fieldNames)
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val observed = graft.pipelines.Clean.run(spark, rawDir)
        .observe("clean_quality",
          count(lit(1)).as("n_rows"),
          count(when($"min_estimated_salary".isNull, 1))
            .as("n_null_salary"),
          count(when($"company_rating".isNull, 1)).as("n_null_rating"))
      val nRows = observed.count()
      // Listener delivery is asynchronous to count() returning.
      val deadline = System.nanoTime() + 10_000_000_000L
      while (captured.synchronized(captured.isEmpty) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      val m = captured.synchronized(captured.get("clean_quality"))
      assert(m.isDefined, "observed metrics never surfaced")
      assert(m.get("n_rows") === nRows)
      assert(m.get("n_null_salary").asInstanceOf[Long] <= nRows)
      assert(m.get("n_null_rating").asInstanceOf[Long] <= nRows)
    } finally spark.listenerManager.unregister(listener)
  }
}
