package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one session — Spark
  * sessions are expensive; getOrCreate makes the suite order-independent). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.Sessions.local(4)

  val Sf0001 = "/root/testdata/sf0.001"

  /** Delete the sf0.001 artifacts whose directory name starts with
    * `prefix`, and drop the session's cached artifact relations: their
    * file listings would otherwise name the deleted files once an
    * artifact is rebuilt. */
  def deleteArtifacts(prefix: String): Unit = {
    val root = new java.io.File(graft.core.Artifacts.sfRoot(Sf0001))
    Option(root.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_artifact_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** Runs `body` and returns its result with the number of Spark jobs
    * started meanwhile. */
  def countJobs[A](body: => A): (A, Int) = {
    val (out, jobs, _) = countJobsAndTasks(body)
    (out, jobs)
  }

  /** Runs `body` and returns its result with the number of operating-system
    * processes Hadoop's file systems started meanwhile: the
    * `jdk.ProcessStart` events of an in-process JFR recording whose stack
    * has an `org.apache.hadoop.fs` frame. Processes that other threads of
    * the JVM start meanwhile (Spark's `rm -rf` deletes, say) are not
    * counted. */
  def countProcessStarts[A](body: => A): (A, Int) = {
    val rec = new jdk.jfr.Recording
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = body
      rec.stop()
      val file = java.nio.file.Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(file)
        (out, jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
          .count(e => e.getEventType.getName == "jdk.ProcessStart" &&
            e.getStackTrace.getFrames.asScala.exists(
              _.getMethod.getType.getName.startsWith("org.apache.hadoop.fs."))))
      } finally java.nio.file.Files.delete(file)
    } finally rec.close()
  }

  /** Runs `body` and returns its result with the number of Spark jobs
    * started and task attempts ended meanwhile: a listener counts them,
    * with the listener bus drained before it is added and before it is
    * read. */
  def countJobsAndTasks[A](body: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain.drain(sc)
      (out, jobs.get, tasks.get)
    } finally sc.removeSparkListener(counter)
  }

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }
}
