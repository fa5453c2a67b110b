package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around calls into the program's layers. Spans stay in
  * memory and are written once, as JSON lines, when the run ends. With
  * tracing off every call is a plain pass-through. */
final class Tracer(val enabled: Boolean, runId: String) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Int] { override def initialValue = -1 }
  private var nextId = 0

  /** Spark figures per span name, filled from the listener. */
  val stages = new StageFigures

  def span[T](name: String, sc: Option[SparkContext] = None)(f: => T): T =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = current.get
      current.set(id)
      sc.foreach(_.setLocalProperty(StageFigures.SpanKey, name))
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.foreach(_.setLocalProperty(StageFigures.SpanKey, null))
        current.set(parent)
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  /** Total seconds of every span with this name. */
  def seconds(name: String): Double = synchronized {
    spans.iterator.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
  }

  def write(path: String): Unit = if (enabled) {
    val lines = synchronized(spans.toList).map { s =>
      s"""{"run": "$runId", "id": ${s.id}, "name": "${s.name}", """ +
        s""""parent": ${s.parent}, "start_ns": ${s.start}, "end_ns": ${s.end}}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)
}

/** Spark listener that adds task metrics to the span named in the job's
  * `perfbench.span` local property. */
final class StageFigures extends SparkListener {
  final class Fig {
    var jobs = 0L; var tasks = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L; var peakExecMem = 0L; var cpuNs = 0L
    var recordsRead = 0L; var recordsWritten = 0L
  }
  private val stageSpan = new ConcurrentHashMap[Int, String]
  private val figs = mutable.HashMap.empty[String, Fig]

  private def fig(span: String): Fig = figs.getOrElseUpdate(span, new Fig)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(StageFigures.SpanKey)))
    span.foreach { s =>
      synchronized(fig(s).jobs += 1)
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      synchronized {
        val f = fig(s)
        f.tasks += 1
        if (m != null) {
          f.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          f.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          f.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          f.peakExecMem = math.max(f.peakExecMem, m.peakExecutionMemory)
          f.cpuNs += m.executorCpuTime
          f.recordsRead += m.inputMetrics.recordsRead
          f.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }

  /** Rows the span's tasks read from files and wrote to files, summed. */
  def records(span: String): (Long, Long) = synchronized {
    figs.get(span).fold((0L, 0L))(f => (f.recordsRead, f.recordsWritten))
  }

  /** Puts `<prefix>.jobs`, `.tasks`, ... for one span into the report, as
    * per-run averages over `runs` runs of the span (peak memory: the max). */
  def report(r: Report, span: String, prefix: String, runs: Double): Unit = {
    val f = synchronized(figs.getOrElse(span, new Fig))
    r.put(s"$prefix.jobs", f.jobs / runs, "count")
    r.put(s"$prefix.tasks", f.tasks / runs, "count")
    r.put(s"$prefix.shuffle_write_bytes", f.shuffleWrite / runs, "bytes")
    r.put(s"$prefix.shuffle_read_bytes", f.shuffleRead / runs, "bytes")
    r.put(s"$prefix.spill_bytes", f.spill / runs, "bytes")
    r.put(s"$prefix.peak_exec_mem_bytes", f.peakExecMem.toDouble, "bytes")
    r.put(s"$prefix.executor_cpu_s", f.cpuNs / 1e9 / runs, "s")
  }
}

object StageFigures {
  val SpanKey = "perfbench.span"
}

/** Garbage-collection time and peak heap over a measured window. */
final class JvmWindow {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toList
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long = gcs.map(g => math.max(g.getCollectionTime, 0L)).sum
  private var gc0 = 0L

  def start(): Unit = { heapPools.foreach(_.resetPeakUsage()); gc0 = gcMs }

  def report(r: Report): Unit = {
    r.put("jvm.gc_s", (gcMs - gc0) / 1e3, "s")
    r.put("jvm.heap_peak_mb",
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0), "MB")
  }
}
