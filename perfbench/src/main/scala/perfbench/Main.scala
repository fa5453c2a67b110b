package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Set-up timing and the measuring loop shared by the workloads. */
object Harness {
  /** Each workload sets up at least this many times, and for at least
    * `SetupSeconds`, and keeps the last result. The first few set-ups run
    * while the JIT is still compiling, so the median is a warm one; the
    * floor in seconds gives the set-ups of a few tens of milliseconds
    * enough samples for a steady median. */
  val SetupRepeats = 7
  val SetupSeconds = 1.0
  private val setupTimes = ArrayBuffer.empty[Double]

  def setup[T](f: => T): T = {
    val runs = loop(SetupSeconds, minRuns = SetupRepeats)(Stats.time(f))
    System.err.println("perfbench: set-ups " + runs.map(x => f"${x._2}%.3f").mkString(" ") + " s")
    setupTimes += Stats.median(runs.map(_._2))
    runs.last._1
  }
  def setupSeconds: Double = setupTimes.sum

  /** Runs `f` until `seconds` have passed, at least `minRuns` times. */
  def loop[T](seconds: Double, minRuns: Int)(f: => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[T]
    while (out.size < minRuns || Stats.seconds(t0) < seconds) out += f
    out.toSeq
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--corrupt] [--digest]`. Prints the workload's figures,
  * then one `RESULT {...}` line. */
object Main {
  val Workloads = Seq("pipeline_daily", "serve_republish", "catalog_mix")

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val cfg = Cfg(kv("--workload"), kv("--seed").toLong, kv("--seconds").toInt,
      kv.get("--trace").contains("1"), kv("--work"),
      args.contains("--corrupt"), args.contains("--digest"))
    require(Workloads.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    if (cfg.digestOnly) {
      println(s"DIGEST ${digest(cfg)}")
      return
    }
    val r = new Report
    val tracer = new Tracer(cfg.trace, s"${cfg.workload}-${cfg.seed}")
    val needsSpark = cfg.workload == "pipeline_daily" || cfg.workload == "catalog_mix"
    // setup_s leaves out the JVM's start before `main`: it is the same for
    // every version of the program. It counts the Spark session start, the
    // program's own set-up, and the workload's set-ups.
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val (spark, sessionS) = Stats.time(if (needsSpark) Some(session(cfg)) else None)
    spark.foreach(s => if (cfg.trace) s.sparkContext.addSparkListener(tracer.stages))
    try cfg.workload match {
      case "pipeline_daily" => Pipeline.workload(spark.get, cfg, r, tracer)
      case "serve_republish" => Serve.republish(cfg, r, tracer)
      case "catalog_mix" => Catalog.workload(spark.get, cfg, r, tracer)
    } finally spark.foreach(_.stop())
    val setup = sessionS + Harness.setupSeconds
    r.put("setup_s", setup, "s")
    r.show("setup_s", setup, "s")
    r.show("jvm_start_s", jvmS, "s")
    if (needsSpark) r.show("session_s", sessionS, "s")
    r.show("error_rate", r.failed.toDouble / math.max(r.attempted, 1), "ratio")
    tracer.write(s"${cfg.work}/trace.jsonl")
    r.failureMessages.foreach(m => System.err.println(s"FAILURE $m"))
    r.display.foreach { case (k, (v, u)) => println(f"$k%-24s $v%14.4f $u") }
    val metrics = r.metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""RESULT {"correct": ${r.failed == 0}, "attempted": ${math.max(r.attempted, 1)}, """ +
      s""""failed": ${r.failed}, "metrics": {$metrics}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def digest(cfg: Cfg): String = cfg.workload match {
    case "pipeline_daily" =>
      Pipeline.generate(cfg, Pipeline.Positions, Pipeline.Locations,
        Pipeline.MeanPerFile).digest
    case "catalog_mix" =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      Catalog.tables(cfg).foreach { case (n, _, rows) =>
        rows.foreach(row => md.update((n + row.mkString("\u0001") + "\n").getBytes("UTF-8")))
      }
      md.digest().map(b => f"$b%02x").mkString
    case w => // serve_republish: the preloaded store's segment contents
      val d = cfg.dir(s"$w/digest")
      Serve.republishStore(cfg, d)
      Serve.storeDigest(d)
  }

  def session(cfg: Cfg): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", cfg.dir("spark-local"))
      .config("spark.sql.warehouse.dir", cfg.dir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
