package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** Benchmark main: times every catalog query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver (BENCH_r{N}.json).
  *
  * Environment: SPARK_GRAFT_SF_DIR (data directory, default the sf0.1 set),
  * SPARK_GRAFT_CPUS (local[N] and shuffle partitions, default 32),
  * SPARK_GRAFT_BENCH_ONLY (comma-separated query names: a filtered run),
  * SPARK_GRAFT_BENCH_RUNS (timed runs per query, default 3) and
  * SPARK_GRAFT_BENCH_DETAIL_OUT (path for the full-precision detail
  * record).
  *
  * Methodology:
  *  - Full evaluation: each query is consumed by `bit_xor(xxhash64(*))`
  *    over ALL output columns, so Catalyst cannot prune the projections /
  *    window expressions being measured (a bare `.count()` lets column
  *    pruning delete the work). The trailing canonicalization ORDER BY is
  *    still elided under the agg — intentional: production plans don't
  *    carry an oracle-ordering sort either.
  *  - A filtered run warms the session with 12 floor-shaped consumes,
  *    runs each of its queries twice untimed, then reports per query the
  *    median of SPARK_GRAFT_BENCH_RUNS timed runs, each started on a
  *    quiesced session. Single runs of sub-second queries jitter up to ±2x
  *    on a shared box; the median of 3 is stable to <20% on unchanged code.
  *  - A full run (SPARK_GRAFT_BENCH_ONLY unset) times no query itself: it
  *    hands the sorted catalog to fresh child JVMs, [[ChunkSize]] queries
  *    each, and every child is a filtered run of this main. Timed in one
  *    JVM, residue of the preceding ~200 queries (JIT/codegen churn, heap
  *    fragmentation) inflated multi-second queries up to 3x over their
  *    isolated medians (q_assoc_rules 7.79 s in-sweep vs 2.82 s isolated
  *    on identical code). The parent brackets the chunks with a drift
  *    sentinel and records each child's own floor probe per chunk.
  *  - A failing query is reported in an "errors" map, not as a timing.
  */
object Bench {

  /** Queries per child JVM in a full run: the chunk size the committed
    * BENCH_DETAIL_ISOLATED.json was swept at. */
  val ChunkSize = 10

  /** Mid-weight query the drift sentinel times at sweep start and end. */
  private val SentinelAnchor = "q_agg_corr"

  /** Force end-to-end evaluation of every output column. bit_xor (not sum)
    * folds the row hashes: hash sums overflow longs within a few thousand
    * rows under ANSI-default Spark 4. */
  private def consume(df: DataFrame): Unit = {
    val h = xxhash64(df.columns.map(col): _*)
    df.select(h.as("h")).agg(expr("bit_xor(h)")).collect()
  }

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Release every block the previous query left behind, OUTSIDE any timed
    * window: [[graft.core.Sessions.release]], then two GC passes with a
    * short pause. The iterative queries' broadcasts and shuffle files are
    * freed by ContextCleaner only after a JVM GC proves the references
    * dead, and the cleaner works asynchronously — with a bare System.gc()
    * between queries, state piled up across a sweep and inflated
    * checkpoint-heavy queries up to 3x (q_graph_pagerank 11.0 s in-sweep
    * vs 3.40 s isolated on identical code). The pause lets the cleaner's
    * reference queue drain before the next timer starts. */
  private[graft] def quiesce(spark: SparkSession): Unit = {
    graft.core.Sessions.release(spark)
    System.gc(); Thread.sleep(120)
    System.gc(); Thread.sleep(60)
  }

  /** The one timing loop: `runs` timed consumes of a query, each on a
    * quiesced session. Returns the median of the successful runs (middle
    * element, ties low; None when every run failed) and the first
    * failure's message, stripped of quotes, backslashes and line breaks
    * so it embeds in JSON as is. */
  private def timeQuery(spark: SparkSession, sfDir: String,
                        fn: (SparkSession, String) => DataFrame,
                        runs: Int): (Option[Double], Option[String]) = {
    var err = Option.empty[String]
    val times = (1 to runs).flatMap { _ =>
      quiesce(spark)
      try Some(secs(consume(fn(spark, sfDir))))
      catch {
        case e: Throwable =>
          if (err.isEmpty) err = Some(Option(e.getMessage)
            .getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(120))
          None
      }
    }
    (times.sorted.lift((times.size - 1) / 2), err)
  }

  /** What a child JVM reports for its chunk: per-query medians, per-query
    * errors and the child's own end-of-run floor probe (-1.0 if absent). */
  final case class ChildResult(times: Map[String, Double],
                               errors: Map[String, String],
                               floorSec: Double)

  private val Num = """([0-9]+(?:\.[0-9]+)?(?:[eE]-?[0-9]+)?)"""

  /** Parse a child's detail line for `chunk`. Every member must have a
    * timing or an error, else None: the caller then re-times the chunk
    * in-process. Error messages carry no quote (see [[timeQuery]]), so a
    * `"q_…":"…"` pair can only be an errors entry and a `"q_…":<n>` pair
    * only a timing. */
  def parseChild(line: String, chunk: Seq[String]): Option[ChildResult] = {
    val times = raw""""(q_\w+)":$Num""".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val errors = raw""""(q_\w+)":"([^"]*)"""".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2)).toMap
    if (!chunk.forall(q => times.contains(q) || errors.contains(q))) None
    else {
      // The first floor_sec is the child's own; its chunk_floors is empty.
      val floor = raw""""floor_sec":$Num""".r.findFirstMatchIn(line)
        .map(_.group(1).toDouble).getOrElse(-1.0)
      Some(ChildResult(times, errors, floor))
    }
  }

  /** Locale-pinned 3-decimal formatting: the f"" interpolator uses the
    * JVM default locale, and a comma-decimal locale would turn the summary
    * line into invalid JSON that its reader silently fails to parse. */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def errorEntries(errors: Seq[(String, String)]): Seq[String] =
    errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }

  private def errorsJson(errors: Seq[(String, String)]): String =
    errorEntries(errors).mkString("{", ",", "}")

  /** The one-line JSON summary on stdout. Its reader keeps only a bounded
    * tail of this process's output (~2.5 kB lines came back unparsed), so
    * the two maps share a 1400-byte budget: errors first, in at most half
    * of it, then queries slowest first with 3-decimal seconds. What does
    * not fit is counted in "omitted" / "errors_omitted" and present in
    * full in the detail record. */
  def summaryLine(results: Seq[(String, Double)],
                  errors: Seq[(String, String)],
                  nRuns: Int, sfDir: String): String = {
    var left = 1400
    // The entries that fit `cap` bytes, comma included, charged to `left`.
    def fit(entries: Seq[String], cap: Int): Seq[String] = {
      var used = 0
      val kept = entries.filter { e =>
        val n = e.getBytes("UTF-8").length + 1
        val ok = used + n <= cap
        if (ok) used += n
        ok
      }
      left -= used
      kept
    }
    val keptErrors = fit(errorEntries(errors), left / 2)
    val kept = fit(results.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + f3(v) }, left)
    val total = results.map(_._2).sum
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":${results.size},"queries":${kept.mkString("{", ",", "}")},"omitted":${results.size - kept.size},"detail":"BENCH_DETAIL.json","errors":${keptErrors.mkString("{", ",", "}")},"errors_omitted":${errors.size - keptErrors.size},"runs":$nRuns,"sf":"$sfDir"}"""
  }

  /** A classpath a child JVM can boot from. The forked JVM's own
    * java.class.path comes first: it is sufficient by construction, and
    * it survives `sbt runMain` copying every entry into per-jar hash
    * directories under target/bg-jobs/, where a jar DIRECTORY derived
    * from one class's code source holds a single jar and the child dies
    * with NoClassDefFoundError. The code-source scheme is the fallback
    * for in-process launches whose java.class.path is the sbt launcher.
    * Each candidate is probed functionally rather than by name (a name
    * match rejects Spark behind a wildcard or in an assembly jar): it is
    * usable iff the Scala library, Spark SQL and this Bench all resolve
    * from its entries. */
  private def childClasspath(): Option[String] = {
    def resolvesChildBootstrap(cp: String): Boolean = try {
      val urls = cp.split(java.io.File.pathSeparator).filter(_.nonEmpty)
        .flatMap { e =>
          if (e.endsWith("*")) {
            val dir = new java.io.File(e.dropRight(1))
            Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
              .filter(_.getName.endsWith(".jar")).map(_.toURI.toURL)
          } else Array(new java.io.File(e).toURI.toURL)
        }
      val cl = new java.net.URLClassLoader(urls, null)
      try {
        Seq("scala.collection.immutable.Seq",
          "org.apache.spark.sql.SparkSession",
          "graft.Bench").foreach(cl.loadClass)
        true
      } finally cl.close()
    } catch { case scala.util.control.NonFatal(_) => false }
    val codeSourceCp = try {
      val classesDir = new java.io.File(
        Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      val sparkJarDir = new java.io.File(
        classOf[SparkSession].getProtectionDomain
          .getCodeSource.getLocation.toURI).getParentFile
      Some(classesDir.getPath + java.io.File.pathSeparator +
        sparkJarDir.getPath + java.io.File.separator + "*")
    } catch { case scala.util.control.NonFatal(_) => None }
    (Option(System.getProperty("java.class.path")) ++ codeSourceCp)
      .find(resolvesChildBootstrap)
  }

  /** Run `chunk` as a filtered run of this main in a fresh child JVM and
    * read its detail record. None — loudly — if the child cannot start,
    * dies, times out, or leaves a member with neither a timing nor an
    * error; the caller then times the chunk in-process. */
  private def childBench(chunk: Seq[String], nRuns: Int, sfDir: String,
                         cpus: String): Option[ChildResult] = {
    def failed(why: String): Option[ChildResult] = {
      System.err.println(s"[bench] child JVM for ${chunk.head}.. $why; " +
        "falling back in-process")
      None
    }
    try childClasspath() match {
      case None => failed("has no classpath that resolves its bootstrap")
      case Some(cp) =>
        val javaExe = new java.io.File(
          new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
        // Inherit the parent JVM's flags (heap, code cache, add-opens from
        // build.sbt's forked javaOptions), minus agents/log decorations,
        // and ALWAYS append Spark's JDK-17 module opens — a plain
        // `java -cp` parent carries none, and without java.nio open a
        // disk-spilling child dies in Kryo on HeapByteBuffer. Duplicate
        // --add-opens flags are harmless.
        import scala.jdk.CollectionConverters._
        val inherited = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala
          .filterNot(a => a.startsWith("-agentlib") ||
            a.startsWith("-javaagent") || a.startsWith("-Xlog"))
        val addOpens = Seq(
          "java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar")
          .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
        val pb = new ProcessBuilder((Seq(javaExe) ++ inherited ++ addOpens ++
          Seq("-cp", cp, "graft.Bench")).asJava)
        // Results come back through the child's full-precision detail
        // file, which also carries its floor probe; it overrides any
        // inherited SPARK_GRAFT_BENCH_DETAIL_OUT.
        val detailFile =
          java.io.File.createTempFile("graft-bench-child", ".detail.json")
        detailFile.deleteOnExit()
        val env = pb.environment()
        env.put("SPARK_GRAFT_BENCH_ONLY", chunk.mkString(","))
        env.put("SPARK_GRAFT_BENCH_RUNS", nRuns.toString)
        env.put("SPARK_GRAFT_SF_DIR", sfDir)
        env.put("SPARK_GRAFT_CPUS", cpus)
        env.put("SPARK_GRAFT_BENCH_DETAIL_OUT", detailFile.getPath)
        // No pipes: Spark's stderr chatter flows through, and the summary
        // line is discarded, so the first blocking call after start() is
        // the bounded waitFor and a hung child is killed at 30 minutes.
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        val p = pb.start()
        val done = p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { p.destroyForcibly(); p.waitFor() }
        val line = new String(
          java.nio.file.Files.readAllBytes(detailFile.toPath), "UTF-8")
        detailFile.delete()
        if (!done || p.exitValue() != 0) failed(s"failed (timeout=${!done})")
        else parseChild(line, chunk).orElse(failed(
          "reported neither a timing nor an error for some query"))
    } catch {
      case scala.util.control.NonFatal(e) => failed(s"could not run ($e)")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)
    val catalog = SparkEntry.queries

    // Filtered mode: SPARK_GRAFT_BENCH_ONLY is a comma-separated name
    // list. Unknown names are a hard error (the same trap as Verify's
    // filtered mode: a typo silently timing nothing reads as a pass).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- catalog.keySet
      if (unknown.nonEmpty) {
        System.err.println(s"[bench] unknown queries: ${unknown.mkString(", ")}")
        sys.exit(2)
      }
    }
    val names = catalog.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val errors = mutable.LinkedHashMap.empty[String, String]

    /** A filtered run's timing: cold-JVM warm-up, then [[timeQuery]] per
      * query. A dozen floor-shaped consumes JIT the shared timing path
      * (scheduler, collect, xxhash64/bit_xor codegen, shuffle client),
      * which otherwise put a 10-query child's floor at 0.198 s vs 0.09 s
      * warm. Each query then runs twice untimed (failures surface in the
      * timed runs): the first run pays the query's one-off Janino
      * compiles, which would otherwise land in its first timed run. */
    def timeInProcess(qs: Seq[String]): Seq[(String, Double)] = {
      (1 to 12).foreach(_ => consume(spark.range(1).toDF("id")))
      qs.foreach { n =>
        (1 to 2).foreach { _ =>
          try consume(catalog(n)(spark, sfDir)) catch { case _: Throwable => () }
          quiesce(spark)
        }
      }
      qs.flatMap { n =>
        val (median, err) = timeQuery(spark, sfDir, catalog(n), nRuns)
        err.foreach(errors.getOrElseUpdate(n, _))
        median.map(n -> _)
      }
    }

    // ONE floor estimator for every reading (start sentinel, end sentinel,
    // the detail's floor_sec, which tools/bench_proxy.py subtracts per
    // query): 8 untimed consumes, then the median of 7 timed ones of a
    // 1-row range through the exact timing path every query takes. Two
    // estimators of one quantity would bias the start/end drift signal.
    def floorProbe(): Double = {
      val once = () => secs(consume(spark.range(1).toDF("id")))
      (1 to 8).foreach(_ => once())
      (1 to 7).map(_ => once()).sorted.apply(3)
    }
    // Drift sentinel: the box drifted 20–30% intra-day, so a full run
    // brackets its chunks with the floor probe and one mid-weight anchor
    // query, timed at the start and the end. BASELINE.md's rule compares
    // (q − floor)/(anchor − floor) across artifacts, each with its own
    // bracket means.
    def sentinelAnchor(): Double =
      try {
        val fn = catalog(SentinelAnchor)
        consume(fn(spark, sfDir)) // warm
        val (median, err) = timeQuery(spark, sfDir, fn, 3)
        quiesce(spark)
        if (err.isDefined) -1.0 else median.getOrElse(-1.0)
      } catch { case scala.util.control.NonFatal(_) => -1.0 }

    val chunkFloors = mutable.ArrayBuffer.empty[(Seq[String], Double)]
    val (floorStart, anchorStart) =
      if (only.isEmpty) (floorProbe(), sentinelAnchor()) else (-1.0, -1.0)
    val results = (
      if (only.isDefined) timeInProcess(names)
      else names.grouped(ChunkSize).flatMap { chunk =>
        quiesce(spark) // the parent idles with a drained block manager
        childBench(chunk, nRuns, sfDir, cpus) match {
          case Some(c) =>
            c.errors.foreach { case (n, e) => errors.getOrElseUpdate(n, e) }
            chunkFloors += ((chunk, c.floorSec))
            c.times.toSeq
          case None => timeInProcess(chunk)
        }
      }.toSeq
    ).sortBy(_._1)
    val selection =
      if (only.isDefined) s"median-of-$nRuns-runs"
      else s"median-of-$nRuns-runs+child-jvm-chunks-of-$ChunkSize"

    val floorSec = floorProbe()
    val anchorEnd = if (only.isEmpty) sentinelAnchor() else -1.0
    val sentinelJson =
      s"""{"anchor":"$SentinelAnchor","floor_start":$floorStart,""" +
        s""""anchor_start":$anchorStart,"floor_end":$floorSec,""" +
        s""""anchor_end":$anchorEnd}"""

    // Full-precision per-query detail, one entry per timed query, with its
    // provenance: runs per median, selection rule, the floor probe, one
    // record per dispatched chunk with THAT child's floor (rows normalize
    // against their own chunk's floor), and the drift sentinel.
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val chunkJson = chunkFloors.map { case (qs, fl) =>
      qs.map("\"" + _ + "\"").mkString("""{"queries":[""", ",", s"""],"floor_sec":$fl}""")
    }.mkString("[", ",", "]")
    val detail =
      s"""{"metric":"total","value":${results.map(_._2).sum},"unit":"sec","queries":$fullQs,"errors":${errorsJson(errors.toSeq)},"runs":$nRuns,"selection":"$selection","floor_sec":$floorSec,"chunk_floors":$chunkJson,"sentinel":$sentinelJson,"sf":"$sfDir"}"""
    // Only a full run at the canonical bench scale overwrites the
    // committed BENCH_DETAIL.json (a full sf0.001 smoke would replace it
    // with toy numbers); SPARK_GRAFT_BENCH_DETAIL_OUT writes any run's
    // record to an explicit path. A failed write is LOUD: a swallowed
    // IOException leaves a stale file masquerading as current.
    val detailPaths =
      (if (only.isEmpty && sfDir.endsWith("sf0.1")) Seq("BENCH_DETAIL.json")
       else Nil) ++ sys.env.get("SPARK_GRAFT_BENCH_DETAIL_OUT")
    detailPaths.foreach { p =>
      try {
        val w = new java.io.PrintWriter(p)
        try w.println(detail) finally w.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] detail write to $p FAILED: $e")
      }
    }

    println(summaryLine(results, errors.toSeq, nRuns, sfDir))
    spark.stop()
  }
}
