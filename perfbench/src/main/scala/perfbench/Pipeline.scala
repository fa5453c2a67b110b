package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.regexp_extract

import graft.pipelines.{Clean, Populate}
import graft.sources.{FileKvStore, HttpIngest}
import graft.sources.HttpIngest.FetchResult

/** The daily batch: scrape -> per-(term, location) CSV files -> clean ->
  * parquet -> top-10-skills populate -> publish into the file store. */
object Pipeline {

  // ---- corpus ------------------------------------------------------------

  final case class Listing(company: Option[String], rating: String,
      role: String, location: String, bullets: Vector[String],
      salary: Option[String], size: Option[String], jobType: String,
      industry: String, function: String, scores: Vector[String])

  final case class Task(idx: Int, term: String, loc: String, locName: String) {
    def stem: String = term.replace(' ', '-') + "-" + loc
  }

  /** The seeded input of the daily batch: what the job board would serve. */
  final class Corpus(val seed: Long, val date: String,
      val tasks: Vector[Task], val listings: Vector[Vector[Listing]]) {
    def size: Int = listings.map(_.size).sum

    /** Expected published rows: job position -> top-10 skills under
      * (count DESC, token ASC), from the listings that survive cleaning
      * (those with a company name). */
    def expectedTop10(skills: Seq[String]): Map[String, Seq[String]] = {
      val dict = skills.toSet
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((t, ls) <- tasks.zip(listings); l <- ls if l.company.isDefined) {
        l.bullets.mkString(" ").toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").iterator.filter(dict.contains).foreach { tok =>
            counts((t.term, tok)) = counts.getOrElse((t.term, tok), 0L) + 1
          }
      }
      counts.toSeq.groupBy(_._1._1).map { case (job, cs) =>
        job -> cs.sortBy { case ((_, tok), n) => (-n, tok) }.take(10).map(_._1._2)
      }
    }

    /** Canonical bytes of the corpus, for the same-seed self-check. */
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      for ((t, ls) <- tasks.zip(listings); l <- ls)
        md.update((t.stem + "\u0001" + l.toString + "\n").getBytes(UTF_8))
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  private val locations = Vector("nyc" -> "New York, NY",
    "sf" -> "San Francisco, CA", "london" -> "London", "berlin" -> "Berlin",
    "austin" -> "Austin, TX", "toronto" -> "Toronto, ON")
  private val companyA = Vector("Blue", "Bright", "North", "Silver", "Rapid",
    "Green", "Prime", "Swift", "Deep", "Open", "Clear", "Iron")
  private val companyB = Vector("River", "Peak", "Labs", "Works", "Systems",
    "Data", "Cloud", "Analytics", "Logic", "Signal", "Forge", "Harbor")
  private val companyC = Vector("Inc", "LLC", "Group", "Corp", "Co", "Ltd")

  def generate(cfg: Cfg, positions: Int, locs: Int, meanPerFile: Int): Corpus = {
    val r = cfg.rng("pipeline")
    val terms = r.shuffle((0 until Words.maxPositions).toVector)
      .take(positions).map(Words.position)
    val places = locations.take(locs)
    val tasks = (for (t <- terms; (loc, name) <- places) yield (t, loc, name))
      .zipWithIndex.map { case ((t, loc, name), i) => Task(i, t, loc, name) }
    // Each position favours its own few skills, so top-10s are well defined.
    val core = terms.map(t => t -> r.shuffle(Words.skills).take(14)).toMap
    // File sizes spread evenly over [mean/2, 3*mean/2] in seeded order, so
    // every seed has the same number of listings.
    val sizes = r.shuffle(tasks.indices.map(i =>
      math.max(1, meanPerFile / 2 + i * meanPerFile / math.max(tasks.size - 1, 1))).toVector)
    val listings = tasks.zip(sizes).map { case (t, n) =>
      Vector.fill(math.min(n, MaxPages * PageSize))(listing(r, t, core(t.term)))
    }
    val date = f"${1 + (cfg.seed % 28).toInt.abs}%02d-06-2024"
    new Corpus(cfg.seed, date, tasks, listings)
  }

  private def listing(r: scala.util.Random, t: Task, core: Vector[String]): Listing = {
    def pick[A](v: Vector[A]): A = v(r.nextInt(v.size))
    def skill(): String = {
      val s = if (r.nextDouble() < 0.8) core(math.min(r.nextInt(core.size),
        r.nextInt(core.size))) else pick(Words.skills)
      if (r.nextDouble() < 0.25) s.capitalize else s
    }
    val bullets = Vector.fill(5 + r.nextInt(5)) {
      Vector.fill(6 + r.nextInt(5)) {
        if (r.nextDouble() < 0.3) skill() else pick(Words.filler)
      }.mkString(" ")
    }
    val rating = f"${2.5 + r.nextInt(25) / 10.0}%.1f"
    val company =
      if (r.nextDouble() < 0.05) None
      else {
        val name = s"${pick(companyA)} ${pick(companyB)} ${pick(companyC)}"
        Some(if (r.nextBoolean()) s"$name$rating★" else name)
      }
    val lo = 20000 + r.nextInt(80) * 1000
    val salary = r.nextInt(4) match {
      case 0 => Some(s"£$lo - ${lo + 5000 + r.nextInt(40) * 1000} (Employer Est.)")
      case 1 => Some(s"$$${15 + r.nextInt(60)} Per Hour")
      case 2 => Some(s"COP ${lo * 100} - ${(lo + 20000) * 100}")
      case _ => None
    }
    val size = r.nextInt(3) match {
      case 0 => val a = 1 + r.nextInt(50); Some(s"${a * 10} to ${a * 20} Employees")
      case 1 => Some("10000+ Employees")
      case _ => None
    }
    Listing(company, rating, t.term.split(' ').map(_.capitalize).mkString(" "),
      t.locName, bullets, salary, size,
      pick(Vector("Full-time", "Contract", "Part-time")),
      pick(Vector("Information Technology", "Finance", "Healthcare", "Retail")),
      pick(Vector("Engineering", "Analytics", "Operations")),
      Vector.fill(4)(f"${1 + r.nextInt(40) / 10.0}%.1f"))
  }

  // ---- the job board the scraper fetches from ---------------------------

  val MaxPages = 10
  val PageSize = 30
  private val Host = "https://jobs.example"

  def baseUrl(t: Task): String = s"$Host/Job/t${t.idx}.htm"

  /** Corpora of the running JVM, by key: the fetcher ships to tasks by
    * key, not by value. Every task of a `local[n]` master runs here. */
  object Registry {
    val corpora = new ConcurrentHashMap[String, Corpus]
    val attempts = new LongAdder
    val retries = new LongAdder
    /** Attempts made per URL in the current pipeline run. */
    val tries = new ConcurrentHashMap[String, Integer]
    def reset(): Unit = { attempts.reset(); retries.reset(); tries.clear() }
  }

  /** Share of URLs whose first one or two attempts fail transiently. */
  val TransientShare = 0.03

  /** Renders result and detail pages from the URL; a seeded share of URLs
    * fail transiently before they succeed. Counts attempts and retries. */
  final class CorpusFetcher(key: String) extends HttpIngest.Fetcher {
    import CorpusFetcher._
    def fetchOnce(url: String): FetchResult = {
      val c = Registry.corpora.get(key)
      Registry.attempts.increment()
      val n = Registry.tries.merge(url, 1, (a: Integer, b: Integer) => a + b)
      val h = (url.hashCode.toLong * 31 + c.seed).abs % 1000
      val leadingFailures = if (h < TransientShare * 1000) 1 + (h % 2).toInt else 0
      if (n <= leadingFailures) {
        Registry.retries.increment()
        FetchResult.Transient
      } else url match {
        case PageRe(t, p) =>
          FetchResult.Ok(resultPage(c, t.toInt, Option(p).fold(1)(_.toInt)))
        case DetailRe(t, j) =>
          FetchResult.Ok(detailPage(c.listings(t.toInt)(j.toInt)))
        case _ => FetchResult.Permanent
      }
    }
  }

  object CorpusFetcher {
    private val PageRe = ".*/Job/t(\\d+)(?:_IP(\\d+))?\\.htm".r
    private val DetailRe = ".*jl=(\\d+)-(\\d+)".r
  }

  private def detailUrl(t: Task, j: Int): String =
    s"$Host/partner/jobListing.htm?src=${t.stem}&jl=${t.idx}-$j"

  def resultPage(c: Corpus, t: Int, page: Int): String = {
    val task = c.tasks(t)
    val ls = c.listings(t)
    val pages = (ls.size + PageSize - 1) / PageSize
    val b = new StringBuilder
    b ++= s"<html><body><h1>${ls.size} Jobs</h1><div>Page $page of $pages</div><ul>"
    for (j <- (page - 1) * PageSize until math.min(ls.size, page * PageSize)) {
      b ++= s"""<li class="jl"><a href="${detailUrl(task, j)}">${ls(j).role}</a>"""
      ls(j).salary.foreach(s => b ++= s"""<span data-test="detailSalary">$s</span>""")
      b ++= "</li>"
    }
    b ++= "</ul></body></html>"
    b.toString
  }

  def detailPage(l: Listing): String = {
    val b = new StringBuilder("<html><body>")
    l.company.foreach(n => b ++= s"""<div data-test="employerName">$n</div>""")
    b ++= s"""<div data-test="rating">${l.rating}</div>"""
    b ++= s"""<div data-test="jobTitle">${l.role}</div>"""
    b ++= s"""<div data-test="location">${l.location}</div>"""
    b ++= """<div class="JobDescriptionContainer"><ul>"""
    l.bullets.foreach(x => b ++= s"<li>$x</li>")
    b ++= "</ul></div><div>"
    val labels = Seq("Compensation & Benefits", "Culture & Values",
      "Career Opportunities", "Work/Life Balance")
    labels.zip(l.scores).foreach { case (k, v) =>
      b ++= s"<span>$k</span><span>$v</span>" }
    Seq("Job Type" -> Some(l.jobType), "Industry" -> Some(l.industry),
      "Job Function" -> Some(l.function), "Size" -> l.size).foreach {
      case (k, Some(v)) => b ++= s"<span>$k</span><span>$v</span>"
      case _ => ()
    }
    b ++= "</div></body></html>"
    b.toString
  }

  // ---- one pipeline run --------------------------------------------------

  /** Per-layer figures of one traced run that the Spark listener does not
    * give: the fetcher's counts and the time inside the sink. */
  final case class Layers(fetchAttempts: Long, fetchRetries: Long,
      sinkSeconds: Double, sinkRows: Long)

  /** Time spent inside the sink and rows put, summed over tasks. */
  object SinkClock {
    val nanos = new LongAdder
    val rows = new LongAdder
  }

  final class TimedSink(inner: Populate.RowSink) extends Populate.RowSink {
    def put(row: Map[String, String]): Unit = {
      val t0 = System.nanoTime()
      inner.put(row)
      SinkClock.nanos.add(System.nanoTime() - t0)
      SinkClock.rows.increment()
    }
  }

  /** Runs the batch once into `dir`; returns its wall seconds (first fetch
    * until the last row is published) and, when traced, layer figures. */
  def runOnce(spark: SparkSession, c: Corpus, key: String, dir: String,
      tracer: Tracer): (Double, Option[Layers]) = {
    import spark.implicits._
    val sc = Some(spark.sparkContext)
    Registry.reset(); SinkClock.nanos.reset(); SinkClock.rows.reset()
    val rawTmp = s"$dir/raw_parts"
    val rawDir = s"$dir/raw"
    val cleanDir = s"$dir/clean"
    val kvDir = s"$dir/kv"
    val tasks = c.tasks.map(t => HttpIngest.ScrapeTask(t.term, t.locName, baseUrl(t)))
    val t0 = System.nanoTime()
    tracer.span("pipeline") {
      tracer.span("ingest", sc) {
        HttpIngest.scrape(spark, tasks, new CorpusFetcher(key), MaxPages)
          .toDF().withColumn("__src", regexp_extract($"requested_url", "src=([^&]+)", 1))
          .write.partitionBy("__src").option("header", "true").csv(rawTmp)
        flattenCsv(rawTmp, rawDir, c.date)
      }
      tracer.span("clean", sc) {
        Clean.run(spark, rawDir).write.parquet(cleanDir)
      }
      tracer.span("publish", sc) {
        val published = Populate.run(spark.read.parquet(cleanDir), Words.skills)
        val sink = new FileKvStore(kvDir).rowSink("job_id")
        Populate.writeTo(published, if (tracer.enabled) new TimedSink(sink) else sink)
      }
    }
    val wall = Stats.seconds(t0)
    val layers = if (!tracer.enabled) None else Some(Layers(Registry.attempts.sum,
      Registry.retries.sum, SinkClock.nanos.sum / 1e9, SinkClock.rows.sum))
    (wall, layers)
  }

  /** Spark writes one `__src=<stem>` directory per (term, location); the
    * clean stage reads the reference's flat
    * `glassdoor-job-scrapping<date>-<term>-<location>.csv` files. */
  private def flattenCsv(from: String, to: String, date: String): Unit = {
    Files.createDirectories(Paths.get(to))
    val dirs = Option(new java.io.File(from).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("__src="))
    dirs.foreach { d =>
      val stem = d.getName.stripPrefix("__src=")
      val parts = d.listFiles().filter(f => f.getName.endsWith(".csv")).sortBy(_.getName)
      val target = Paths.get(to, s"glassdoor-job-scrapping$date-$stem.csv")
      if (parts.length == 1) Files.move(parts.head.toPath, target)
      else {
        val lines = parts.toSeq.zipWithIndex.flatMap { case (p, i) =>
          val ls = Files.readAllLines(p.toPath, UTF_8).asScala.toSeq
          if (i == 0) ls else ls.drop(1)
        }
        Files.write(target, lines.asJava, UTF_8)
      }
    }
  }

  /** Checks every published row against the expected top-10s: one attempt
    * per expected row, one failure per wrong, missing or unexpected row. */
  def verify(kvDir: String, expected: Map[String, Seq[String]], r: Report): Unit = {
    val store = FileKvStore.read(kvDir)
    val byId = expected.map { case (job, sk) => Uuid.v5(job) -> (job, sk) }
    r.attempt(byId.size.toLong)
    byId.foreach { case (id, (job, sk)) =>
      val want = Map("job_id" -> id, "job" -> job) ++
        sk.zipWithIndex.map { case (s, i) => s"top_skill_n_${i + 1}" -> s }
      store.get(id).map(RowCodec.decode) match {
        case Some(got) if got == want => ()
        case Some(got) => r.fail(s"pipeline: row for '$job' is $got, expected $want")
        case None => r.fail(s"pipeline: no row published for '$job'")
      }
    }
    store.keySet.diff(byId.keySet).foreach { k =>
      r.attempt(); r.fail(s"pipeline: unexpected published key $k")
    }
  }

  // ---- the workload ------------------------------------------------------

  val Positions = 30
  val Locations = 1
  val MeanPerFile = 60
  /** Run times keep falling for minutes after JVM start. Warm-up and
    * timing are counted in runs, not seconds, so the medians come from the
    * same stretch of that curve on a fast host as on a slow one. */
  val WarmupRuns = 3
  val TimedRuns = 8

  def workload(spark: SparkSession, cfg: Cfg, r: Report, tracer: Tracer): Unit = {
    val key = s"corpus-${cfg.seed}"
    val c = Harness.setup { generate(cfg, Positions, Locations, MeanPerFile) }
    Registry.corpora.put(key, c)
    val top10 = c.expectedTop10(Words.skills)
    // Self-check mode: one deliberately wrong expected row must fail.
    val expected =
      if (!cfg.corrupt) top10
      else top10.updated(top10.head._1, top10.head._2.reverse)
    var iter = 0
    def once(t: Tracer, corpus: Corpus, corpusKey: String,
        want: Map[String, Seq[String]]): (Double, Option[Layers]) = {
      val dir = cfg.dir(s"pipeline/run-$iter")
      iter += 1
      try {
        val res = runOnce(spark, corpus, corpusKey, dir, t)
        verify(s"$dir/kv", want, r)
        res
      } catch {
        case e: Exception =>
          r.attempt(); r.fail(s"pipeline: stage failed: $e")
          (Double.NaN, None)
      }
    }
    // Run directories are deleted outside the timed windows: on a file
    // system mounted with `discard`, deletes stall later writes.
    def cleanUp(): Unit = Files2.deleteTree(Paths.get(cfg.work, "pipeline"))
    // Untimed warm-up on the same corpus. The first run pays for class
    // loading and code generation; the runs after it warm the per-row paths.
    val off = new Tracer(false, "")
    val ww = (1 to WarmupRuns).map(_ => once(off, c, key, top10)._1)
    System.err.println("perfbench: warm-up runs " + ww.map(w => f"$w%.2f").mkString(" "))
    cleanUp()
    val jvm = new JvmWindow
    jvm.start()
    // With tracing on, traced and untraced runs alternate, so both sample
    // the same stretch of the warm-up curve.
    val plain = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[(Double, Option[Layers])]
    Harness.loop(cfg.seconds, minRuns = if (cfg.trace) 2 * TimedRuns else TimedRuns) {
      if (cfg.trace && (plain.size + traced.size) % 2 == 1)
        traced += once(tracer, c, key, expected)
      else plain += once(off, c, key, expected)._1
    }
    cleanUp()
    val walls = plain.toSeq.filterNot(_.isNaN)
    val p50 = Stats.median(walls)
    r.show("pipeline_s", p50, "s")
    r.show("pipeline_runs", walls.size.toDouble, "count")
    System.err.println("perfbench: timed runs " + walls.map(w => f"$w%.2f").mkString(" "))
    r.put("latency_p50_ms", p50 * 1e3, "ms")
    r.put("throughput_per_s", c.size / p50, "1/s")
    if (cfg.trace) {
      jvm.report(r)
      val walls2 = traced.toSeq.map(_._1).filterNot(_.isNaN)
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      val ls = traced.toSeq.flatMap(_._2)
      val n = math.max(ls.size, 1).toDouble
      def avg(f: Layers => Double): Double = ls.map(f).sum / n
      val runs = math.max(walls2.size, 1).toDouble
      // Row counts come from the listener: rows the span's tasks read from
      // and wrote to files.
      val (_, ingestRows) = tracer.stages.records("ingest")
      val (cleanIn, cleanOut) = tracer.stages.records("clean")
      r.put("ingest.s", tracer.seconds("ingest") / runs, "s")
      r.put("ingest.listings", ingestRows / runs, "count")
      r.put("ingest.fetch_attempts", avg(_.fetchAttempts.toDouble), "count")
      r.put("ingest.fetch_retries", avg(_.fetchRetries.toDouble), "count")
      r.put("clean.s", tracer.seconds("clean") / runs, "s")
      r.put("clean.rows_in", cleanIn / runs, "count")
      r.put("clean.rows_out", cleanOut / runs, "count")
      val publishS = tracer.seconds("publish") / runs
      val sinkS = avg(_.sinkSeconds)
      r.put("publish.s", publishS, "s")
      r.put("publish.sink_s", sinkS, "s")
      r.put("publish.rows", avg(_.sinkRows.toDouble), "count")
      r.put("populate.s", publishS - sinkS, "s")
      for (s <- Seq("ingest", "clean", "publish"))
        tracer.stages.report(r, s, s"spark.$s", runs)
      r.put("trace.overhead_pct",
        (Stats.median(walls2) - p50) / p50 * 100, "%")
    }
  }
}
