package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.sources.{FileKvStore, SkillsHttpServer}

/** Serving: `SkillsHttpServer` over a `FileKvStore` directory under a closed
  * loop of HTTP clients, with one writer republishing and compacting it. */
object Serve {

  val Clients = 3
  /** Share of requests that are `GET /skills` scans; the rest are point GETs. */
  val ListShare = 0.10
  /** Share of point GETs on keys that were never published (404). */
  val AbsentShare = 0.10
  val ZipfExponent = 1.1
  val WarmupSeconds = 0.5
  /** Keys in the served store. At this size replaying the log is a visible
    * share of each request, next to the server's fixed per-response cost. */
  val StoreKeys = 2000

  /** Published rows: one per job, generation `gen` of its top-10 skills. */
  final class Rows(seed: Long, val jobs: Vector[String]) {
    val ids: Vector[String] = jobs.map(Uuid.v5)
    val jobOf: Map[String, String] = ids.zip(jobs).toMap

    def row(id: String, gen: Int): Map[String, String] = {
      val job = jobOf(id)
      val r = new scala.util.Random(seed * 31 + job.hashCode * 1000003L + gen)
      val picks = r.shuffle(Words.skills).take(10)
      Map("job_id" -> id, "job" -> job) ++
        picks.zipWithIndex.map { case (s, i) => s"top_skill_n_${i + 1}" -> s }
    }
  }

  /** Writes rows through the public populate sink, one store instance (one
    * log segment) per call. Returns the seconds the batch took. */
  def publish(dir: String, rows: Iterable[Map[String, String]]): Double = {
    val t0 = System.nanoTime()
    val sink = new FileKvStore(dir).rowSink("job_id")
    rows.foreach(sink.put)
    Stats.seconds(t0)
  }

  /** Segment prefixes are millisecond creation times; keep them distinct so
    * last-write-wins across segments is well defined. */
  private def nextMilli(): Unit = Thread.sleep(2)

  final case class StoreStats(liveKeys: Int, segments: Int, logBytes: Long)

  def storeStats(dir: String): StoreStats = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("log-") && f.getName.endsWith(".tsv"))
    StoreStats(FileKvStore.read(dir).size, files.length, files.map(_.length).sum)
  }

  // ---- clients -------------------------------------------------------------

  final case class Sample(kind: Char, nanos: Long, traced: Boolean)

  /** With tracing on, the timed window alternates untraced and traced
    * slices of this length, so both sample the same stretch of the run. */
  val SliceSeconds = 1.0

  private val json = new ObjectMapper()

  private def fields(node: JsonNode): Map[String, String] =
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  /** Runs the closed loop for `seconds` after a warm-up; returns samples of
    * the timed part. Every response is checked; failures go to `r`. With
    * tracing on, requests in odd slices are traced, and every 10th of them
    * is preceded by a direct store read from the same client slot. */
  def clients(cfg: Cfg, port: Int, dir: String, w: Writer, seconds: Double,
      r: Report, tracer: Tracer, kvReads: ArrayBuffer[Double]): Seq[Sample] = {
    val ids = w.rows.ids
    val absent = Vector.tabulate(100)(i => Uuid.v5(s"absent position $i"))
    // Zipf over a seeded ranking of the keys.
    val ranked = cfg.rng("zipf-rank").shuffle(ids)
    val cdf = {
      val w = ranked.indices.map(i => 1.0 / math.pow(i + 1, ZipfExponent))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def zipf(u: Double): String = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      ranked(math.min(if (i >= 0) i else -i - 1, ranked.size - 1))
    }
    val stop = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val timedFrom = t0 + (WarmupSeconds * 1e9).toLong
    val off = new Tracer(false, "")
    def tracedAt(now: Long): Boolean = tracer.enabled && now >= timedFrom &&
      ((now - timedFrom) / (SliceSeconds * 1e9).toLong) % 2 == 1
    val results = Array.fill(Clients)(ArrayBuffer.empty[Sample])
    val reads = Array.fill(Clients)(ArrayBuffer.empty[Double])
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val rng = cfg.rng(s"client-$c")
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
          .connectTimeout(Duration.ofSeconds(10)).build()
        var op = 0L
        while (!stop.get) {
          op += 1
          val traced = tracedAt(System.nanoTime())
          val t = if (traced) tracer else off
          if (traced && op % 10 == 0) {
            // Direct store read from this client slot: the replay cost alone.
            val (_, s) = Stats.time(t.span("kv.read")(FileKvStore.read(dir)))
            reads(c) += s * 1e3
          }
          val isList = rng.nextDouble() < ListShare
          val id =
            if (isList) ""
            else if (rng.nextDouble() < AbsentShare) absent(rng.nextInt(absent.size))
            else zipf(rng.nextDouble())
          val path = if (isList) "/skills" else s"/skills/$id"
          val lo = w.completed
          val start = System.nanoTime()
          r.attempt()
          try {
            val resp = t.span(if (isList) "http.list" else "http.get") {
              http.send(
                HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
                  .timeout(Duration.ofSeconds(30)).GET().build(),
                HttpResponse.BodyHandlers.ofString())
            }
            val end = System.nanoTime()
            check(w, id, isList, lo, resp.statusCode, resp.body, r)
            if (start >= timedFrom)
              results(c) += Sample(if (isList) 'L' else 'G', end - start, traced)
          } catch {
            case scala.util.control.NonFatal(e) =>
              r.fail(s"serve: $path: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      })
    }
    threads.foreach(_.start())
    Thread.sleep(((WarmupSeconds + seconds) * 1e3).toLong)
    stop.set(true)
    threads.foreach(_.join())
    reads.foreach(kvReads ++= _)
    results.toSeq.flatten
  }

  /** A GET of a key may return any generation from the newest one completed
    * before it was sent (`lo`) to the newest one started when it returned. */
  private def check(w: Writer, id: String, isList: Boolean, lo: Int,
      status: Int, body: String, r: Report): Unit = {
    val rows = w.rows
    if (isList) {
      if (status != 200) r.fail(s"serve: GET /skills status $status")
      else {
        val data = json.readTree(body).get("data")
        val got = data.elements().asScala.map(fields).toSeq
        val want = rows.ids.map(i => Map("job_id" -> i, "job" -> rows.jobOf(i)))
        if (got.size != want.size || got.toSet != want.toSet)
          r.fail(s"serve: GET /skills listed ${got.size} rows, expected ${want.size}")
      }
    } else if (!rows.jobOf.contains(id)) {
      if (status != 404) r.fail(s"serve: absent key $id gave status $status")
    } else if (status != 200) {
      r.fail(s"serve: key $id gave status $status")
    } else {
      val hi = w.started
      val got = fields(json.readTree(body).get("data"))
      if (!(lo to hi).exists(g => got == rows.row(id, g)))
        r.fail(s"serve: key $id returned $got, expected a generation in [$lo, $hi]")
    }
  }

  // ---- workloads -------------------------------------------------------------

  /** serve_republish's store: one publish at generation 0, in 4 segments. */
  def republishStore(cfg: Cfg, dir: String): Rows = {
    val rng = cfg.rng("republish")
    val all = new Rows(cfg.seed, rng.shuffle((0 until StoreKeys).toVector).map(Words.job))
    all.ids.grouped(all.ids.size / 4).foreach { ids =>
      publish(dir, ids.map(all.row(_, 0))); nextMilli()
    }
    all
  }

  /** Digest of a store's segment contents in replay order. */
  def storeDigest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("log-")).sortBy(_.getName)
      .foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def freshDir(cfg: Cfg): String =
    cfg.dir(s"${cfg.workload}/store-${System.nanoTime()}")

  /** The only writer of serve_republish: every `IntervalMs` it republishes
    * every row at the next generation; every `CompactEvery`-th batch it
    * compacts the store, as `FileKvStore.compact` requires, from the one
    * writer thread. */
  final class Writer(dir: String, val rows: Rows, tracer: Tracer,
      corrupt: Option[String]) extends Thread {
    /** One batch a second. With a batch every 200 ms, five times the log
      * I/O, GET medians moved by up to a third between sets of runs. */
    val IntervalMs = 1000L
    val CompactEvery = 5
    @volatile var completed = 0
    @volatile var started = 0
    @volatile var halt = false
    val batchS = ArrayBuffer.empty[Double]
    val compactS = ArrayBuffer.empty[Double]
    val compactBytes = ArrayBuffer.empty[Double]
    val stats = ArrayBuffer.empty[StoreStats]

    override def run(): Unit = {
      var next = System.currentTimeMillis() + IntervalMs
      while (!halt) {
        Thread.sleep(math.max(0L, next - System.currentTimeMillis()))
        next += IntervalMs
        val g = started + 1
        started = g
        batchS += tracer.span("republish")(publish(dir, rows.ids.map { id =>
          val row = rows.row(id, g)
          if (corrupt.contains(id)) row.updated("top_skill_n_1", "corrupted") else row
        }))
        completed = g
        nextMilli()
        if (g % CompactEvery == 0) {
          val (_, s) = Stats.time(tracer.span("compact")(FileKvStore.compact(dir)))
          compactS += s
          compactBytes += Files2.sizeOf(dir).toDouble
          nextMilli()
        }
        if (tracer.enabled) stats += storeStats(dir)
      }
    }
  }

  /** serve_republish: a store of one publish, read by the clients while
    * the writer republishes and compacts it. */
  def republish(cfg: Cfg, r: Report, tracer: Tracer): Unit = {
    val (dir, all) = Harness.setup {
      val d = freshDir(cfg)
      (d, republishStore(cfg, d))
    }
    // Self-check mode: the writer publishes the most requested row corrupted.
    val corrupt = Some(cfg.rng("zipf-rank").shuffle(all.ids).head).filter(_ => cfg.corrupt)
    val writer = new Writer(dir, all, tracer, corrupt)
    writer.start()
    try run(cfg, r, tracer, dir, writer)
    finally { writer.halt = true; writer.join() }
  }

  private def ms(samples: Seq[Sample], kind: Char): Seq[Double] =
    samples.filter(_.kind == kind).map(_.nanos / 1e6)

  /** Serves `dir` to the clients. The end-to-end figures come from the
    * untraced requests: all of them, or half the window with tracing on. */
  private def run(cfg: Cfg, r: Report, tracer: Tracer, dir: String,
      writer: Writer): Unit = {
    val server = new SkillsHttpServer(dir)
    server.start()
    try {
      val jvm = new JvmWindow
      jvm.start()
      val kvReads = ArrayBuffer.empty[Double]
      val all = clients(cfg, server.port, dir, writer, cfg.seconds, r, tracer, kvReads)
      val (t, s) = all.partition(_.traced)
      val window = if (tracer.enabled) cfg.seconds / 2.0 else cfg.seconds.toDouble
      val get = ms(s, 'G')
      val list = ms(s, 'L')
      val getP50 = Stats.median(get)
      r.put("latency_p50_ms", getP50, "ms")
      r.put("throughput_per_s", s.size / window, "1/s")
      r.show("get_p50_ms", getP50, "ms")
      r.show("get_p95_ms", Stats.quantile(get, 0.95), "ms")
      r.show("get_p99_ms", Stats.quantile(get, 0.99), "ms")
      r.show("get_samples", get.size.toDouble, "count")
      r.show("list_p50_ms", Stats.median(list), "ms")
      r.show("list_p90_ms", Stats.quantile(list, 0.9), "ms")
      r.show("requests_per_s", s.size / window, "1/s")
      r.show("republish_s", Stats.median(writer.batchS.toSeq), "s")
      if (tracer.enabled) {
        jvm.report(r)
        r.put("serve.get_p99_ms", Stats.quantile(get, 0.99), "ms")
        r.put("serve.list_p50_ms", Stats.median(list), "ms")
        r.put("serve.list_p90_ms", Stats.quantile(list, 0.9), "ms")
        val tGet = ms(t, 'G')
        val kvRead = Stats.median(kvReads.toSeq)
        r.put("kv.read_ms", kvRead, "ms")
        r.put("http.server_self_ms", Stats.median(tGet) - kvRead, "ms")
        // The store grows between compactions: take its median state.
        val st = writer.stats.sortBy(_.logBytes).apply(writer.stats.size / 2)
        r.put("kv.live_keys", st.liveKeys.toDouble, "count")
        r.put("kv.segments", st.segments.toDouble, "count")
        r.put("kv.log_bytes", st.logBytes.toDouble, "bytes")
        r.put("kv.bytes_per_live_key", st.logBytes.toDouble / math.max(st.liveKeys, 1), "bytes")
        r.put("republish.visible_s", Stats.median(writer.batchS.toSeq), "s")
        r.put("republish.sink_us_per_row",
          Stats.median(writer.batchS.toSeq) / writer.rows.ids.size * 1e6, "us")
        r.put("compact.s", Stats.median(writer.compactS.toSeq), "s")
        r.put("compact.bytes_rewritten", Stats.median(writer.compactBytes.toSeq), "bytes")
        r.put("trace.overhead_pct", (Stats.median(tGet) - getP50) / getP50 * 100, "%")
      }
    } finally server.stop()
  }
}
