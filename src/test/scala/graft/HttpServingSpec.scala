package graft

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.pipelines.{Clean, Populate}
import graft.sources.{FileKvStore, SkillsHttpServer}
import graft.streaming.EventsStreaming

/** End-to-end contract of the HTTP serving shim
  * ([[graft.sources.SkillsHttpServer]]) — the process-level twin of the
  * reference's REST API (`rest_api/.../index.py:16-28`): rows published
  * to the KV store come back over HTTP GET byte-equal to the serving
  * queries' own answers. Covers the full reference dataflow's last
  * stage: clean → populate → publish → GET. */
class HttpServingSpec extends SparkTestBase {

  private def freshDir(name: String): String = {
    val d = s"target/test_http_serving/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(d))
    d
  }

  private def get(port: Int, path: String,
      http: HttpClient = HttpClient.newHttpClient()): (Int, String) = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Pull `"top_skill_n_<i>": "<v>"` fields out of a row JSON, in rank
    * order (skills are plain word tokens — no escapes to unpick). */
  private def skillsOf(json: String): Seq[(Int, String)] =
    """"top_skill_n_(\d+)": "([^"]*)"""".r.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2)).toSeq.sortBy(_._1)

  private def withServer(dir: String)(body: SkillsHttpServer => Unit): Unit = {
    val srv = new SkillsHttpServer(dir)
    srv.start()
    try body(srv) finally srv.stop()
  }

  test("GET /skills/<job_id> returns the q_serving_lookup row byte-equal") {
    val dir = freshDir("lookup")
    // Publish the catalog's wide pivot (documents at sf0.001) through the
    // reference-shaped sink, exactly as the populate stage would.
    val published = SparkEntry.queries("q_serving_pivot")(spark, Sf0001)
    Populate.writeTo(published, new FileKvStore(dir).rowSink("job_id"))
    // The authority: Q2's (job_id, rank, skill) unpack for src7.
    val lookup = SparkEntry.queries("q_serving_lookup")(spark, Sf0001).collect()
    assert(lookup.nonEmpty)
    val jobId = lookup.head.getString(0)
    val expected = lookup.map(r => r.getInt(1) -> r.getString(2)).toSeq

    withServer(dir) { srv =>
      val (code, body) = get(srv.port, s"/skills/$jobId")
      assert(code == 200, body)
      assert(body.contains(s""""job_id": "$jobId""""))
      assert(body.contains(""""job": "src7""""))
      assert(skillsOf(body) == expected,
        s"HTTP row diverges from q_serving_lookup: $body")
    }
  }

  test("clean -> populate -> publish -> GET runs the full reference dataflow") {
    val dir = freshDir("e2e")
    val rawDir = freshDir("e2e_raw")
    Files.createDirectories(Paths.get(rawDir))
    Files.writeString(
      Paths.get(s"$rawDir/glassdoor-job-scrapping02-09-2021-data-engineer-london.csv"),
      PipelineFixtures.RawCsv)
    val clean = Clean.run(spark, rawDir)
    val published = Populate.run(clean, PipelineFixtures.Skills)
    Populate.writeTo(published, new FileKvStore(dir).rowSink("job_id"))

    val rows = published.collect()
    val cols = published.columns
    withServer(dir) { srv =>
      // Scan route: every published job appears, sorted by job name.
      val (lc, listBody) = get(srv.port, "/skills")
      assert(lc == 200)
      val jobs = Populate.listJobs(published).collect()
        .map(r => (r.getString(0), r.getString(1)))
      jobs.foreach { case (id, job) =>
        assert(listBody.contains(s"""{"job_id": "$id", "job": "$job"}"""))
      }
      // Point route: each wide row round-trips field-for-field.
      rows.foreach { row =>
        val id = row.getString(cols.indexOf("job_id"))
        val (c, body) = get(srv.port, s"/skills/$id")
        assert(c == 200)
        cols.zipWithIndex.foreach { case (col, i) =>
          if (!row.isNullAt(i))
            assert(body.contains(s""""$col": "${row.get(i)}""""),
              s"missing $col in $body")
        }
      }
    }
  }

  test("comma-bearing field values round-trip unclipped (r11 advisory)") {
    val dir = freshDir("comma")
    // Job titles originate from scraped CSV — commas (and stray '=')
    // inside a field must survive publish -> GET instead of truncating
    // the parsed row at the first comma.
    new FileKvStore(dir).rowSink("job_id").put(Map(
      "job_id" -> "j1",
      "job" -> "Data Engineer, London (contract)",
      "top_skill_n_1" -> "a=b, c"))
    withServer(dir) { srv =>
      val (code, body) = get(srv.port, "/skills/j1")
      assert(code == 200, body)
      assert(body.contains(""""job": "Data Engineer, London (contract)""""))
      assert(body.contains(""""top_skill_n_1": "a=b, c""""))
      val (lc, listBody) = get(srv.port, "/skills")
      assert(lc == 200)
      assert(listBody.contains(
        """{"job_id": "j1", "job": "Data Engineer, London (contract)"}"""))
    }
  }

  test("foreachBatch sink escapes ',' and '=': GET returns every field") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.max
    import spark.implicits._
    val dir = freshDir("stream_escape")
    val input = MemoryStream[(String, String)](spark)
    val agg = input.toDF().toDF("job_id", "job")
      .groupBy($"job_id").agg(max($"job").as("job"))
    val q = EventsStreaming.foreachBatchUpsert(agg,
      new FileKvStore(dir).rowSink("job_id"))(
      s"target/tmp/graft_ckpt_http_${System.nanoTime()}")
    try {
      input.addData(("j1", "Data Engineer, London (a=b)"), ("j=2", "x,y=z"))
      q.processAllAvailable()
    } finally q.stop()
    withServer(dir) { srv =>
      assert(get(srv.port, "/skills/j1") == (200,
        """{"data": {"job": "Data Engineer, London (a=b)", "job_id": "j1"}}"""))
      assert(get(srv.port, "/skills/j%3D2") == (200,
        """{"data": {"job": "x,y=z", "job_id": "j=2"}}"""))
    }
  }

  test("absent key is 404, non-GET is 405") {
    val dir = freshDir("errors")
    new FileKvStore(dir).upsert("k1", "job=x")
    withServer(dir) { srv =>
      assert(get(srv.port, "/skills/nope")._1 == 404)
      assert(get(srv.port, "/other")._1 == 404)
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/skills"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 405)
    }
  }

  test("GETs racing republish + compact never see an older generation") {
    val dir = freshDir("race")
    val keys = (0 until 200).map(i => s"k$i")
    def publish(g: Int): Unit = {
      val sink = new FileKvStore(dir).rowSink("job_id")
      keys.foreach(k => sink.put(Map("job_id" -> k, "job" -> s"g$g")))
    }
    publish(0)
    @volatile var committed = 0
    @volatile var done = false
    val errors = new ConcurrentLinkedQueue[String]
    val requests = new AtomicInteger
    val Gen = """"job": "g(\d+)"""".r
    withServer(dir) { srv =>
      val clients = (0 until 3).map { c =>
        new Thread(() =>
          try {
            val rng = new scala.util.Random(c)
            val http = HttpClient.newHttpClient()
            while (!done) {
              val lo = committed
              if (requests.incrementAndGet() % 10 == 0) {
                val (code, body) = get(srv.port, "/skills", http)
                val listed = "\"job_id\"".r.findAllMatchIn(body).size
                if (code != 200 || listed != keys.size)
                  errors.add(s"scan: status $code, $listed rows")
              } else {
                val k = keys(rng.nextInt(keys.size))
                val (code, body) = get(srv.port, s"/skills/$k", http)
                val gen = Gen.findFirstMatchIn(body).map(_.group(1).toInt)
                if (code != 200) errors.add(s"$k: status $code")
                else if (!gen.exists(_ >= lo))
                  errors.add(s"$k: $body, sent after g$lo committed")
              }
            }
          } catch { case t: Throwable => errors.add(t.toString) })
      }
      clients.foreach(_.start())
      // The one writer; each publish and compaction starts in a later
      // millisecond, since segment order is millisecond-granular.
      try (1 to 30).foreach { g =>
        Thread.sleep(2); publish(g); committed = g
        if (g % 5 == 0) { Thread.sleep(2); FileKvStore.compact(dir) }
      } finally { done = true; clients.foreach(_.join()) }
    }
    assert(errors.isEmpty, errors.asScala.take(5).mkString("; "))
    assert(requests.get > 30)
  }

  test("30 sequential small GETs: p50 under 20 ms") {
    val dir = freshDir("latency")
    new FileKvStore(dir).upsert("k1", "job=x")
    withServer(dir) { srv =>
      val http = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build()
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}/skills/k1")).GET().build()
      def timedMs(): Double = {
        val t0 = System.nanoTime()
        assert(http.send(req, HttpResponse.BodyHandlers.ofString())
          .statusCode() == 200)
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 3).foreach(_ => timedMs()) // connect, load classes
      val ms = IndexedSeq.fill(30)(timedMs()).sorted
      assert(ms(15) < 20, s"p50 ${ms(15)} ms; sorted: ${ms.mkString(", ")}")
    }
  }
}
