package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Process-level twin of the reference's serving stage — the Flask-on-
  * Lambda REST API (`/root/reference/rest_api/amplify/backend/function/
  * skillsapi/src/index.py:16-28`) that fronts the published
  * top-10-skills table:
  *
  *  - `GET /skills/<job_id>` — the `get_item` point lookup (`index.py:
  *    16-21`): the published wide row for one surrogate key, as
  *    `{"data": {"job_id": …, "job": …, "top_skill_n_1": …, …}}`;
  *    404 `{"error": "not found"}` for an absent key.
  *  - `GET /skills` — the table scan (`index.py:23-25`): the jobs
  *    dimension (Q1, `job_id` + `job` per published row, sorted by job)
  *    as `{"data": [{"job_id": …, "job": …}, …]}`. The reference scans a
  *    separate raw JOBS_TABLE; here the dimension is derived from the
  *    published rows themselves (same information, one store — SURVEY
  *    §1.4 maps both DynamoDB tables onto the KV seam).
  *
  * Backed by a [[FileKvStore]] directory — the same store
  * `Populate.writeTo(published, store.rowSink("job_id"))` and the
  * streaming `foreachBatch` upsert publish into — so
  * clean → populate → publish → HTTP GET runs end-to-end in-process
  * (HttpServingSpec pins it byte-equal to `q_serving_lookup`).
  *
  * Serving shape: both routes read one [[FileKvStore.Reader]]. It lists
  * the store directory on every request and replays it only when the
  * listing changed, so a request sent after a publish committed sees that
  * publish. The scan body is rendered once per view. Sockets set
  * TCP_NODELAY: without it Nagle's algorithm holds each response's body
  * behind its headers until the client's delayed ACK, about 40 ms per
  * small response. The JDK reads `sun.net.httpserver.nodelay` once, at
  * the first `HttpServer` a JVM creates, so this server must be that
  * first one; it sets the property only when it is unset. Values are the
  * `rowSink` serialization (sorted `k=v` pairs, comma-joined, structural
  * chars percent-escaped inside fields) — unambiguous for ANY field
  * content, including the comma-bearing job titles scraped CSV
  * produces. */
final class SkillsHttpServer(storeDir: String) {

  private val store = new FileKvStore.Reader(storeDir)
  /** The last `GET /skills` body, with the view it was rendered from. */
  @volatile private var listed: (Map[String, String], String) = null

  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/skills", (ex: HttpExchange) => handle(ex))

  /** Ephemeral OS-assigned port (bind at construction, race-free). */
  def port: Int = server.getAddress.getPort

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange): Unit = {
    try {
      if (ex.getRequestMethod != "GET") {
        respond(ex, 405, """{"error": "method not allowed"}""")
      } else {
        val path = ex.getRequestURI.getPath.stripSuffix("/")
        path match {
          case "/skills" => respond(ex, 200, listJobs())
          case p if p.startsWith("/skills/") =>
            val jobId = java.net.URLDecoder.decode(
              p.stripPrefix("/skills/"), "UTF-8")
            store.current().get(jobId) match {
              case Some(v) => respond(ex, 200, s"""{"data": ${rowJson(v)}}""")
              case None    => respond(ex, 404, """{"error": "not found"}""")
            }
          case _ => respond(ex, 404, """{"error": "not found"}""")
        }
      }
    } finally ex.close()
  }

  /** Q1 scan: (job_id, job) per published row, sorted by job then id for
    * a deterministic wire order; rendered again only for a new view. */
  private def listJobs(): String = {
    val view = store.current()
    val last = listed
    if (last != null && (last._1 eq view)) last._2
    else {
      val rows = view.toSeq
        .map { case (id, v) => (id, pairs(v).getOrElse("job", "")) }
        .sortBy { case (id, job) => (job, id) }
        .map { case (id, job) =>
          s"""{"job_id": ${jstr(id)}, "job": ${jstr(job)}}""" }
      val body = s"""{"data": [${rows.mkString(", ")}]}"""
      listed = (view, body)
      body
    }
  }

  /** The rowSink value grammar: sorted `k=v` pairs, comma-joined, with
    * structural chars (`,` `=` `%`) percent-escaped inside keys/values
    * at publish time ([[FileKvStore.pairEnc]]) — a comma in a scraped
    * job title no longer truncates the parsed row. */
  private def pairs(value: String): Map[String, String] =
    value.split(",").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) FileKvStore.pairDec(kv) -> ""
      else FileKvStore.pairDec(kv.take(i)) -> FileKvStore.pairDec(kv.drop(i + 1))
    }.toMap

  private def rowJson(value: String): String =
    pairs(value).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ", ", "}")

  /** Minimal JSON string escape (quote, backslash, control chars). */
  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.append('"').toString
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }
}
