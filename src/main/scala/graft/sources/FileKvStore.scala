package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Paths, StandardOpenOption}

import scala.collection.mutable

import graft.pipelines.Populate

/** Durable file-backed key-value store — the offline stand-in for the
  * reference's DynamoDB sink (`/root/reference/data_populator/populator.py:
  * 47-58` writes; `rest_api/.../index.py:16-25` reads) behind
  * [[Populate.RowSink]], so populate → serve runs end-to-end against a
  * store that survives JVM restarts (no connector dependency).
  *
  * Layout: an append-only log directory. Each (deserialized) store
  * instance appends `key \t value` lines (URL-encoded, so tabs/newlines in
  * data round-trip) to its OWN file, named
  * `log-<createMillis>-<uuid>.tsv` — executor tasks never contend on a
  * shared file or lock. Readers replay the complete lines of every log
  * file in filename order (creation-time prefix) and keep the last write
  * per key: [[FileKvStore.read]] once, a long-lived
  * [[FileKvStore.Reader]] again only when the listing changed.
  *
  * Semantics and limits (deliberate, documented):
  *  - Idempotent upserts: replaying a micro-batch rewrites the same keys
  *    with the same values, which `RowSink` already requires.
  *  - Last-write-wins ordering is millisecond-granular ACROSS writer
  *    instances (the filename prefix); within one instance it is exact
  *    (line order). Concurrent same-key writers in the same millisecond
  *    tie-break arbitrarily — the streaming sink never does that (a key
  *    lives in exactly one aggregation partition per batch).
  *  - This is a smoke/test-scale store. At 100 TB serving scale the same
  *    trait takes a real connector; nothing upstream changes.
  */
final class FileKvStore(dir: String) extends Serializable {

  /** Per-instance log file. `@transient lazy`: each task's deserialized
    * copy creates its own file on first write, on the executor. */
  @transient private lazy val logPath = {
    Files.createDirectories(Paths.get(dir))
    Paths.get(dir, f"log-${System.currentTimeMillis()}%013d-" +
      s"${java.util.UUID.randomUUID.toString.take(8)}.tsv")
  }

  def upsert(key: String, value: String): Unit = synchronized {
    val line = FileKvStore.enc(key) + "\t" + FileKvStore.enc(value) + "\n"
    Files.write(logPath, line.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Adapter to the populate-stage sink: keys rows by `keyCol`, serializes
    * the remaining columns as sorted `k=v` pairs (the wide published row,
    * `populator.py:47-58` item shape). */
  def rowSink(keyCol: String): Populate.RowSink = new Populate.RowSink {
    def put(row: Map[String, String]): Unit =
      upsert(row.getOrElse(keyCol, ""),
        row.toSeq.sortBy(_._1).map { case (k, v) =>
          s"${FileKvStore.pairEnc(k)}=${FileKvStore.pairEnc(v)}"
        }.mkString(","))
  }
}

object FileKvStore {

  /** Escapes exactly the `k=v,k=v` grammar's structural characters (plus
    * `%` itself) in a pair key/value — a comma inside a scraped job
    * title would otherwise silently truncate the parsed row at read
    * time. Note the decode side ([[pairDec]]) is applied unconditionally
    * at parse time, so only `%`-free raw values written outside
    * `rowSink` (direct `upsert`) parse back unchanged; a raw value
    * containing a literal `%2C`/`%3D`/`%25` is rewritten on read. Rows
    * published through `rowSink` always round-trip exactly. */
  private[sources] def pairEnc(s: String): String =
    s.replace("%", "%25").replace(",", "%2C").replace("=", "%3D")

  /** Inverse of [[pairEnc]] (`%25` last, so an escaped escape can't
    * cascade). Identity on text that was never escaped. */
  private[sources] def pairDec(s: String): String =
    s.replace("%2C", ",").replace("%3D", "=").replace("%25", "%")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Streaming task-segment writer for the DSv2 write path: rows stream
    * to a hidden `.tsv.tmp` file (bounded memory for arbitrarily large
    * tasks) and the segment becomes VISIBLE atomically at commit — a
    * rename into the `log-*.tsv` namespace readers replay — so aborted
    * tasks leave nothing a reader can see. The ordering prefix is
    * creation time, same contract as [[FileKvStore]] instances. */
  final class SegmentWriter(dir: String) {
    private val name =
      f"log-${System.currentTimeMillis()}%013d-" +
        s"${java.util.UUID.randomUUID.toString.take(8)}.tsv"
    private val tmp = {
      Files.createDirectories(Paths.get(dir))
      Paths.get(dir, name + ".tmp")
    }
    private val out = Files.newBufferedWriter(tmp, UTF_8)
    def append(key: String, value: String): Unit = {
      out.write(enc(key)); out.write('\t'); out.write(enc(value))
      out.write('\n')
    }
    def commit(): Unit = {
      out.close()
      Files.move(tmp, Paths.get(dir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def abort(): Unit = {
      out.close()
      Files.deleteIfExists(tmp)
      ()
    }
  }

  private def logFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.getName.startsWith("log-") && f.getName.endsWith(".tsv"))
      .sortBy(_.getName)

  /** Merged view of a store directory; last write per key wins, in
    * filename order.
    *
    * Each [[current]] call lists the directory again, so a call that
    * starts after a write or segment commit finished sees it. When the
    * listed (name, size) pairs equal the last call's, it opens no file and
    * returns the same view instance, so callers may cache what they derive
    * from it; any other listing replays every segment. A segment that
    * [[compact]] deleted after the listing starts the call over from a new
    * listing; the merged segment is committed before any delete, so that
    * listing holds the same view. Calls on one reader serialize. */
  final class Reader(dir: String) {
    private var listed = Seq.empty[(String, Long)]
    private var view = Map.empty[String, String]

    def current(): Map[String, String] = synchronized {
      try {
        val files = logFiles(dir)
        // Files.size, not File.length: a deleted segment must throw, not
        // read as empty.
        val now = files.map(f => (f.getName, Files.size(f.toPath)))
        if (now != listed) {
          view = replay(files)
          listed = now
        }
        view
      } catch { case _: NoSuchFileException => current() }
    }
  }

  /** Replays `files` in order; last write per key wins. Only `\n`-ended
    * lines apply: a line still being appended, or torn by a crashed
    * writer, is not served. Throws `NoSuchFileException` when a file was
    * deleted after it was listed. */
  private def replay(files: Seq[File]): Map[String, String] = {
    val m = mutable.HashMap.empty[String, String]
    files.foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      var start = 0
      var i = 0
      while (i < bytes.length) {
        if (bytes(i) == '\n') {
          var tab = start
          while (tab < i && bytes(tab) != '\t') tab += 1
          if (tab > start && tab < i)
            m.put(dec(new String(bytes, start, tab - start, UTF_8)),
              dec(new String(bytes, tab + 1, i - tab - 1, UTF_8)))
          start = i + 1
        }
        i += 1
      }
    }
    m.toMap
  }

  /** Full replay of `dir`: the view a freshly started JVM gets. */
  def read(dir: String): Map[String, String] = new Reader(dir).current()

  /** Rewrite the merged view as one segment (one [[SegmentWriter]]: one
    * open, then an atomic rename) and drop the replayed files. Safe under
    * concurrent [[read]]s; call only with no active writers (e.g. between
    * streaming runs, or from the one writer thread). A torn trailing line
    * of a crashed writer is not carried over. */
  def compact(dir: String): Unit = {
    val old = logFiles(dir)
    if (old.nonEmpty) {
      val seg = new SegmentWriter(dir)
      try replay(old).foreach { case (k, v) => seg.append(k, v) }
      catch { case e: Throwable => seg.abort(); throw e }
      seg.commit()
      old.foreach(_.delete())
    }
  }
}
