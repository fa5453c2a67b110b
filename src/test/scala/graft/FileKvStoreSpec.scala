package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}

import graft.sources.FileKvStore

/** Durability contract of the file-backed KV store (reference S15/serving
  * boundary): writes from distributed tasks are visible to a FRESH handle
  * on the directory — what a restarted JVM sees — with last-write-wins
  * upsert semantics and lossless key/value encoding. A long-lived
  * [[FileKvStore.Reader]] always holds the view a fresh read would give. */
class FileKvStoreSpec extends SparkTestBase {

  private def freshDir(name: String): String = {
    val d = s"target/test_kvstore/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(d))
    d
  }

  test("distributed foreachPartition writes survive a fresh handle") {
    val dir = freshDir("distributed")
    val store = new FileKvStore(dir)
    import spark.implicits._
    spark.range(0, 100).toDF("id").repartition(8)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach(r => store.upsert(s"k${r.getLong(0)}", s"v${r.getLong(0)}"))
      }
    // Read through the companion, not the writing instance — the view a
    // restarted serving JVM gets from the directory alone.
    val back = FileKvStore.read(dir)
    assert(back.size == 100)
    assert(back("k42") == "v42")
    // 8 partitions wrote 8 independent log files: no shared-file contention.
    assert(new File(dir).listFiles().count(_.getName.startsWith("log-")) == 8)
  }

  test("last write wins across store generations (restart + re-upsert)") {
    val dir = freshDir("lww")
    val gen1 = new FileKvStore(dir)
    gen1.upsert("a", "old")
    gen1.upsert("b", "kept")
    Thread.sleep(5) // filename ordering is millisecond-granular
    val gen2 = new FileKvStore(dir) // a restarted writer JVM
    gen2.upsert("a", "new")
    val back = FileKvStore.read(dir)
    assert(back == Map("a" -> "new", "b" -> "kept"))
  }

  test("keys and values with tabs, newlines, and unicode round-trip") {
    val dir = freshDir("encoding")
    val store = new FileKvStore(dir)
    val k = "key\twith\ntricky|chars"
    val v = "value\twith\nnewlines £ 中文"
    store.upsert(k, v)
    assert(FileKvStore.read(dir).get(k).contains(v))
  }

  test("compact preserves the merged view in a single log") {
    val dir = freshDir("compact")
    val gen1 = new FileKvStore(dir)
    (1 to 10).foreach(i => gen1.upsert(s"k$i", "old"))
    Thread.sleep(5)
    val gen2 = new FileKvStore(dir)
    gen2.upsert("k3", "new")
    FileKvStore.compact(dir)
    assert(new File(dir).listFiles().count(_.getName.startsWith("log-")) == 1)
    val back = FileKvStore.read(dir)
    assert(back.size == 10)
    assert(back("k3") == "new")
    assert(back("k1") == "old")
  }

  test("readers racing republish + compact see every key, never an error") {
    val dir = freshDir("race")
    val keys = (0 until 200).map(i => s"k$i")
    // One generation = 4 committed segments of 50 keys each.
    def publish(gen: Int): Unit = keys.grouped(50).foreach { part =>
      val seg = new FileKvStore.SegmentWriter(dir)
      part.foreach(k => seg.append(k, s"g$gen"))
      seg.commit()
    }
    publish(0)
    @volatile var done = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val readers = (1 to 3).map { _ =>
      new Thread(() =>
        try {
          while (!done) {
            val got = FileKvStore.read(dir)
            if (got.keySet != keys.toSet)
              errors.add(new AssertionError(s"a read saw ${got.size} keys"))
            reads.incrementAndGet()
          }
        } catch { case t: Throwable => errors.add(t) })
    }
    readers.foreach(_.start())
    // The one writer: segment order is millisecond-granular, so each
    // publish and compaction starts in a later millisecond.
    try (1 to 60).foreach { g =>
      Thread.sleep(2); publish(g)
      Thread.sleep(2); FileKvStore.compact(dir)
    } finally { done = true; readers.foreach(_.join()) }
    assert(errors.isEmpty, errors.toString)
    assert(reads.get > 60)
    assert(FileKvStore.read(dir) == keys.map(_ -> "g60").toMap)
  }

  test("rowSink adapter keys rows by column and serializes sorted k=v") {
    val dir = freshDir("rowsink")
    val sink = new FileKvStore(dir).rowSink("job_id")
    sink.put(Map("job_id" -> "j1", "job" -> "data engineer", "s1" -> "python"))
    val back = FileKvStore.read(dir)
    assert(back("j1") == "job=data engineer,job_id=j1,s1=python")
  }

  private def append(seg: Path, text: String): Unit = {
    Files.write(seg, text.getBytes(UTF_8), StandardOpenOption.APPEND)
    ()
  }

  private def onlySegment(dir: String): Path =
    new File(dir).listFiles().filter(_.getName.startsWith("log-")).head.toPath

  test("read and compact skip a torn trailing line") {
    val dir = freshDir("torn")
    new FileKvStore(dir).upsert("a", "whole")
    append(onlySegment(dir), "b\tcut-sho") // an upsert cut mid-line
    assert(FileKvStore.read(dir) == Map("a" -> "whole"))
    FileKvStore.compact(dir)
    assert(FileKvStore.read(dir) == Map("a" -> "whole"))
  }

  test("reader: a partial line is served only once complete, in any segment") {
    val dir = freshDir("reader_torn")
    val reader = new FileKvStore.Reader(dir)
    new FileKvStore(dir).upsert("a", "1")
    val first = onlySegment(dir)
    append(first, "b\tpart")
    assert(reader.current() == Map("a" -> "1"))
    assert(reader.current() eq reader.current(), "an unchanged store is one view")
    Thread.sleep(5)
    new FileKvStore(dir).upsert("a", "3")
    assert(reader.current() == Map("a" -> "3"))
    assert(reader.current() eq reader.current(),
      "a torn line in an earlier segment still leaves one view")
    // The earlier segment completes its line and grows: "a" -> "2" still
    // sorts before the later segment's "a" -> "3".
    append(first, "ial\na\t2\n")
    assert(reader.current() == Map("a" -> "3", "b" -> "partial"))
    assert(reader.current() == FileKvStore.read(dir))
  }

  test("reader: a segment committed under an earlier name keeps name order") {
    val dir = freshDir("reader_order")
    val reader = new FileKvStore.Reader(dir)
    val early = new FileKvStore.SegmentWriter(dir) // names itself now
    early.append("k", "old")
    Thread.sleep(5)
    new FileKvStore(dir).upsert("k", "new")
    assert(reader.current() == Map("k" -> "new"))
    early.commit()
    assert(reader.current() == Map("k" -> "new"))
    assert(FileKvStore.read(dir) == Map("k" -> "new"))
  }

  test("property: a reader equals a fresh read after any upsert/commit/compact") {
    (0 until 20).foreach { seed =>
      val dir = freshDir(s"reader_prop_$seed")
      val rng = new scala.util.Random(seed)
      val reader = new FileKvStore.Reader(dir)
      val stores = scala.collection.mutable.ArrayBuffer.empty[FileKvStore]
      val open = scala.collection.mutable.ArrayBuffer.empty[FileKvStore.SegmentWriter]
      def key() = s"k${rng.nextInt(6)}"
      (1 to 40).foreach { step =>
        val op = rng.nextInt(5) match {
          case 0 =>
            if (stores.isEmpty || rng.nextInt(3) == 0) stores += new FileKvStore(dir)
            stores(rng.nextInt(stores.size)).upsert(key(), s"u$step")
            "upsert"
          case 1 =>
            val w = new FileKvStore.SegmentWriter(dir)
            (0 to rng.nextInt(3)).foreach(_ => w.append(key(), s"w$step"))
            open += w
            "open writer"
          case 2 if open.nonEmpty =>
            open.remove(rng.nextInt(open.size)).commit()
            "commit"
          case 3 =>
            FileKvStore.compact(dir)
            "compact"
          case _ =>
            Thread.sleep(2)
            "next millisecond"
        }
        assert(reader.current() == FileKvStore.read(dir),
          s"seed $seed, step $step ($op)")
      }
      open.foreach(_.abort())
    }
  }
}
