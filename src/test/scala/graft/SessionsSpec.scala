package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** [[Sessions.local]] is the one definition of a graft session: the conf
  * the oracle gate runs under, pinned key by key, with overrides applied
  * last; and no other source file builds a session of its own. */
class SessionsSpec extends SparkTestBase {

  /** Runs `body` on a fresh `Sessions.local(4, overrides*)` session over
    * the suite's SparkContext (the builder's options become the fresh
    * session's conf), then restores the suite session and log level. */
  private def withLocal[A](overrides: (String, String)*)(
      body: SparkSession => A): A = {
    val suite = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = Sessions.local(4, overrides: _*)
      assert(fresh ne suite)
      body(fresh)
    } finally {
      SparkSession.setDefaultSession(suite)
      SparkSession.setActiveSession(suite)
      suite.sparkContext.setLogLevel("ERROR")
    }
  }

  private val Base = Map(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.adaptive.enabled" -> "true")

  private def confOf(s: SparkSession, keys: Iterable[String]) =
    keys.map(k => k -> s.conf.get(k)).toMap

  test("the base conf: every key and value, with AQE on") {
    withLocal() { s =>
      assert(confOf(s, Base.keys) == Base)
      assert(s.sparkContext.master == "local[4]")
    }
  }

  test("an override wins over the base") {
    withLocal("spark.sql.shuffle.partitions" -> "7",
        "spark.sql.adaptive.enabled" -> "false") { s =>
      assert(confOf(s, Base.keys) == Base ++ Map(
        "spark.sql.shuffle.partitions" -> "7",
        "spark.sql.adaptive.enabled" -> "false"))
    }
  }

  test("poly_hash resolves in a local session") {
    withLocal() { s =>
      assert(s.sql("SELECT poly_hash('ab') AS h").head().getLong(0) ==
        (('a'.toLong * 31 + 'b') % 1000000007L))
    }
  }

  test("no source file but Sessions and GraftExtensionsSpec builds a session") {
    // GraftExtensionsSpec's builder is deliberate: it shows the bare
    // extension path without the base conf.
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    def builds(p: Path) =
      builder.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined
    val building = files.filter(builds).map(_.toString.replace('\\', '/')).toSet
    assert(building == Set(
      "src/main/scala/graft/core/Sessions.scala",
      "src/test/scala/graft/GraftExtensionsSpec.scala"))
  }
}
