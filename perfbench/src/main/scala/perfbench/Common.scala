package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Command-line settings of one benchmark run. */
final case class Cfg(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, corrupt: Boolean, digestOnly: Boolean) {
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
  /** Deterministic per-purpose random stream derived from the seed. */
  def rng(stream: String): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream.hashCode.toLong)
}

/** Outcome tallies and metrics of one run. Every failure is counted; the
  * first few messages are kept for the log. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Figures printed for people (the workload's named end-to-end metrics),
    * separate from the gated `metrics` set the JSON line carries. */
  val display = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def attempt(n: Long = 1): Unit = attemptedN.addAndGet(n)
  /** A failed operation: a wrong or stale result, an unexpected status, an
    * exception or a failed stage. */
  def fail(msg: String): Unit = {
    failedN.incrementAndGet()
    if (messages.size < 20) messages.add(msg)
  }
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def failureMessages: Seq[String] = messages.toArray.toSeq.map(_.toString)

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def show(name: String, value: Double, unit: String): Unit =
    display(name) = (value, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, seconds(t0))
  }
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def sizeOf(dir: String): Long = {
    val f = new java.io.File(dir)
    Option(f.listFiles()).getOrElse(Array.empty).map(_.length).sum
  }
}

/** Standard RFC 4122 name-based (SHA-1) UUID in the DNS namespace: the
  * published `job_id` of a job position, computed independently of the
  * program so it can serve as the expected value. */
object Uuid {
  private val ns = java.util.UUID.fromString("6ba7b810-9dad-11d1-80b4-00c04fd430c8")
  def v5(name: String): String = {
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(ns.getMostSignificantBits).putLong(ns.getLeastSignificantBits)
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(bb.array())
    md.update(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = md.digest()
    h(6) = ((h(6) & 0x0f) | 0x50).toByte
    h(8) = ((h(8) & 0x3f) | 0x80).toByte
    val b = java.nio.ByteBuffer.wrap(h, 0, 16)
    new java.util.UUID(b.getLong, b.getLong).toString
  }
}

/** Published-row value grammar of the store: sorted `k=v` pairs joined by
  * commas, with `%`, `,` and `=` percent-escaped inside keys and values. */
object RowCodec {
  def decode(value: String): Map[String, String] =
    value.split(",").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) unesc(kv) -> "" else unesc(kv.take(i)) -> unesc(kv.drop(i + 1))
    }.toMap
  private def unesc(s: String): String =
    s.replace("%2C", ",").replace("%3D", "=").replace("%25", "%")
}

/** Words the generators draw from. */
object Words {
  val skills: Vector[String] = Vector(
    "python", "sql", "spark", "scala", "java", "aws", "azure", "gcp",
    "docker", "kubernetes", "airflow", "kafka", "tableau", "excel", "hadoop",
    "hive", "snowflake", "dbt", "pandas", "numpy", "tensorflow", "pytorch",
    "linux", "git", "terraform", "jenkins", "postgres", "mysql", "mongodb",
    "redis", "elasticsearch", "flink", "looker", "powerbi", "r", "sas",
    "matlab", "golang", "rust", "typescript", "react", "node", "graphql",
    "rest", "grpc", "bigquery", "redshift", "databricks", "mlflow", "sklearn",
    "statistics", "etl", "nosql", "cassandra", "ansible", "bash", "c++",
    "jira", "agile", "scrum", "hbase", "presto", "trino", "delta")
  val filler: Vector[String] = Vector(
    "build", "maintain", "design", "own", "deliver", "improve", "support",
    "with", "and", "for", "our", "team", "data", "pipelines", "systems",
    "experience", "strong", "using", "across", "the", "platform", "services",
    "customers", "reliable", "scalable", "modern", "stack", "tools", "daily",
    "reporting", "models", "quality", "partners", "product", "growth")
  val seniority: Vector[String] = Vector("junior", "senior", "staff",
    "principal", "lead", "associate", "chief", "head")
  val domain: Vector[String] = Vector("data", "machine learning", "backend",
    "frontend", "platform", "cloud", "analytics", "security", "database",
    "research", "product", "business intelligence", "reliability", "mobile",
    "infrastructure")
  val role: Vector[String] = Vector("engineer", "analyst", "scientist",
    "developer", "architect", "manager", "consultant", "specialist",
    "administrator", "designer", "strategist", "technician")

  /** The i-th distinct job position (seniority x domain x role). */
  def position(i: Int): String = {
    val r = role(i % role.size)
    val d = domain((i / role.size) % domain.size)
    val s = seniority((i / (role.size * domain.size)) % seniority.size)
    s"$s $d $r"
  }
  val maxPositions: Int = seniority.size * domain.size * role.size

  /** The i-th distinct job title: a position, numbered past the first
    * `maxPositions`. */
  def job(i: Int): String =
    if (i < maxPositions) position(i)
    else s"${position(i % maxPositions)} ${i / maxPositions + 1}"
}
