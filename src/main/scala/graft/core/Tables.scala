package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (see /root/repo/TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * catalog runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench).
  * At cluster scale these would be external/catalog tables; the loaders keep
  * the scan declarative (`spark.read.parquet`) so Catalyst can push filters
  * and prune columns into the parquet reader.
  */
object Tables {
  /** The parquet confs that change the schema Spark infers from a footer. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Table path -> (memo key, the schema a plain read inferred under it). */
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  /** Reads `<dir>/<name>.parquet` with the schema memoized from its first
    * plain read, so a repeated load runs no schema-inference job (one
    * footer-reading Spark job, 68-97 ms warm, against 9-14 ms with the
    * schema given).
    *
    * The memo key is the table's [[Artifacts.inputFingerprint]] (its part
    * files' names, lengths and mtimes plus a CRC of the first part's head
    * and footer) together with the session's values of [[InferenceConfs]].
    * One entry is kept per path: a table rewritten in place, or a session
    * whose confs read the same footer differently, misses the key, infers
    * again and replaces the entry. A path that cannot be fingerprinted
    * (missing or not a local table) takes the plain read, which keeps
    * Spark's own error, `[PATH_NOT_FOUND]` for a missing table. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key =
      try Some((Artifacts.inputFingerprint(dir, name) +:
        InferenceConfs.map(c => spark.conf.getOption(c).orNull)).mkString("|"))
      catch { case NonFatal(_) => None }
    key match {
      case None => spark.read.parquet(path)
      case Some(k) =>
        schemas.get(path) match {
          case (`k`, schema) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(path, (k, df.schema))
            df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped as parquet INT64 TIMESTAMP(NANOS) in some
    * testdata generations and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (Spark: TIMESTAMP_NTZ) in others. Normalize every surface form to one
    * canonical `TimestampType` so downstream queries and specs always
    * collect `java.sql.Timestamp`, never `LocalDateTime`: sessions set
    * spark.sql.legacy.parquet.nanosAsLong (ns → LongType → truncate to µs,
    * the same truncation DuckDB applies), and NTZ is cast in the session
    * time zone (pinned to UTC by every entrypoint, so the instant is the
    * wall-clock value DuckDB sees). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
