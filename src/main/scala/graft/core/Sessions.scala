package graft.core

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The one place that decides what a graft session is. [[local]] starts a
  * session under the conf the oracle gate (`graft.Verify`) runs under;
  * every main, spec and probe calls it and passes only its deliberate
  * overrides. [[release]] frees what a query left behind in a session. */
object Sessions {

  /** A `local[cpus]` session with the graft extensions and the base conf
    * below; AQE stays at Spark's default (on). `overrides` are applied
    * after the base conf, so each wins over its key's base value. Sets
    * the log level to WARN. */
  def local(cpus: Int, overrides: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The codegen class cache defaults to 100 entries; the catalog
      // compiles several hundred distinct codegen units per pass, so at
      // the default every pass evicts and re-compiles a random subset
      // (Janino compiles cost 1-5 s), which shows up as bimodal
      // per-query medians (q_text_pmi 0.5 s vs 3 s across otherwise
      // identical runs). Static conf: must be set before the session
      // exists.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    overrides.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Frees what the previous query left in `spark`: a blocking unpersist
    * of every persistent RDD (the iterative queries' eager
    * localCheckpoint blocks), the cache manager's entries, and the
    * tracked driver-created broadcasts. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // `disk`-mode Checkpoints persist through the shared cache manager:
    // its entries outlive their unpersisted RDDs, and later plans holding
    // the same fragment would recompute it inside their own job.
    spark.catalog.clearCache()
    // Driver-created broadcasts (the partitioned triangle blooms) are only
    // reclaimed once GC proves the stub dead; destroy the tracked ones
    // eagerly so repeated runs can't accumulate executor-resident copies.
    Broadcasts.drain()
  }
}
