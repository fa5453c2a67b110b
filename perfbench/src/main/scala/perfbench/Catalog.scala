package perfbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The analytics users' workload: a fixed list of catalog queries over
  * seeded TPC-H-shaped tables plus the documents, events and embeddings
  * tables the catalog reads. */
object Catalog {

  /** One query per catalog family: graph, dedup, relational, and the
    * flagship top-skills aggregation. */
  val Queries: Seq[String] = Seq("q_graph_triangles", "q_dedup_jaccard",
    "q_join_star", "q_text_top_skills")

  /** Pass times keep falling for minutes after JVM start, so a run times
    * at least this many passes, enough to fill the window on most hosts:
    * medians then come from the same stretch of that curve on a fast host
    * as on a slow one. */
  val TimedPasses = 4

  /** Table sizes: the shape of the repository's sf0.01 test data. */
  val Orders = 15000
  val Customers = 1500
  val Parts = 2000
  val Suppliers = 100
  val Documents = 500
  val Events = 10000
  val Embeddings = 500

  private val vocab = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  private def f(n: String, t: DataType) = StructField(n, t)
  private def round2(x: Double): Double = math.round(x * 100) / 100.0
  private def day(r: scala.util.Random, from: String, days: Int): Timestamp =
    new Timestamp(Timestamp.valueOf(from + " 00:00:00").getTime +
      r.nextInt(days) * 86400000L)

  /** Every table as (name, schema, rows), from the seed. */
  def tables(cfg: Cfg): Seq[(String, StructType, Seq[Row])] = {
    val r = cfg.rng("catalog")
    def pick[A](v: Seq[A]): A = v(r.nextInt(v.size))
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val region = regions.zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), round2(r.nextDouble() * 10999 - 999),
      pick(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))))
    val supplier = (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), round2(r.nextDouble() * 10999 - 999)))
    val part = (0 until Parts).map(i => Row(i.toLong,
      pick(Seq("small", "red", "large", "blue", "green")) + " " +
        pick(Seq("ring", "widget", "bolt", "gear", "valve")),
      s"Brand#${1 + r.nextInt(25)}",
      pick(Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM")),
      1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val orders = (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong,
      pick(Seq("F", "O", "P")), round2(1000 + r.nextDouble() * 499000),
      day(r, "1995-01-01", 1460),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
    val lineitem = (0 until Orders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map(ln => Row(o.toLong, r.nextInt(Parts).toLong,
        r.nextInt(Suppliers).toLong, ln, (1 + r.nextInt(50)).toDouble,
        round2(900 + r.nextDouble() * 90000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("F", "O")),
        day(r, "1995-01-02", 2500)))
    }
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000
    val events = (0 until Events).map(i => Row(i.toLong,
      {
        val us = t0 + (r.nextDouble() * 30 * 86400e6).toLong
        val ts = new Timestamp(us / 1000); ts.setNanos(((us % 1000000) * 1000).toInt); ts
      },
      r.nextInt(150).toLong, pick(Seq("click", "signup", "error", "view", "purchase")),
      round2(0.01 + r.nextDouble() * 490), s"""{"k": ${r.nextInt(100)}}"""))
    // Near-duplicates as the repository's data plants them: isolated pairs,
    // each an earlier document copied once with one word replaced and kept
    // only at a 3-shingle Jaccard of at least 0.9. Random texts over this
    // vocabulary share almost no shingles, so every other pair stays far
    // below the 0.8 threshold of the dedup queries.
    def shingles(t: String): Set[String] = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    def jaccard(a: String, b: String): Double = {
      val (x, y) = (shingles(a), shingles(b))
      (x & y).size.toDouble / (x | y).size
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val paired = scala.collection.mutable.Set.empty[Int]
    (0 until Documents).foreach { i =>
      val src = if (i > 10 && r.nextDouble() < 0.12) r.nextInt(i) else -1
      val copy = if (src < 0 || paired(src)) None else {
        val ws = texts(src).split(' ')
        ws(r.nextInt(ws.length)) = pick(vocab)
        Some(ws.mkString(" ")).filter(jaccard(texts(src), _) >= 0.9)
      }
      if (copy.isDefined) paired ++= Seq(src, i)
      texts += copy.getOrElse(Vector.fill(8 + r.nextInt(85))(pick(vocab)).mkString(" "))
    }
    val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
    val documents = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, pick(langs), s"src${i % 20}", t.length.toLong) }.toSeq
    val centroids = Vector.fill(10, 64)(r.nextGaussian())
    val embeddings = (0 until Embeddings).map { i =>
      val label = r.nextInt(10)
      Row(i.toLong, centroids(label).map(c => (c + r.nextGaussian() * 0.5).toFloat), label)
    }
    val long = LongType; val int = IntegerType; val str = StringType
    val dbl = DoubleType; val ts = TimestampType
    Seq(
      ("region", StructType(Seq(f("r_regionkey", int), f("r_name", str))), region),
      ("nation", StructType(Seq(f("n_nationkey", int), f("n_name", str),
        f("n_regionkey", int))), nation),
      ("customer", StructType(Seq(f("c_custkey", long), f("c_name", str),
        f("c_nationkey", int), f("c_acctbal", dbl), f("c_mktsegment", str))), customer),
      ("supplier", StructType(Seq(f("s_suppkey", long), f("s_name", str),
        f("s_nationkey", int), f("s_acctbal", dbl))), supplier),
      ("part", StructType(Seq(f("p_partkey", long), f("p_name", str),
        f("p_brand", str), f("p_type", str), f("p_size", int),
        f("p_retailprice", dbl))), part),
      ("orders", StructType(Seq(f("o_orderkey", long), f("o_custkey", long),
        f("o_orderstatus", str), f("o_totalprice", dbl), f("o_orderdate", ts),
        f("o_orderpriority", str))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", long), f("l_partkey", long),
        f("l_suppkey", long), f("l_linenumber", int), f("l_quantity", dbl),
        f("l_extendedprice", dbl), f("l_discount", dbl), f("l_tax", dbl),
        f("l_returnflag", str), f("l_linestatus", str), f("l_shipdate", ts))), lineitem),
      ("events", StructType(Seq(f("event_id", long), f("ts", ts), f("user_id", long),
        f("event_type", str), f("value", dbl), f("props", str))), events),
      ("documents", StructType(Seq(f("doc_id", long), f("text", str), f("lang", str),
        f("source", str), f("n_chars", long))), documents),
      ("embeddings", StructType(Seq(f("vec_id", long),
        f("embedding", ArrayType(FloatType)), f("label", int))), embeddings))
  }

  /** Writes every table as `<dir>/<name>.parquet`, four tables at a time. */
  def write(spark: SparkSession, dir: String, ts: Seq[(String, StructType, Seq[Row])]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val jobs = ts.map { case (name, schema, rows) =>
        pool.submit(new Runnable {
          def run(): Unit = spark.createDataFrame(rows.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        })
      }
      jobs.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Consumes every output column, as the repository's catalog bench does,
    * and returns the folded row hash. */
  def consume(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    String.valueOf(df.select(h.as("h")).agg(expr("bit_xor(h)")).collect()(0).get(0))
  }

  private def quiesce(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.core.Broadcasts.drain()
  }

  def workload(spark: SparkSession, cfg: Cfg, r: Report, tracer: Tracer): Unit = {
    val dir = Harness.setup {
      val d = cfg.dir(s"catalog/data-${System.nanoTime()}")
      write(spark, d, tables(cfg))
      d
    }
    val queries = SparkEntry.queries
    val sc = Some(spark.sparkContext)
    val hashes = scala.collection.mutable.HashMap.empty[String, String]
    // Per-query times of untraced and of traced passes.
    val perQuery, perQueryTraced =
      scala.collection.mutable.HashMap.empty[String, Vector[Double]].withDefaultValue(Vector.empty)

    /** One pass over the list; each query's hash must match its first one. */
    def pass(t: Tracer): Double = {
      val times = if (t.enabled) perQueryTraced else perQuery
      val t0 = System.nanoTime()
      t.span("catalog_pass") {
        Queries.foreach { q =>
          r.attempt()
          try {
            val (h, s) = Stats.time(t.span(q, sc)(consume(queries(q)(spark, dir))))
            times(q) = times(q) :+ s
            hashes.get(q) match {
              case Some(h0) if h0 != h =>
                r.fail(s"catalog: $q hash $h differs from the first pass ($h0)")
              case _ => hashes(q) = h
            }
          } catch {
            case e: Exception => r.fail(s"catalog: $q failed: $e")
          }
          quiesce(spark)
        }
      }
      Stats.seconds(t0)
    }

    // Untimed warm-up that also hands each listed query's rows and its
    // DuckDB SQL to the oracle check run.py makes after the run.
    val out = cfg.dir("oracle")
    val oracle = SparkEntry.oracleSql
    val tDump = System.nanoTime()
    Queries.foreach { q =>
      try queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      catch { case e: Exception => r.attempt(); r.fail(s"catalog: $q failed: $e") }
      quiesce(spark)
    }
    val sql = Queries.filter(oracle.contains).map(q => q -> oracle(q)).toMap.asJava
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(sql))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/tables"), dir)
    System.err.println(f"perfbench: warm-up pass with oracle dump ${Stats.seconds(tDump)}%.2f s")
    if (cfg.corrupt) hashes(Queries.head) = "corrupted"
    val jvm = new JvmWindow
    jvm.start()
    val off = new Tracer(false, "")
    // With tracing on, traced and untraced passes alternate, so both sample
    // the same stretch of the warm-up curve.
    var passes = 0
    val minPasses = if (cfg.trace) 2 * TimedPasses else TimedPasses
    val walls = Harness.loop(cfg.seconds, minRuns = minPasses) {
      passes += 1
      if (cfg.trace && passes % 2 == 0) { pass(tracer); None } else Some(pass(off))
    }.flatten
    // A pass at each query's median: steadier than the median pass when one
    // query of a pass hits a slow patch.
    def passAtMedians(times: String => Seq[Double]): Double =
      Queries.map(q => Stats.median(times(q))).sum
    val p50 = passAtMedians(perQuery)
    r.show("catalog_s", p50, "s")
    r.show("catalog_pass_p50_s", Stats.median(walls), "s")
    r.show("catalog_passes", walls.size.toDouble, "count")
    System.err.println("perfbench: timed passes " + walls.map(w => f"$w%.2f").mkString(" "))
    r.put("latency_p50_ms", p50 * 1e3, "ms")
    r.put("throughput_per_s", Queries.size / p50, "1/s")
    if (cfg.trace) {
      jvm.report(r)
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      val tracedPasses = (passes / 2).toDouble
      Queries.foreach { q =>
        r.put(s"catalog.$q.s", Stats.median(perQueryTraced(q)), "s")
        tracer.stages.report(r, q, s"spark.$q", tracedPasses)
      }
      val floor = (1 to 5).map(_ => Stats.time(consume(spark.range(1).toDF()))._2)
      r.put("catalog.floor_s", Stats.median(floor), "s")
      val tracedP50 = passAtMedians(perQueryTraced)
      r.put("trace.overhead_pct", (tracedP50 - p50) / p50 * 100, "%")
    }
  }
}
