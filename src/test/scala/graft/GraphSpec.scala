package graft

import org.apache.spark.sql.functions._

/** Brute-force cross-checks for the graph family at sf0.001: rebuild the
  * co-purchase graph in plain Scala and recompute PageRank / triangles
  * independently of any SQL engine — a third opinion besides the DuckDB
  * oracle, immune to shared SQL-shape mistakes. */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  /** Canonical (src < dst) edge set, built directly from lineitem. */
  private lazy val edges: Set[(Long, Long)] = {
    val rows = graft.core.Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
    rows.groupBy(_._1).values.flatMap { lines =>
      val parts = lines.map(_._2).distinct.toSeq
      for (a <- parts; b <- parts if a < b) yield (a, b)
    }.toSet
  }

  test("pagerank matches an independent fixed-point recomputation") {
    val scale = 1000000000L
    val sym = edges.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var rank: Map[Long, Long] = deg.map { case (n, _) => n -> scale }
    for (_ <- 1 to 2) {
      val contribs = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / deg(src) }.sum
      }
      rank = contribs.map { case (n, s) =>
        n -> (15L * scale / 100 + 85 * s / 100)
      }
    }
    val expected = rank.toSeq
      .sortBy { case (n, r) => (-r, n) }.take(100)
    val got = SparkEntry.queries("q_graph_pagerank")(spark, Sf0001)
      .as[(Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("graph rows and their _pre twins do not depend on the shuffle partition count") {
    val names = Seq("q_graph_pagerank", "q_graph_triangles",
      "q_graph_reachability", "q_graph_linkpred", "q_graph_pagerank_pre",
      "q_graph_reachability_pre", "q_graph_triangles_pre")
    def rowsAt(partitions: Int): Seq[Seq[String]] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
      names.map(n =>
        SparkEntry.queries(n)(s, Sf0001).collect().toSeq.map(_.toString))
    }
    val at4 = rowsAt(4)
    assert(at4.forall(_.nonEmpty))
    for (p <- Seq(1, 7)) {
      val got = rowsAt(p)
      names.indices.foreach { i =>
        assert(got(i) == at4(i), s"${names(i)} differs at $p partitions")
      }
    }
  }

  test("triangle count matches an independent enumeration") {
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val expected = edges.toSeq.map { case (a, b) =>
      (nbrs(a) & nbrs(b)).count(c => c > b)
    }.sum.toLong
    val got = SparkEntry.queries("q_graph_triangles")(spark, Sf0001)
      .collect()(0).getLong(0)
    assert(got == expected && got > 0)
  }

  /** Typed plan-shape probe (r15 advisor: match the expression TREE, not
    * the plan's string rendering — a prettyName change must not fail the
    * pin, and a regressed plan that merely mentions the string must not
    * pass it): walk every physical node's expressions, counting real
    * [[org.apache.spark.sql.graft.BloomBucketProbe]] instances and real
    * Spark `BloomFilterMightContain` instances (the scalar-literal
    * transport). AQE wrappers are walked into via their executed plans. */
  private def bloomExprCounts(
      df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
    var probe = 0
    var literal = 0
    def walkExpr(e: Expression): Unit = {
      e match {
        case _: org.apache.spark.sql.graft.BloomBucketProbe => probe += 1
        case _: BloomFilterMightContain => literal += 1
        case _ => ()
      }
      e.children.foreach(walkExpr)
    }
    def walkPlan(p: SparkPlan): Unit = p.foreach {
      case a: AdaptiveSparkPlanExec => walkPlan(a.executedPlan)
      case node => node.expressions.foreach(walkExpr)
    }
    walkPlan(df.queryExecution.executedPlan)
    (probe, literal)
  }

  test("partitioned closure bloom (forced multi-bucket) keeps the count") {
    // The default plan keeps one bloom bucket until ~64M edges; force the
    // partitioned path on the tiny fixture by shrinking the per-bucket
    // item capacity below the fixture's edge count (>= 2 buckets, plus
    // wedge probes landing in empty buckets → NULL bloom → filtered),
    // and pin that the count is identical to the independent enumeration
    // the single-bucket test above is checked against.
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val expected = edges.toSeq.map { case (a, b) =>
      (nbrs(a) & nbrs(b)).count(c => c > b)
    }.sum.toLong
    // edges.size == the oriented edge count, so size/3 forces >= 3
    // buckets, each sized to its own fill.
    val forcedDf = graft.queries.Graph
      .trianglesWithBloomBucketItems(spark, Sf0001,
        bucketItems = math.max(1L, edges.size / 3L))
    // The bucketed path must probe through the broadcast expression, not
    // scalar-subquery literals: bloom bytes in the plan ship inside every
    // fused stage's task binary (measured 328.8 MiB at the ×100 corpus).
    val (probes, literals) = bloomExprCounts(forcedDf)
    assert(probes >= 1,
      s"expected the broadcast bloom probe expression in the plan:\n" +
        forcedDf.queryExecution.executedPlan)
    assert(literals == 0,
      "bucketed path must not embed bloom literals via scalar subqueries")
    val forced = forcedDf.collect()(0).getLong(0)
    assert(forced == expected && forced > 0)
  }

  test("broadcast transport at ONE bucket keeps the count (r16 threshold)") {
    // Above TriangleScalarMaxEdges the default plan keeps nBuckets == 1
    // but ships the bloom as a Broadcast instead of a scalar-subquery
    // plan literal (the r16 transport A/B: a wash at 1.2M edges, ~8%
    // faster at 12M, 1.66x at 120M where the literal also OOMs). Force
    // that transport on the fixture and pin count equality plus the
    // plan shape (broadcast probe, no literal).
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val expected = edges.toSeq.map { case (a, b) =>
      (nbrs(a) & nbrs(b)).count(c => c > b)
    }.sum.toLong
    val df = graft.queries.Graph.trianglesWithBloomConfig(
      spark, Sf0001, bucketItems = Long.MaxValue, scalarMaxEdges = 0L)
    val (probes, literals) = bloomExprCounts(df)
    assert(probes >= 1 && literals == 0)
    assert(df.collect()(0).getLong(0) == expected)
  }

  test("degree orientation emits no more wedges than id orientation") {
    // The triangle query's wedge stage fans out C(out-deg, 2) per corner;
    // degree-ordered orientation bounds out-deg by arboricity where raw id
    // order lets a small-id hub emit deg² wedges. Recompute both wedge
    // totals independently and pin the inequality the rewrite relies on.
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val deg = nbrs.map { case (n, ns) => n -> ns.size }
    def choose2(k: Long) = k * (k - 1) / 2
    val idWedges = nbrs.map { case (b, ns) =>
      ns.count(_ < b).toLong * ns.count(_ > b)
    }.sum
    val rankGt = (x: Long, y: Long) =>
      deg(x) > deg(y) || (deg(x) == deg(y) && x > y)
    val degWedges = nbrs.map { case (u, ns) =>
      choose2(ns.count(v => rankGt(v, u)).toLong)
    }.sum
    assert(degWedges > 0 && idWedges > 0)
    assert(degWedges <= idWedges,
      s"degree orientation regressed wedge fanout: $degWedges > $idWedges")
  }

  test("link prediction matches an independent common-neighbor count") {
    val sym = edges.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val adj = sym.groupBy(_._1).map { case (n, es) =>
      n -> es.map(_._2).distinct.sorted.take(graft.queries.Graph.LinkPredCap)
    }
    val counts = adj.values.flatMap { nbrs =>
      for (i <- nbrs.indices; j <- (i + 1) until nbrs.size)
        yield (nbrs(i), nbrs(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val expected = counts.filterNot { case (p, _) => edges(p) }.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(50)
      .map { case ((a, b), c) => (a, b, c) }
    val got = SparkEntry.queries("q_graph_linkpred")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // Predictions must be non-edges with genuinely shared neighbors.
    assert(got.nonEmpty && got.forall { case (a, b, c) =>
      !edges((a, b)) && c >= 1
    })
  }

  test("bloom filter admits every true dim key (no false negatives)") {
    org.apache.spark.sql.graft.GraftSqlFunctions.ensure(spark)
    graft.core.Tables.orders(spark, Sf0001)
      .createOrReplaceTempView("bloom_spec_orders")
    val missed = spark.sql("""
      SELECT count(*) FROM bloom_spec_orders
      WHERE o_totalprice > 480000.0
        AND NOT bloom_might_contain(
          (SELECT bloom_agg(xxhash64(o_orderkey)) FROM bloom_spec_orders
           WHERE o_totalprice > 480000.0),
          xxhash64(o_orderkey))""").collect()(0).getLong(0)
    assert(missed == 0)
  }

  test("stale-bloom guard: in-place data swap throws on re-execution (disk mode)") {
    // The EAGER-BUILD CONTRACT's one silent-wrong-answer window: under
    // graft.checkpoint.mode=disk, evicted blocks recompute FROM SOURCE,
    // so a source overwritten IN PLACE (same object keys, same lengths —
    // the S3 overwrite scenario the cached file listing cannot detect;
    // a local-FS rewrite changes part filenames and already fails loudly
    // at the scan) would feed NEW wedges through the construction-time
    // blooms. The snapshot-fingerprint guard must turn that into a loud
    // error, never an undercount.
    import java.nio.file.{Files => JF, StandardCopyOption}
    val dir = JF.createTempDirectory("graft-bloomswap")
    val staging = JF.createTempDirectory("graft-bloomswap-b")
    // Two corpora with byte-identical parquet layout: the orderkey column
    // sequence is shared, the partkey column holds the same value multiset
    // in a different order (corpus B re-pairs each order's third item with
    // the NEXT order), so dictionary + data page sizes match and only the
    // content differs — exactly what a listing-cache scan cannot see.
    def corpus(rePair: Boolean): Seq[(Long, Long)] = {
      val third = (o: Long) => 200L + ((if (rePair) o + 1 else o) % 12)
      (0L until 48L).flatMap { o =>
        Seq(o -> (100L + o % 8), o -> (150L + o % 6), o -> third(o))
      }
    }
    def write(rows: Seq[(Long, Long)], path: String): java.nio.file.Path = {
      spark.createDataFrame(rows).toDF("l_orderkey", "l_partkey")
        .coalesce(1).write.option("compression", "uncompressed")
        .mode("overwrite").parquet(path)
      import scala.jdk.CollectionConverters._
      JF.list(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    }
    val partA = write(corpus(rePair = false), s"$dir/lineitem.parquet")
    val partB = write(corpus(rePair = true), s"$staging/lineitem.parquet")
    assert(JF.size(partA) == JF.size(partB),
      "fixture corpora must serialize to identical lengths for the " +
        s"in-place swap: ${JF.size(partA)} vs ${JF.size(partB)}")
    spark.conf.set(graft.core.Checkpoints.ModeKey, "disk")
    try {
      // scalarMaxEdges = 0 forces the broadcast transport (the eager
      // bloom build + guard) at the fixture's single bucket.
      val df = graft.queries.Graph.trianglesWithBloomConfig(
        spark, dir.toString, bucketItems = Long.MaxValue, scalarMaxEdges = 0L)
      assert(df.collect()(0).getLong(0) >= 0L)
      // Swap content under the SAME file name and length, drop the local
      // checksum sidecars (content changed), evict the persisted blocks.
      JF.copy(partB, partA, StandardCopyOption.REPLACE_EXISTING)
      import scala.jdk.CollectionConverters._
      JF.list(partA.getParent).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".crc"))
        .foreach(JF.delete)
      spark.catalog.clearCache()
      // Re-execute through a DERIVED plan: re-collecting the same Dataset
      // object reuses its physical plan's cached exchange results (still
      // snapshot-consistent), but composing the held logical plan into
      // any new query — the way a user actually reuses a DataFrame —
      // plans fresh exchanges that recompute from the swapped source.
      val ex = intercept[Throwable](df.where(lit(true)).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("edge snapshot changed")),
        s"expected the stale-bloom guard, got: ${msgs(ex).mkString(" | ")}")
      // A FRESH construction over the swapped data must succeed — the
      // guard rejects stale re-execution, not the new corpus.
      val fresh = graft.queries.Graph.trianglesWithBloomConfig(
        spark, dir.toString, bucketItems = Long.MaxValue, scalarMaxEdges = 0L)
      assert(fresh.collect()(0).getLong(0) >= 0L)
    } finally {
      spark.conf.set(graft.core.Checkpoints.ModeKey, "local")
    }
  }
}
