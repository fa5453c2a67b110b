package graft.queries

import org.apache.spark.sql.functions

/** Timing/equality probe for the partitioned closure bloom in
  * `q_graph_triangles` (Graph.trianglesWithBloomBucketItems).
  *
  * The default plan keeps ONE exactly-sized bloom until ~64M oriented
  * edges (TriangleBloomBucketItems); above that the build hashes edges
  * into per-range buckets and wedges probe the bucket their own key
  * hash selects — still fully map-side. No test corpus reaches 64M
  * edges, so this probe FORCES the multi-bucket path on a real corpus
  * by lowering the per-bucket capacity, and reports side-by-side
  * timings plus the triangle counts (which must be identical: the
  * bloom is a prune, never a truth source — GraphSpec pins the same
  * equality on fixtures, this probe pins it at probe scale with the
  * wall-clock evidence SCALE_PROBE.md cites).
  *
  * Usage: Test/runMain graft.queries.TriangleBloomProbe [sfDir] [runs] [bucketCounts]
  *        (defaults: /root/testdata/sf0.1  3  "1,4,16")
  * Prints one JSON line:
  *   {"edge_rows":N,"configs":{"b1":{"n_buckets":1,"median_sec":...,
  *    "triangles":T},...}}
  */
object TriangleBloomProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 3
    // Config tokens: a plain integer N = N buckets under the PRODUCTION
    // transport rule (scalar literal iff one bucket and edges <= the
    // TriangleScalarMaxEdges threshold); "1b" = one bucket with the
    // broadcast transport FORCED, so a transport A/B can separate
    // transport cost from bucket-count cost.
    val bucketCounts = (if (args.length > 2) args(2) else "1,4,16")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)

    // Each undirected edge sits in both endpoints' neighbor arrays.
    val edgeRows = Graph.symAdjacency(spark, sfDir)
      .agg(functions.sum("deg")).head().getLong(0) / 2

    val results = bucketCounts.map { tok =>
      val forceBroadcast = tok.endsWith("b")
      val nb = (if (forceBroadcast) tok.dropRight(1) else tok).toInt
      require(nb > 0, s"bad bucket token $tok")
      // bucketItems chosen so ceil(edgeRows / items) == nb (for nb == 1
      // any items >= edgeRows works; use the production default so the
      // "b1" row IS the default plan, not merely an equivalent one).
      val items =
        if (nb == 1) math.max(Graph.TriangleBloomBucketItems, edgeRows)
        else math.max(1L, (edgeRows + nb - 1) / nb)
      // Report the bucket count the plan ACTUALLY derives from `items`
      // (same ceil-div as Graph) — for nb > edgeRows or rounding at tiny
      // corpora the requested and effective counts differ, and the JSON
      // label must not claim buckets that never existed.
      val effNb = math.max(1L, (edgeRows + items - 1) / items).toInt
      // Untimed warmup (codegen + checkpoint), then timed medians.
      val scalarMax =
        if (forceBroadcast) 0L else Graph.TriangleScalarMaxEdges
      def once(): Long = {
        val row = Graph.trianglesWithBloomConfig(
          spark, sfDir, items, scalarMax).collect()
        row(0).getLong(0)
      }
      graft.Bench.quiesce(spark)
      val tri = once()
      val times = (1 to runs).map { _ =>
        graft.Bench.quiesce(spark)
        val t0 = System.nanoTime()
        val t = once()
        require(t == tri, s"triangle count drift: $t != $tri (nb=$nb)")
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val median = times(times.length / 2)
      (if (forceBroadcast) s"${effNb}b" else effNb.toString, median, tri)
    }

    val tris = results.map(_._3).distinct
    require(tris.size == 1,
      s"triangle counts differ across bucket configs: $results")

    val body = results.map { case (nb, sec, tri) =>
      f""""b$nb":{"n_buckets":${nb.stripSuffix("b")},"median_sec":$sec%.3f,"triangles":$tri}"""
    }.mkString(",")
    println(s"""{"edge_rows":$edgeRows,"sf":"$sfDir","runs":$runs,"configs":{$body}}""")
    spark.stop()
  }
}
