package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Artifacts
import graft.core.Artifacts.readCached
import graft.core.Checkpoints.MaterializeOps

/** Materialized-artifact variants of the dedup/ANN/graph operators — the
  * "at 100 TB the sigs/bands/cells are computed once and reused" design
  * made real (see the in-code notes in [[Dedup.bandTable]] /
  * [[Similarity.ivfAssignment]]).
  *
  * Each query ensures its artifact exists on disk (a one-time build job,
  * skipped when the `_SUCCESS` marker is present — the deliberate eager
  * step; everything after it is a lazy plan over the artifact):
  *
  *  - `q_dedup_jaccard_pre`: MinHash band table as parquet. Candidate
  *    generation reads ONLY the 24-byte-row band table; the corpus is
  *    scanned once, for exact verification of the rare candidates —
  *    versus twice (signature build + verify) in the from-scratch query.
  *  - `q_ann_ivf_pre`: the inverted file partitioned BY CELL on disk.
  *    The probe join broadcasts the query probes, so dynamic partition
  *    pruning drops the 14 unprobed cell directories from the scan —
  *    the probe touches 2/16 of the data on disk, not just logically.
  *  - `q_graph_pagerank_pre` / `q_graph_reachability_pre`: ONE grouped
  *    adjacency artifact, `sym_edges`, src-bucketed on disk;
  *    `q_graph_triangles_pre`: the degree-oriented adjacency.
  *
  * All return byte-identical results to their from-scratch twins and are
  * checked against the same DuckDB oracle SQL. [[Artifacts.ensure]]
  * keys each artifact on its logic descriptor and its input table, so a
  * logic change or a regenerated input rebuilds it.
  */
object Materialized extends QueryGroup {

  // Logic descriptors: they reference the live constants in Dedup/
  // Similarity/TextFunctions — never re-typed literals — so changing any
  // constant that determines artifact CONTENT (MinHash coefficients /
  // modulus / shingle size / band packing; IVF plane constant / anchor
  // offset / cell count / quantize scale) changes the artifact key and
  // the artifact rebuilds instead of serving parquet computed by old
  // logic while the from-scratch twin uses new logic.
  private val minhashLogic =
    "minhash|P=" + graft.functions.TextFunctions.HashP +
      s"|k=${Dedup.ShingleK}|bands=${Dedup.NumBands}x${Dedup.RowsPerBand}" +
      "|coeffs=" + graft.functions.TextFunctions.MinHashCoeffs.mkString(",")

  private val ivfLogic =
    s"ivf|plane=${Similarity.PlaneMult}|anchorOffset=${Similarity.AnchorOffset}" +
      s"|cells=${Similarity.NumCells}|quant=${Similarity.QuantScale}"

  /** Memoized sym-edges sidecar values: (bucket count, anchor id,
    * anchor bucket) keyed by artifact path. */
  private[queries] val symEdgeMeta =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Long, Int)]()

  /** One-time build: persist the MinHash band table. Plain parquet — the
    * band self-join shuffles on (band_idx, band_key) either way; the win
    * is never re-shingling/re-hashing the corpus. */
  def buildMinhashBands(s: SparkSession, d: String): String =
    Artifacts.ensure(d, "minhash_bands", Seq("documents"), minhashLogic) {
      out => Dedup.bandTable(s, d).write.mode("overwrite").parquet(out)
    }

  /** One-time build: persist the IVF inverted file, partitioned by cell
    * so probes prune unprobed cells at the directory level. */
  def buildIvfCells(s: SparkSession, d: String): String =
    Artifacts.ensure(d, "ivf_cells", Seq("embeddings"), ivfLogic) { out =>
      Similarity.ivfAssignment(s, d)
        .write.mode("overwrite").partitionBy("cell").parquet(out)
    }

  /** Materialized twin of `q_graph_pagerank`: the same code path
    * ([[Graph.pagerankGrouped]]) over the standing [[buildSymEdges]]
    * adjacency instead of re-deriving it from lineitem per query. */
  private def pagerankPre(s: SparkSession, d: String): DataFrame =
    Graph.pagerankGrouped(readCached(s, buildSymEdges(s, d)))

  // Content depends on the degree-rank packing (deg << 40 | id) and the
  // sorted-array layout; version both so a packing change rebuilds.
  private val orientedAdjLogic = "orientedadj|pack40|sorted-v1"

  /** One-time build: the GROUPED degree-oriented adjacency
    * (u, sorted nbrs) — the storage-side artifact for triangle counting.
    * At 100 TB the degree orientation (a global degree count
    * + rank packing over every edge) is computed once per corpus
    * version, not per query: the per-query cost left is bloom build +
    * wedge generation + closure probe, all row-local or
    * broadcast-shaped reads of this relation. */
  def buildOrientedAdjacency(s: SparkSession, d: String): String = {
    import s.implicits._
    Artifacts.ensure(d, "oriented_adj", Seq("lineitem"), orientedAdjLogic) {
      out => Graph.orientedEdgesFromAdjacency(Graph.symAdjacency(s, d).materialized)
        .groupBy($"u").agg(sort_array(collect_list($"v")).as("nbrs"))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** Materialized twin of `q_graph_triangles`: the same bloom-pruned
    * wedge-closure count (identical geometry, transports and snapshot
    * guard — [[Graph.trianglesOverGrouped]]), but over the standing
    * [[buildOrientedAdjacency]] parquet instead of re-deriving the
    * oriented adjacency from lineitem per query. Same oracle SQL as the
    * from-scratch twin. */
  private def trianglesPre(s: SparkSession, d: String): DataFrame =
    Graph.trianglesOverGrouped(
      readCached(s, buildOrientedAdjacency(s, d)),
      Graph.TriangleBloomBucketItems, Graph.TriangleScalarMaxEdges)

  /** Bucket sizing for the sym-edges artifact: the count is DERIVED
    * FROM THE EDGE VOLUME (Σ deg) so each directory holds a roughly
    * constant number of edges. This is the property that makes the BFS
    * probe scale-independent: a constant-size frontier touches a
    * bounded number of buckets, and constant bucket size means the
    * bytes read per level stop growing with the corpus — a fixed
    * bucket count makes every touched bucket grow linearly (d2 ≈ 0.92
    * at 64 fixed buckets, SCALE_PROBE.md). The floor keeps small test
    * SFs from degenerating to one directory. */
  private[queries] val SymEdgeRowsPerBucket = 65536L
  private[queries] val SymEdgeMinBuckets = 64

  private val symEdgesLogic =
    s"symedges|rpb=$SymEdgeRowsPerBucket|min=$SymEdgeMinBuckets|grouped-v3"

  /** One-time build: the [[Graph.symAdjacency]] rows `(src, deg, nbrs)`
    * laid out in hash-of-src directory partitions `sb` (count from
    * [[SymEdgeRowsPerBucket]]), plus a `_graft_meta` sidecar carrying
    * (bucket count, BFS anchor = global min src). One artifact serves
    * `q_graph_pagerank_pre` (explode, then the from-scratch iteration
    * body) and `q_graph_reachability_pre` (bucket-pruned probes). The
    * src-bucketed layout lets each BFS level's probe prune to the
    * frontier's buckets at the DIRECTORY level via dynamic partition
    * pruning — the mechanism `q_join_dpp` demonstrates on the fact-dim
    * shape — where the recursive-CTE twin re-probes every edge block
    * per level. The anchor lives in the sidecar because it is a
    * property of the artifact: `min(src)` per query is a full scan.
    * The sidecar directory is underscore-prefixed, so the partitioned
    * read ignores it; the build sentinel is the SIDECAR's `_SUCCESS`,
    * written last — a crash mid-build leaves no sentinel and rebuilds. */
  def buildSymEdges(s: SparkSession, d: String): String =
    Artifacts.ensure(d, "sym_edges", Seq("lineitem"), symEdgesLogic,
        sentinel = "_graft_meta/_SUCCESS") { path =>
      import s.implicits._
      val adj = Graph.symAdjacency(s, d).materialized
      // Edge volume sizes the layout; min(src) is the BFS anchor.
      val r = adj.agg(sum($"deg"), min($"src")).head
      // An edge-free corpus would write an empty partitioned artifact
      // (unreadable — no schema) and a phantom anchor; the CTE twin is
      // the right surface for degenerate graphs.
      require(!r.isNullAt(0),
        s"buildSymEdges($d): no co-purchase edges — " +
          "use q_graph_reachability (the CTE twin) on this corpus")
      val (nEdges, anchor) = (r.getLong(0), r.getLong(1))
      val nb = math.max(SymEdgeMinBuckets.toLong,
        (nEdges + SymEdgeRowsPerBucket - 1) / SymEdgeRowsPerBucket).toInt
      adj
        .withColumn("sb", pmod(xxhash64($"src"), lit(nb)).cast("int"))
        // One file per directory: repartition ON the partition column
        // with one task per bucket value.
        .repartition(nb, col("sb"))
        .write.mode("overwrite").partitionBy("sb").parquet(path)
      // anchor_sb via the SAME Spark expression that bucketed the
      // rows — never a driver-side reimplementation of xxhash64+pmod,
      // which would silently diverge on sign handling.
      Seq((nb, anchor)).toDF("nb", "anchor")
        .withColumn("anchor_sb",
          pmod(xxhash64($"anchor"), lit(nb)).cast("int"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/_graft_meta")
    }

  /** Bucket-pruned twin of `q_graph_reachability`: the same 2-hop
    * min-depth BFS from min(src), but over the [[buildSymEdges]]
    * artifact and UNROLLED into one lazy plan. Level 0 probes with a
    * STATIC partition filter (the anchor and its bucket are literals
    * from the artifact sidecar — one directory read); level 1 probes
    * through a broadcast join on (src, sb) whose dynamic partition
    * pruning narrows the scan to the frontier's buckets. Each level
    * explodes `nbrs` only after its filter or join, so the probes
    * match node rows, not edge rows. The CTE twin's measured d2 ≈ 1.12
    * (×100 cell, SCALE_PROBE.md) came from re-probing the FULL edge
    * relation per UnionLoop level; here the per-query cost is
    * O(frontier buckets) of CONSTANT size (bucket count scales with the
    * edge volume), with no full scan anywhere — the anchor derivation
    * moved to build time. The frontier never touches the driver: it
    * rides the broadcast exchange, which DPP reuses for the pruning
    * subquery. The depth bound is static (2), so unrolling loses
    * nothing vs the iterative executor; unbounded closures keep using
    * the CC machinery.
    *
    * The `>= 0` frontier guard is semantically free (part keys are
    * positive) but load-bearing for planning: DPP's insertion gate
    * requires a likely-selective predicate on the filtering side, and
    * an aggregate/distinct alone does not qualify. PlanAuditSpec pins
    * the DynamicPruningExpression plus every-scan-partition-filtered so
    * a regression fails the suite rather than silently reverting to
    * full scans. */
  private def reachabilityPre(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = buildSymEdges(s, d)
    // Bounded sidecar read at plan-construction time (1 row — same
    // class as the memoized fixtures): the layout's bucket count and
    // the build-time BFS anchor.
    // Sidecar values are immutable data at a keyed path — memoize
    // across constructions (JVM-wide, not per-session), so the plain
    // read runs once per artifact path.
    val (nb, anchorId, anchorBucket) = symEdgeMeta
      .computeIfAbsent(base, _ => {
        val m = s.read.parquet(s"$base/_graft_meta").head
        (m.getAs[Int]("nb"), m.getAs[Long]("anchor"),
          m.getAs[Int]("anchor_sb"))
      })
    val edges = readCached(s, base)
    // Level 0: static pruning — one directory, then the src equality.
    val hop1 = edges
      .filter($"sb" === lit(anchorBucket) && $"src" === lit(anchorId))
      .select(explode($"nbrs").as("dst"))
    // Level 1: DPP — the frontier's buckets only.
    val frontier = hop1.select($"dst".as("node")).distinct()
      .filter($"node" >= 0L)
      .withColumn("fb", pmod(xxhash64($"node"), lit(nb)).cast("int"))
    val hop2 = edges.join(broadcast(frontier),
      $"src" === $"node" && $"sb" === $"fb")
      .select(explode($"nbrs").as("dst"))
    val reach =
      Seq(anchorId).toDF("node").select($"node", lit(0).as("depth"))
        .unionAll(hop1.select($"dst".as("node"), lit(1).as("depth")))
        .unionAll(hop2.select($"dst".as("node"), lit(2).as("depth")))
    reach.groupBy($"node")
      .agg(min($"depth").cast("int").as("min_depth"))
      .groupBy($"min_depth")
      .agg(count(lit(1)).as("n_nodes"),
        bit_xor($"node").as("node_sig"))
      .orderBy($"min_depth")
  }

  private def dedupJaccardPre(s: SparkSession, d: String): DataFrame = {
    val bands = readCached(s, buildMinhashBands(s, d))
    Dedup.verifyJaccard(s, d, Dedup.bandCandidates(bands))
  }

  private def annIvfPre(s: SparkSession, d: String): DataFrame = {
    val table = readCached(s, buildIvfCells(s, d))
    Similarity.ivfScore(Similarity.ivfProbes(s, d), table)
  }

  val queries: Map[String, Catalog.Q] = Map(
    "q_dedup_jaccard_pre" -> dedupJaccardPre,
    "q_ann_ivf_pre" -> annIvfPre,
    "q_graph_pagerank_pre" -> pagerankPre,
    "q_graph_reachability_pre" -> reachabilityPre,
    "q_graph_triangles_pre" -> trianglesPre,
  )

  // Same outputs as the from-scratch twins => same oracle SQL.
  val oracle: Map[String, String] = Map(
    "q_dedup_jaccard_pre" -> Dedup.oracle("q_dedup_jaccard"),
    "q_ann_ivf_pre" -> Similarity.oracle("q_ann_ivf"),
    "q_graph_pagerank_pre" -> Graph.oracle("q_graph_pagerank"),
    "q_graph_reachability_pre" -> Graph.oracle("q_graph_reachability"),
    "q_graph_triangles_pre" -> Graph.oracle("q_graph_triangles"),
  )
}
