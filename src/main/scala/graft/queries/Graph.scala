package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Checkpoints.MaterializeOps
import Catalog._

/** Relational graph analytics over the part co-purchase graph (parts are
  * adjacent when they appear in the same order — the classic
  * market-basket projection of lineitem).
  *
  * Connected components already live in [[Dedup]] (`q_dedup_cluster`,
  * large-star/small-star); this group adds value propagation (PageRank)
  * and motif counting (triangles) — the two other workhorse graph shapes
  * a relational engine is asked for.
  *
  * Cross-engine determinism: PageRank is computed in 1e9 fixed-point
  * integer arithmetic — every contribution is an exact integer floor
  * division (`div` in Spark, `//` in DuckDB; all operands positive, so
  * truncation = floor in both), every combine an exact integer sum —
  * so ranks are bit-identical across engines and shuffle orders, with
  * none of the double-summation fold-order hazards the float form has.
  */
object Graph extends QueryGroup {

  /** 1e9 fixed-point scale for PageRank ranks. */
  private val Scale = 1000000000L

  /** Per-order sorted item sets: the single lineitem pass every graph
    * build starts from. One groupBy-orderkey shuffle; collect_set
    * partial-aggregates map-side. */
  private[queries] def baskets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("items"))
      .select($"items")
  }

  /** Canonical (src < dst) pair INSTANCES off the basket arrays, not
    * deduplicated: a pair that co-occurs in k orders appears k times.
    * Per-order fanout is C(lines-per-order, 2) ≤ C(7, 2), emitted
    * row-locally by two generators (posexplode anchor + slice-tail
    * explode; slice is 1-based, so start i+2 off the 0-based index is
    * exactly the elements after src). Generators, not nested transform
    * lambdas: those evaluate interpreted per element and priced at
    * 0.91 s vs 0.48 s on the same baskets (OPTIMIZATION_r18.md). */
  private[queries] def pairInstances(b: DataFrame): DataFrame = {
    val s = b.sparkSession
    import s.implicits._
    b.select($"items", posexplode($"items").as(Seq("i", "src")))
      .select($"src",
        explode(slice($"items", $"i" + lit(2), size($"items"))).as("dst"))
  }

  /** The one graph adjacency: symmetrized, deduplicated and grouped,
    * `(src, deg, nbrs)` with deg = size(nbrs), one row per node. Both
    * edge directions are generated row-locally off the baskets and a
    * single groupBy(src) collect_set deduplicates, hash-partitions on
    * src and yields the degree in the same pass. Every graph relation
    * is a row-local projection of it: flat symmetric edges
    * (explode nbrs), canonical pairs (explode, dst > src), the degree
    * table (src, deg). The standing `sym_edges` artifact
    * ([[Materialized.buildSymEdges]]) stores exactly these rows. The
    * collect_set buffer holds deg × 8 B per node in one task, bounded
    * by the lines-per-order fanout cap for every co-occurrence graph
    * here; rankPack asserts deg < 2²³. Measured against the distinct +
    * re-derived-degree builds it replaced: pagerank 0.86×,
    * reachability 0.93× at sf0.1 (OPTIMIZATION_r19.md). */
  private[queries] def symAdjacency(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inst = pairInstances(baskets(s, d))
    val both = inst.union(inst.select($"dst".as("src"), $"src".as("dst")))
    both.groupBy($"src").agg(collect_set($"dst").as("nbrs"))
      .select($"src", size($"nbrs").cast("long").as("deg"), $"nbrs")
  }

  /** PageRank, 2 synchronous iterations, damping 0.85, over the
    * symmetrized co-purchase graph.
    *
    * Shape per iteration: adjacency ⋈ ranks on src (both sides keyed on
    * the node id), then one partial-agg shuffle summing contributions
    * per dst. Ranks are fixed-point longs: contribution = r div deg,
    * update = 0.15·Scale + 85·Σ div 100 — exact integers end to end. */
  private def pagerank(s: SparkSession, d: String): DataFrame =
    pagerankGrouped(symAdjacency(s, d))

  /** PageRank over a grouped `(src, deg, nbrs)` adjacency: the
    * from-scratch query passes [[symAdjacency]], the materialized twin
    * (`q_graph_pagerank_pre` in [[Materialized]]) the `sym_edges`
    * artifact that stores the same rows. The exploded (src, deg, dst)
    * relation is MATERIALIZED once: left lazy, the adjacency build
    * re-executes under every reference (once per iteration) and
    * dominates the runtime. */
  private[queries] def pagerankGrouped(grouped: DataFrame): DataFrame = {
    val s = grouped.sparkSession
    import s.implicits._
    val adj = grouped
      .select($"src", $"deg", explode($"nbrs").as("dst"))
      .materialized
    pagerankIterations(adj)
  }

  /** The 2-iteration fixed-point body over a MATERIALIZED (src, deg,
    * dst) adjacency. */
  private def pagerankIterations(adj: DataFrame): DataFrame = {
    val s = adj.sparkSession
    import s.implicits._
    // Iteration 1 unrolled: the initial rank is the SAME constant for
    // every node, so the first round's contribution is Scale div deg
    // straight off the adjacency — no init relation, no first join; the
    // symmetrized graph has no rank-only nodes, so the receiving node set
    // is identical to the joined form.
    def update(s: org.apache.spark.sql.Column) =
      lit(15L * Scale / 100) + expr("(85 * s) div 100")
    var rank = adj
      .select($"dst", expr(s"$Scale div deg").as("c"))
      .groupBy($"dst")
      .agg(sum($"c").as("s"))
      .select($"dst".as("node"), update($"s").as("r"))
    for (_ <- 2 to 2) {
      rank = adj
        .join(rank, adj("src") === rank("node"))
        .select($"dst", expr("r div deg").as("c"))
        .groupBy($"dst")
        .agg(sum($"c").as("s"))
        .select($"dst".as("node"), update($"s").as("r"))
    }
    rank.select($"node".as("part"), $"r".as("rank_fp"))
      .orderBy(desc("rank_fp"), $"part")
      .limit(100)
  }

  /** Degree rank packing for the oriented edge set: each undirected
    * edge {u,v} is directed from the lower-rank to the higher-rank
    * endpoint, where rank = (degree, id) lexicographic — PACKED into one
    * long as `deg << 40 | id`, so rank comparison is a single long
    * compare and the edge relation stays two columns. The packing
    * requires ids in [0, 2⁴⁰) (key offsets to ×10000 of the probe
    * corpus) and degrees < 2²³ (8.4M, far above any co-occurrence
    * graph's); both hold by construction here and every row asserts
    * them, so a violation at larger scale fails loudly rather than
    * miscounting (the unpacked (deg, id) struct is the general fallback
    * for arbitrary ids). Out-degree under degree orientation is bounded
    * by O(√(2·|E|)) — the arboricity argument behind node-iterator++
    * triangle counting — which is what tames wedge fanout on skewed
    * graphs: a hub with degree h and a small id would otherwise sit on
    * the left of all h of its edges and emit C(h,2) wedges. */
  private def rankPack(id: org.apache.spark.sql.Column,
      dg: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id < 0 || id >= (1L << 40) || dg >= (1L << 23),
      raise_error(lit("rankPack: deg or id out of packing range")))
      .otherwise(shiftleft(dg, 40).bitwiseOR(id))
      .cast("long")

  /** Oriented edges `(u, v)` off a MATERIALIZED [[symAdjacency]]:
    * degrees already sit on the grouped rows, so the src-side deg is
    * row-local and the canonical (src < dst) pairs are an explode +
    * filter — one broadcast join (the one-row-per-node dst-side deg)
    * and no distinct or degree exchange anywhere upstream. 0.93× on the
    * whole triangle query at sf0.1 against the distinct-edge build
    * (OPTIMIZATION_r19.md). */
  private[queries] def orientedEdgesFromAdjacency(grouped: DataFrame): DataFrame = {
    val s = grouped.sparkSession
    import s.implicits._
    grouped
      .select($"src", $"deg".as("sdeg"), explode($"nbrs").as("dst"))
      .filter($"dst" > $"src")
      .join(broadcast(grouped.select($"src".as("dst"), $"deg".as("ddeg"))),
        "dst")
      .select(
        rankPack($"src", $"sdeg").as("r_src"),
        rankPack($"dst", $"ddeg").as("r_dst"))
      .select(
        least($"r_src", $"r_dst").as("u"),
        greatest($"r_src", $"r_dst").as("v"))
  }

  /** Global triangle count — the two-join motif shape over the
    * DEGREE-ORDERED oriented edges: wedges (b, c) from two out-edges of
    * the lowest-rank corner u (rank(b) < rank(c)), closed by probing the
    * oriented edge b→c. Each triangle is counted exactly once, from its
    * minimum-rank corner.
    *
    * Why degree ordering and not raw id order: wedge fanout per corner is
    * C(out-deg, 2), and degree orientation bounds out-deg by O(√(2|E|))
    * (arboricity) instead of letting a high-degree hub with a small id
    * emit deg² wedges. On the sf0.1 co-purchase graph this cuts wedge
    * rows ~1.9x vs id order (GraphSpec pins the inequality).
    *
    * Wedges still vastly outnumber triangles, so the closure join's
    * exchange is THE cost: a bloom filter over the oriented edge set
    * (`bloom_agg_exact` — same family as q_join_bloom's `bloom_agg`, but
    * with explicit conf-free geometry) prunes non-closing wedges
    * map-side, BEFORE they hit the wire. False positives just pass
    * a few extra wedges to the exact join; the count is unchanged. */
  private def triangles(s: SparkSession, d: String): DataFrame =
    trianglesWithBloomBucketItems(s, d, TriangleBloomBucketItems)

  /** Per-bucket item capacity of the partitioned closure bloom. 64M
    * items ≈ 77 MB of bloom at 1% FP — large enough that every corpus
    * up to ~64M oriented edges keeps the single-bucket plan (bucket
    * count 1 degenerates to exactly the scalar-bloom probe), small
    * enough that each bucket's bit array stays far from the sketch
    * library's Int-indexed ceiling. The test seam
    * [[trianglesWithBloomBucketItems]] lowers this to force the
    * multi-bucket path on the small fixtures. */
  private[queries] val TriangleBloomBucketItems = 64000000L

  /** Transport threshold for the single-bucket closure bloom: at or
    * under this many oriented edges the bloom ships as a scalar-subquery
    * plan literal; above it (and always when bucketed) it rides a real
    * `Broadcast` probed by the codegen `bloom_bucket_probe`. The transport
    * A/B in SCALE_PROBE.md measured the literal plan fastest at 1.2M edges
    * (sf0.1: 5.6 s vs 6.0 s broadcast) and
    * the broadcast plan fastest by ×10 (12M edges: 24.7 s literal vs
    * 19.7 s broadcast single-bucket / 19.2 s 4-bucket) — the literal's
    * per-task rehydration and non-codegen probe grow with bloom bytes
    * and wedge count, the broadcast's fixed cost does not. 4M edges
    * (~4.8 MB bloom) splits the two measured regimes. */
  private[queries] val TriangleScalarMaxEdges = 4000000L

  /** EAGER-BUILD CONTRACT: whenever the BROADCAST
    * transport is chosen — nBuckets > 1 OR edgeRows > `scalarMaxEdges`
    * (so also the common single-bucket regime between 4M and 64M edges) —
    * the per-bucket bloom-build jobs run DURING plan construction; this
    * method is not purely lazy there. Building the plan without executing
    * it still pays the bloom-build edge scans.
    *
    * Staleness is defused by a SNAPSHOT FINGERPRINT: construction
    * records (count, bit_xor(xxhash64(u, v))) of the materialized edge
    * relation in the same pass that sizes the buckets, and the returned
    * plan re-derives that pair per execution (a lazy 1-row aggregate
    * crossJoin'd in, one cheap scan of the checkpointed blocks) and
    * raises an error on mismatch instead of probing stale blooms. The
    * mismatch is reachable in `graft.checkpoint.mode=disk`, where
    * persist() keeps lineage and evicted blocks recompute from CHANGED
    * source data (GraphSpec pins the throw); in `local` mode the
    * localCheckpoint blocks are immutable-or-gone, so every execution is
    * snapshot-consistent and the guard only costs the scan. The broadcast
    * blooms are registered with [[graft.core.Broadcasts]] so measurement
    * harnesses can destroy them deterministically after each collect. */
  private[graft] def trianglesWithBloomBucketItems(
      s: SparkSession, d: String, bucketItems: Long): DataFrame =
    trianglesWithBloomConfig(s, d, bucketItems, TriangleScalarMaxEdges)

  /** Full test seam: `bucketItems` sets the bucket geometry (as above) and
    * `scalarMaxEdges` the TRANSPORT threshold — a single-bucket bloom at
    * or under it ships as a scalar subquery (plan literal), anything else
    * rides a real Broadcast probed by the codegen `bloom_bucket_probe`.
    * The transport probe measures the two transports independently of
    * bucket count this way (scalarMaxEdges=0 forces broadcast at one bucket;
    * Long.MaxValue forces the literal plan wherever nBuckets == 1). */
  private[graft] def trianglesWithBloomConfig(
      s: SparkSession, d: String, bucketItems: Long,
      scalarMaxEdges: Long): DataFrame = {
    import s.implicits._
    org.apache.spark.sql.graft.GraftSqlFunctions.ensure(s)
    // The oriented edge set has FOUR consumers (bloom build, wedge
    // generation, closure probe, snapshot guard): checkpoint it ONCE, in
    // GROUPED (u, sorted nbrs) form off a materialized symAdjacency. The
    // flat (u, v) relation is a row-local explode off the checkpointed
    // arrays; groupBy(u) leaves the rows hash(u)-partitioned, and the
    // array rows checkpoint strictly smaller than the exploded form.
    // Wedges are a generator chain (posexplode anchor + slice-tail
    // explode; slice is 1-based, so start i+2 off the 0-based index =
    // exactly the elements after b, preserving b < c in rank order):
    // 0.87× against an exchange-free wedge self-join at sf0.1, which
    // still paid a hash build + probe per wedge row
    // (OPTIMIZATION_r19.md).
    val grouped = symAdjacency(s, d).materialized
    val gr = orientedEdgesFromAdjacency(grouped)
      .groupBy($"u").agg(sort_array(collect_list($"v")).as("nbrs"))
      .materialized
    trianglesOverGrouped(gr, bucketItems, scalarMaxEdges)
  }

  /** The triangle core over any STABLE grouped oriented adjacency
    * (u, sorted nbrs) — checkpointed by the from-scratch query above,
    * parquet-backed for the materialized twin (`q_graph_triangles_pre`
    * in [[Materialized]]). `gr` must be re-readable without recompute
    * (the bloom build, wedge generation, closure side and snapshot
    * guard all consume it). */
  private[queries] def trianglesOverGrouped(
      gr: DataFrame, bucketItems: Long, scalarMaxEdges: Long): DataFrame = {
    val s = gr.sparkSession
    import s.implicits._
    org.apache.spark.sql.graft.GraftSqlFunctions.ensure(s)
    val oe = gr.select($"u", explode($"nbrs").as("v"))
    // The closure bloom is sized from the edge count, read in the same
    // pass as the snapshot fingerprint the broadcast plan re-checks per
    // execution (EAGER-BUILD CONTRACT above): capacity = 1.2 x the edges
    // it holds, floor 65,536 items, FPP 1% (`bloom_agg_exact` bakes the
    // geometry into the plan; no session conf is consulted). Above
    // `bucketItems` edges, edges hash into `nBuckets` ranges by
    // pmod(xxhash64(u, v), nBuckets), one bloom per bucket sized to its
    // mean fill, so no bit array nears the sketch library's Int-indexed
    // bound and total bloom bytes do not grow with the split. The bloom
    // only prefilters wedges; `sorted_contains_long` decides the count.
    val cntFp = oe.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
    val edgeRows = cntFp.getLong(0)
    val edgeFingerprint = cntFp.getLong(1)
    val nBuckets = math.max(1L, (edgeRows + bucketItems - 1) / bucketItems).toInt
    val perBucket = math.max(65536L, edgeRows / nBuckets * 6 / 5 + 1)
    // Per-invocation view names: two concurrent triangle runs on one
    // session must not race on create/drop of a shared name
    // (ConcurrencySpec interleaves this query with itself).
    // `gvn` is the checkpointed grouped adjacency (wedge generators read
    // it); `vn` is its row-local flat explode (bloom build + closure
    // side read it) — registering the derived view keeps the SQL below
    // unchanged while everything resolves to the ONE checkpoint.
    val vn = s"graph_oedges_${java.util.UUID.randomUUID.toString.take(8)}"
    val gvn = s"graph_oadj_${java.util.UUID.randomUUID.toString.take(8)}"
    gr.createOrReplaceTempView(gvn)
    oe.createOrReplaceTempView(vn)
    // Closure-join strategy from the same count. The wedge stream is
    // the single thing in this plan that is allowed to be huge, so it
    // must never be SORTED (sort-merge would buffer/spill it) and
    // ideally never shuffled either: up to ~128 MB of edges (8M rows ×
    // 16 B), BROADCAST the edge side — wedges are then probed fully
    // map-side, zero wedge bytes on the wire, which on a cluster beats
    // shuffling a wedge stream that outnumbers edges by orders of
    // magnitude (the 10 MB autoBroadcast default is calibrated for
    // fact×dim, not for avoiding a multi-billion-row shuffle). Past
    // that, SHUFFLE_HASH with the edge side as build — the wedges
    // shuffle but still stream through the probe, never sort.
    //
    // The closure side is the GROUPED adjacency joined on the single
    // key u, with the closing edge verified by binary search over the
    // sorted nbrs array (graft's `sorted_contains_long`) — NOT the flat
    // (u, v) view hashed on the pair key: 0.76×/0.78× at sf0.1 across
    // two JVMs (OPTIMIZATION_r19.md). Same bytes transported, but the
    // hash relation holds one row per NODE instead
    // of one per EDGE (~60× fewer at sf0.1), so the broadcast collect +
    // build shrink accordingly, and each wedge probes one long key +
    // log₂(out-deg) compares instead of hashing the pair. Degree
    // orientation bounds the searched arrays at O(√m); binary search
    // makes even that worst case ~23 compares at 100 TB edge counts.
    val closureHint =
      if (edgeRows <= 8000000L) "/*+ BROADCAST(bc) */"
      else "/*+ SHUFFLE_HASH(bc) */"
    // nBuckets == 1 keeps the exact single-scalar probe (no pmod filter
    // on the build scan) — the common plan for every corpus under
    // `bucketItems` edges.
    //
    // nBuckets > 1 does NOT use per-bucket scalar subqueries: a scalar
    // subquery result is pasted into the plan as a LITERAL and ships
    // inside every fused stage's serialized task binary, rehydrated per
    // task — measured at the ×100 probe corpus (119.6M edges, 2 buckets
    // of ~82 MB) as a 328.8 MiB wedge-stage task binary (the CASE form
    // landed the bloom bytes in two stages, one of them twice) that
    // OOMed a 48g heap the single-bloom plan runs in comfortably.
    // Instead the per-bucket blooms are built SEQUENTIALLY (one
    // bounded-memory aggregate job per bucket — never nBuckets
    // concurrent full-size partial buffers), pulled to the driver (the
    // same bytes a scalar subquery would have moved there anyway), and
    // shipped as a real Broadcast[Array[BloomFilter]]: block-manager
    // torrent, ONE shared copy per executor, a stub in the task binary.
    // Wedges probe their key-selected bucket via the codegen
    // `bloom_bucket_probe` expression — same pmod the build groups by.
    // At corpora where even the summed blooms outgrow the broadcast
    // budget (~1.2 B per edge at 1% FPP), the knob to turn is FPP (more
    // FPs only cost extra exact-join probes), never correctness.
    val out =
      if (nBuckets == 1 && edgeRows <= scalarMaxEdges) {
        s.sql(s"""
          WITH w AS (
            SELECT b, c
            FROM $gvn
            LATERAL VIEW posexplode(nbrs) p AS i, b
            LATERAL VIEW explode(slice(nbrs, i + 2, size(nbrs))) q AS c
            WHERE bloom_might_contain(
              (SELECT bloom_agg_exact(xxhash64(u, v), $perBucket) FROM $vn),
              xxhash64(b, c))
          )
          SELECT $closureHint COUNT(*) AS n_triangles
          FROM w JOIN $gvn bc
            ON w.b = bc.u AND sorted_contains_long(bc.nbrs, w.c)""")
      } else {
        val bloomBytes = (0 until nBuckets).map { b =>
          s.sql(
            s"""SELECT bloom_agg_exact(xxhash64(u, v), $perBucket)
               |FROM $vn WHERE pmod(xxhash64(u, v), $nBuckets) = $b"""
              .stripMargin)
            .head().getAs[Array[Byte]](0)
        }
        // Deserialize once on the driver; the broadcast re-serializes
        // compactly and every executor rehydrates exactly one copy. An
        // empty bucket yields an empty bloom -> probe false, which is
        // exact (the wedge's closing edge cannot exist in that bucket).
        val blooms = graft.core.Broadcasts.track(s.sparkContext.broadcast(
          bloomBytes.map(bs => org.apache.spark.util.sketch.BloomFilter
            .readFrom(bs)).toArray))
        val wedges = gr
          .select($"nbrs", posexplode($"nbrs").as(Seq("i", "b")))
          .select($"b",
            explode(slice($"nbrs", $"i" + lit(2), size($"nbrs"))).as("c"))
          .where(org.apache.spark.sql.graft.BloomBucketProbe
            .probe(xxhash64(col("b"), col("c")), blooms))
        val bc =
          if (edgeRows <= 8000000L) broadcast(gr.as("bc"))
          else gr.as("bc").hint("shuffle_hash")
        // Snapshot guard (EAGER-BUILD CONTRACT): re-derive the edge
        // relation's (count, fingerprint) lazily — so per EXECUTION, not
        // per construction — and fail loudly if it no longer matches what
        // the blooms were built from. One extra 16-byte-per-row scan of
        // the checkpointed blocks; the 1-row aggregate rides the
        // established crossJoin(broadcast(tiny-agg)) scalar shape.
        val guard = oe.agg(count(lit(1)).as("__edge_cnt"),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("__edge_fp"))
        wedges.join(bc, col("b") === col("bc.u") &&
            org.apache.spark.sql.graft.SortedContainsLong
              .sortedContainsLong(col("bc.nbrs"), col("c")))
          .agg(count(lit(1)).as("n_triangles"))
          .crossJoin(broadcast(guard))
          .select(when(
            col("__edge_cnt") === lit(edgeRows) &&
              col("__edge_fp") === lit(edgeFingerprint),
            col("n_triangles"))
            .otherwise(raise_error(lit(
              "triangles: edge snapshot changed since plan construction " +
                "— the eager-built closure blooms are stale; rebuild the " +
                "plan (graft.checkpoint.mode=disk recomputes evicted " +
                "blocks from source)")))
            .as("n_triangles"))
      }
    // Analysis has inlined the views; drop them so the checkpointed
    // blocks are collectable once the result is dropped (same as
    // reachability).
    s.catalog.dropTempView(vn)
    s.catalog.dropTempView(gvn)
    out
  }

  /** Bounded BFS reachability via a RECURSIVE CTE (new SQL surface in
    * Spark 4): from the smallest part id in the graph, walk ≤ 2 hops
    * over the symmetrized co-purchase edges and report, per BFS layer,
    * how many parts are first reached there (min-depth semantics — the
    * closure may revisit a node deeper, the final aggregate keeps the
    * first visit) plus an order-independent id fold.
    *
    * The depth bound is load-bearing at scale: an unbounded closure on
    * a deg≈120 graph multiplies ~120x per level; two hops keeps the
    * working relation at deg² rows while still exercising the iterative
    * executor (UnionLoop) end to end. Deeper traversals belong to the
    * dedicated iterative shapes (q_dedup_cluster's large-star/small-star
    * CC, q_graph_pagerank's fixed-iteration loop). */
  private def reachability(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Materialize the grouped adjacency ONCE (eager localCheckpoint,
    // same precedent as q_dedup_cluster's CC loop): a plain CTE would be
    // INLINED into the recursive step, re-running the edge build on
    // every UnionLoop iteration — measured 5.0 s at sf0.1, ~4 edge-build
    // executions (anchor scalar + one per level). The checkpoint stays
    // GROUPED — (src, nbrs), one row per node — and the recursive term
    // explodes the neighbor array AFTER the frontier join, so each level
    // hash-builds the node-count relation instead of the edge-count one
    // (20k vs 2.4M rows at sf0.1) and only matched frontier rows
    // explode: 0.58×/0.60× against the flat-edge checkpoint across two
    // JVMs (OPTIMIZATION_r19.md). The recursive-CTE formulation (Spark 4
    // UnionLoop) remains the declared capability row.
    // Per-invocation view name — same concurrent create/drop race as
    // triangles' oriented-edge view.
    val vn = s"graph_sym_${java.util.UUID.randomUUID.toString.take(8)}"
    symAdjacency(s, d)
      .select($"src", $"nbrs")
      .materialized
      .createOrReplaceTempView(vn)
    val out = s.sql(s"""
      WITH RECURSIVE reach(node, depth) AS (
        SELECT (SELECT min(src) FROM $vn), 0
        UNION ALL
        SELECT t.dst, r.depth + 1
        FROM reach r JOIN $vn g ON g.src = r.node
        LATERAL VIEW explode(g.nbrs) t AS dst
        WHERE r.depth < 2
      ),
      first_visit AS (
        SELECT node, CAST(min(depth) AS INT) AS min_depth
        FROM reach GROUP BY node
      )
      SELECT min_depth, COUNT(*) AS n_nodes, bit_xor(node) AS node_sig
      FROM first_visit GROUP BY min_depth ORDER BY min_depth""")
    // sql() analysis has already inlined the view's plan into `out`; drop
    // the catalog entry so the checkpointed blocks become weakly reachable
    // (ContextCleaner-collectable) once the caller drops the result. A
    // registered view would pin them for the whole session lifetime.
    s.catalog.dropTempView(vn)
    out
  }

  /** Neighbor-list cap for link prediction: wedge volume is
    * Σ C(min(deg, cap), 2), i.e. QUADRATIC in the cap once hubs saturate
    * it — 64 produced 40M wedge rows at sf0.1 (~10 s), 32 produces ~10M
    * (~3 s) with the same top-of-ranking. The cap is the declared
    * per-node neighbor sample; scale it with cluster budget, not corpus
    * size. */
  private[graft] val LinkPredCap = 32
  private[queries] val LinkPredTopK = 50

  /** Common-neighbor link prediction: rank NON-adjacent part pairs by how
    * many co-purchase neighbors they share — the classic "customers who
    * bought X also bought Y" recommendation score.
    *
    * Shape: per-node sorted neighbor lists CAPPED at [[LinkPredCap]]
    * (smallest ids — deterministic; uncapped common-neighbor counting
    * IS the all-wedges problem, and top-K under a documented per-node
    * sample is the standard large-graph variant). ONE [[symAdjacency]]
    * checkpoint feeds everything: the capped array is a row-local
    * slice(sort_array(nbrs)) of the grouped row, wedges are the
    * posexplode-anchor + slice-tail-explode generator chain straight
    * off that array (sorted ascending, so node_a < node_b falls out of
    * the generator order), and the anti-join probe side is a row-local
    * explode filtered dst > src. The pair-instance stream is generated
    * once, into the adjacency groupBy: 0.64× and 0.74× at sf0.1 across
    * two JVMs against a distinct-edge checkpoint + wedge self-join
    * (OPTIMIZATION_r19.md).
    *
    * Scale notes: the wedge multiset is C(cap,2)-bounded per node and
    * flows straight into its (node_a, node_b) partial agg — no join to
    * sort, so no shuffle-join size gate is needed. The anti join is hinted
    * SHUFFLE_HASH unconditionally: the flat edge side is a skinny
    * projection of a LogicalRDD (no stats, so it would never
    * auto-broadcast) and a hash build over id-pair rows needs no sort at
    * any scale; the wedge side arrives already hash-partitioned on the
    * join key from its own agg. */
  private def linkPred(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grouped = symAdjacency(s, d).materialized
    val cappedArr = slice(sort_array($"nbrs"), 1, LinkPredCap)
    val wedges = grouped
      .select(cappedArr.as("cn"))
      .select($"cn", posexplode($"cn").as(Seq("i", "node_a")))
      .select($"node_a",
        explode(slice($"cn", $"i" + lit(2), size($"cn"))).as("node_b"))
      .groupBy($"node_a", $"node_b").agg(count(lit(1)).as("n_common"))
    val pairsFlat = grouped
      .select($"src", explode($"nbrs").as("dst"))
      .filter($"dst" > $"src")
    wedges
      .join(pairsFlat.hint("shuffle_hash"),
        $"node_a" === $"src" && $"node_b" === $"dst", "left_anti")
      .orderBy($"n_common".desc, $"node_a", $"node_b")
      .limit(LinkPredTopK)
  }

  val queries: Map[String, Q] = Map(
    "q_graph_pagerank" -> pagerank,
    "q_graph_triangles" -> triangles,
    "q_graph_reachability" -> reachability,
    "q_graph_linkpred" -> linkPred,
  )

  private val edgesCte =
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Fixed-point twin: `//` is DuckDB's integer floor division (= Spark's
    // `div` on the all-positive operands here); HUGEINT intermediates are
    // cast back to BIGINT to match Spark's long schema.
    "q_graph_pagerank" ->
      s"""$edgesCte,
         |edges AS (SELECT src, dst FROM pairs
         |          UNION ALL SELECT dst, src FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT src AS node, ${Scale}::BIGINT AS r FROM deg),
         |c1 AS (SELECT e.dst AS node, SUM(r.r // d.deg) AS s
         |       FROM edges e JOIN r0 r ON e.src = r.node
         |                    JOIN deg d ON e.src = d.src
         |       GROUP BY 1),
         |r1 AS (SELECT node,
         |         CAST(${15L * Scale / 100} + (85 * s) // 100 AS BIGINT) AS r
         |       FROM c1),
         |c2 AS (SELECT e.dst AS node, SUM(r.r // d.deg) AS s
         |       FROM edges e JOIN r1 r ON e.src = r.node
         |                    JOIN deg d ON e.src = d.src
         |       GROUP BY 1),
         |r2 AS (SELECT node,
         |         CAST(${15L * Scale / 100} + (85 * s) // 100 AS BIGINT) AS r
         |       FROM c2)
         |SELECT node AS part, r AS rank_fp FROM r2
         |ORDER BY rank_fp DESC, part LIMIT 100""".stripMargin,
    "q_graph_triangles" ->
      s"""$edgesCte
         |SELECT COUNT(*) AS n_triangles
         |FROM pairs ab JOIN pairs bc ON ab.dst = bc.src
         |JOIN pairs ac ON ab.src = ac.src AND bc.dst = ac.dst""".stripMargin,
    "q_graph_linkpred" ->
      s"""$edgesCte,
         |sym AS (SELECT src, dst FROM pairs
         |        UNION ALL SELECT dst, src FROM pairs),
         |adj AS (
         |  SELECT src, list_sort(list(DISTINCT dst))[1:$LinkPredCap] AS nbrs
         |  FROM sym GROUP BY src),
         |w AS (
         |  SELECT nbrs[i+1] AS node_a, nbrs[j+1] AS node_b
         |  FROM adj,
         |    UNNEST(range(0, len(nbrs))) AS r1(i),
         |    UNNEST(range(0, len(nbrs))) AS r2(j)
         |  WHERE i < j),
         |c AS (
         |  SELECT node_a, node_b, COUNT(*) AS n_common
         |  FROM w GROUP BY node_a, node_b)
         |SELECT c.node_a, c.node_b, c.n_common FROM c
         |WHERE NOT EXISTS (SELECT 1 FROM pairs p
         |  WHERE p.src = c.node_a AND p.dst = c.node_b)
         |ORDER BY n_common DESC, node_a, node_b LIMIT $LinkPredTopK""".stripMargin,
    "q_graph_reachability" ->
      s"""${edgesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sym AS (SELECT src, dst FROM pairs
         |        UNION ALL SELECT dst AS src, src AS dst FROM pairs),
         |reach(node, depth) AS (
         |  SELECT (SELECT min(src) FROM sym), 0
         |  UNION ALL
         |  SELECT e.dst, r.depth + 1
         |  FROM reach r JOIN sym e ON e.src = r.node
         |  WHERE r.depth < 2),
         |first_visit AS (
         |  SELECT node, CAST(min(depth) AS INT) AS min_depth
         |  FROM reach GROUP BY node)
         |SELECT min_depth, COUNT(*) AS n_nodes, bit_xor(node) AS node_sig
         |FROM first_visit GROUP BY min_depth ORDER BY min_depth""".stripMargin,
  )
}
