package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape regression gate over the ENTIRE query catalog.
  *
  * Planning-only (never executes a query): for every `SparkEntry.queries`
  * entry at sf0.001 it inspects the fully-prepared static physical plan
  * (`executedPlan` with AQE off) plus all subquery plans and asserts the
  * these plan invariants:
  *
  *  1. no `CartesianProductExec` anywhere except the one deliberate cross
  *     join (`q_join_cross`);
  *  2. no `WindowExec` with an empty partition spec (a global window pulls
  *     the whole table through one task — a 100 TB killer);
  *  3. each query's shuffle-exchange count stays at or below the audited
  *     baseline snapshot, so a broadcast join silently degrading to a
  *     shuffle join (or a new redundant repartition) fails `sbt test`
  *     instead of surfacing later as a bench regression.
  *
  * New catalog entries fail with the observed count in the message — add
  * the audited number to `shuffleBudget` after eyeballing the plan.
  */
class PlanAuditSpec extends SparkTestBase {

  /** Queries allowed a cartesian product: the explicit CROSS JOIN demo. */
  private val cartesianOk = Set("q_join_cross")

  /** Audited shuffle-exchange counts per query (initial plan, sf0.001,
    * shuffle.partitions=4, AQE off at planning time). A regression above
    * the snapshot fails; dropping below it just means we got faster —
    * tighten the number when that happens. */
  private val shuffleBudget: Map[String, Int] = PlanAuditSpec.baseline

  /** Planning session with AQE off: `executedPlan` is then the static
    * fully-prepared plan (EnsureRequirements has inserted the exchanges,
    * PlanSubqueries has planned subqueries) rather than an opaque
    * `AdaptiveSparkPlanExec` leaf. `newSession` keeps this conf change
    * out of the suite-shared session. */
  private lazy val auditSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def planFor(name: String): Seq[SparkPlan] = {
    val df = SparkEntry.queries(name)(auditSession, Sf0001)
    df.queryExecution.executedPlan.collectWithSubqueries { case n => n }
  }

  private lazy val allPlans: Map[String, Seq[SparkPlan]] =
    SparkEntry.queries.keys.toSeq.sorted.map(n => n -> planFor(n)).toMap

  test("no cartesian product outside the deliberate cross join") {
    val offenders = allPlans.collect {
      case (name, nodes)
          if !cartesianOk(name) &&
            nodes.exists(_.isInstanceOf[CartesianProductExec]) =>
        name
    }
    assert(offenders.isEmpty,
      s"cartesian product in: ${offenders.mkString(", ")}")
  }

  test("no window function with an empty partition spec") {
    val offenders = allPlans.collect {
      case (name, nodes) if nodes.exists {
            case w: WindowExec => w.partitionSpec.isEmpty
            case _             => false
          } =>
        name
    }
    assert(offenders.isEmpty,
      s"global (partitionless) window in: ${offenders.mkString(", ")}")
  }

  test("per-query shuffle count stays within the audited baseline") {
    val counts = allPlans.map { case (name, nodes) =>
      name -> nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    }
    val unknown = counts.keySet -- shuffleBudget.keySet
    assert(unknown.isEmpty,
      "new catalog queries without an audited shuffle budget " +
        s"(observed counts): ${unknown.toSeq.sorted
          .map(n => s"$n=${counts(n)}").mkString(", ")}")
    val over = counts.filter { case (n, c) => c > shuffleBudget(n) }
    assert(over.isEmpty,
      "shuffle regression vs audited baseline: " +
        over.toSeq.sorted
          .map { case (n, c) => s"$n: $c > ${shuffleBudget(n)}" }
          .mkString(", "))
  }

  test("Spark jobs per consume stay at their runtime pins") {
    // Runtime counterpart of the static budgets: the Spark jobs ONE
    // consume starts on the suite session (AQE on), plan construction
    // included (checkpoints, bloom sizing, schema inference), after one
    // warm consume so JVM-wide memos are filled. The static count cannot
    // see jobs a query runs while it is built (bpe's per-step merges).
    // A relation left in the shared cache manager would stand in for
    // part of these plans, so each counted consume follows a release.
    import org.apache.spark.sql.functions.{col, expr, xxhash64}
    val cleanDir = java.nio.file.Files.createTempDirectory("graft_jobs")
    val rawDir = java.nio.file.Files.createDirectories(cleanDir.resolve("raw"))
    java.nio.file.Files.writeString(rawDir.resolve(
      "glassdoor-job-scrapping02-09-2021-data-engineer-london.csv"),
      PipelineFixtures.RawCsv)
    graft.pipelines.Clean.run(spark, rawDir.toString)
      .write.parquet(s"$cleanDir/clean")
    def build(name: String): org.apache.spark.sql.DataFrame =
      if (name == "Populate.run")
        graft.pipelines.Populate.run(
          spark.read.parquet(s"$cleanDir/clean"), PipelineFixtures.Skills)
      else SparkEntry.queries(name)(spark, Sf0001)
    def consume(name: String): Unit = {
      val df = build(name)
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(expr("bit_xor(h)")).collect()
    }
    try {
      val observed = PlanAuditSpec.jobPins.keys.toSeq.sorted.map { name =>
        consume(name); graft.core.Sessions.release(spark)
        val jobs = countJobs(consume(name))._2
        graft.core.Sessions.release(spark)
        name -> jobs
      }
      val off = observed.filter { case (n, j) => j != PlanAuditSpec.jobPins(n) }
      assert(off.isEmpty, "Spark jobs per consume moved off their pins: " +
        off.map { case (n, j) => s"$n: $j (pinned ${PlanAuditSpec.jobPins(n)})" }
          .mkString(", "))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(cleanDir.toFile)
  }

  test("linkpred keeps its generator-wedge join-free plan") {
    // q_graph_linkpred is the catalog's most expensive query and its
    // plan is load-bearing (A/B 0.64×/0.74× against the join plan): ONE
    // symAdjacency checkpoint feeds everything — wedges are a
    // posexplode + slice-tail-explode GENERATOR chain off the capped
    // array (no wedge self-join exists to demote to a sort), and the
    // anti join is a ShuffledHashJoin LeftAnti on the row-locally
    // exploded edge list (no sort at any scale; the SHUFFLE_HASH hint
    // is unconditional because the probe side has no stats). Pin the
    // shape at the suite SF and at sf0.01: no SortExec anywhere
    // (ordering is TakeOrderedAndProject), zero BroadcastHashJoins, one
    // ShuffledHashJoin LeftAnti, at least three Generates, and at most
    // the two structural exchanges (wedge agg + anti build side).
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    for (sf <- Seq(Sf0001, "/root/testdata/sf0.01")) {
      val nodes = SparkEntry.queries("q_graph_linkpred")(auditSession, sf)
        .queryExecution.executedPlan.collectWithSubqueries { case n => n }
      assert(!nodes.exists(_.isInstanceOf[SortExec]),
        s"linkpred plan at $sf sorts the wedge stream")
      assert(!nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"linkpred at $sf regained a join the generator chain replaced")
      val shj = nodes.collect { case j: ShuffledHashJoinExec => j }
      assert(shj.size == 1 && shj.head.joinType == LeftAnti,
        s"linkpred at $sf anti join changed: ${shj.map(_.joinType)}")
      assert(nodes.count(_.isInstanceOf[GenerateExec]) >= 3,
        s"linkpred at $sf lost a generator stage")
      val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles <= 2,
        s"linkpred at $sf gained shuffle exchanges: $shuffles > 2")
    }
  }

  test("MG hot-key derivation has no global sort and one tiny exchange") {
    // q_join_skew_hot seeds its salt list via MisraGries.topKeys — the
    // whole point is that the derivation is one
    // map-side pass: a per-partition c-entry fold, a single-partition
    // exchange carrying one small map per task, and NO SortExec (the
    // old groupBy-count + orderBy(desc) + limit derivation shipped the
    // full key domain through a shuffle and topped it with a global
    // sort). The collect happens inside topKeys; pin the plan it runs.
    import org.apache.spark.sql.execution.SortExec
    val s = auditSession
    import s.implicits._
    val nodes = graft.operators.MisraGries
      .summaryPlan(core.Tables.orders(s, Sf0001), $"o_custkey", 64)
      .queryExecution.executedPlan.collectWithSubqueries { case n => n }
    assert(!nodes.exists(_.isInstanceOf[SortExec]),
      "hot-key derivation regained a global sort")
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) <= 1,
      "hot-key derivation shuffles more than the single-row final agg")
  }

  test("comparison filters push down into the parquet scan") {
    // Pushdown sanity on the filter-led queries (simple predicates that
    // parquet CAN evaluate): the scan node must advertise PushedFilters.
    // Hash/UDF-style predicates (e.g. the sampling bucket test) are
    // legitimately not pushable and aren't asserted here.
    val mustPush = Seq("q_filter_project", "q_filter_in_like")
    val offenders = mustPush.filterNot { name =>
      allPlans(name).exists {
        case f: FileSourceScanExec =>
          f.metadata.get("PushedFilters").exists(s => s != "[]" && s.nonEmpty)
        case _ => false
      }
    }
    assert(offenders.isEmpty,
      s"no pushed parquet filters in: ${offenders.mkString(", ")}")
  }

  test("the latest-partition query prunes at the partition level") {
    // q_latest_partition reads a year-partitioned mirror; its scan must
    // carry a partition filter (static pruning), not a post-scan filter
    // over every year directory.
    val pruned = allPlans("q_latest_partition").exists {
      case f: FileSourceScanExec =>
        f.relation.partitionSchema.nonEmpty && f.partitionFilters.nonEmpty
      case _ => false
    }
    assert(pruned, "q_latest_partition scans without a partition filter")
  }

  test("the DPP join receives its partition filter at runtime") {
    // q_join_dpp's years come from a filtered dim — not literal-
    // resolvable, so static pruning CANNOT apply; the partitioned fact
    // scan must instead carry a DynamicPruningExpression fed by the
    // dim's broadcast. If DPP stops planning (conf regression, join
    // rewritten off the partition column), the scan reads every year
    // and this fails.
    val pruned = allPlans("q_join_dpp").exists {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(
          _.toString.contains("orders_by_year_dpp")) &&
          f.partitionFilters.exists(
            _.toString.toLowerCase.contains("dynamicpruning"))
      case _ => false
    }
    assert(pruned, "q_join_dpp plans no dynamic partition pruning filter")
  }

  test("reachability_pre probes the bucketed edges through DPP") {
    // q_graph_reachability_pre exists to fix the CTE twin's full edge
    // re-probe per BFS level: EVERY scan of the sym_edges artifact must
    // carry a partition filter — the level-0 probe a STATIC literal
    // bucket (anchor + bucket come from the build sidecar), the level-1
    // probes a DynamicPruningExpression fed by the frontier's
    // broadcast. An unfiltered edge scan means the twin silently
    // degraded to the very full-relation probe it was built to replace
    // — fail loudly instead.
    val scans = allPlans("q_graph_reachability_pre").collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains("sym_edges")) => f
    }
    assert(scans.nonEmpty, "no sym_edges scans found")
    val unfiltered = scans.filter(_.partitionFilters.isEmpty)
    assert(unfiltered.isEmpty,
      s"${unfiltered.size} edge scan(s) read the full relation")
    assert(scans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      "the frontier probe lost its dynamic pruning filter")
  }

  test("nested-struct pruning reaches the parquet leaves") {
    // q_nested_pruning touches meta.status and meta.total only; the scan's
    // required schema must exclude the meta.priority leaf — otherwise the
    // whole struct is read and "nested pruning" is decorative.
    val pruned = allPlans("q_nested_pruning").exists {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("orders_nested")) =>
        val meta = f.requiredSchema.fields.find(_.name == "meta")
        meta.exists { m =>
          val leaves = m.dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]
            .fieldNames.toSet
          leaves == Set("status", "total")
        }
      case _ => false
    }
    assert(pruned,
      "q_nested_pruning scans more struct leaves than {status, total}")
  }

  test("every catalog query plans a pruned lineitem scan") {
    // Column pruning sanity: no catalog query should scan lineitem's full
    // 16-column width unless it genuinely selects *.
    val wideScanOk = Set("q_typed_dataset") // typed Dataset round-trip needs the full row
    val offenders = allPlans.collect {
      case (name, nodes) if !wideScanOk(name) && nodes.exists {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.exists(_.toString.contains("lineitem")) &&
                f.requiredSchema.length >= 16
            case _ => false
          } =>
        name
    }
    assert(offenders.isEmpty,
      s"unpruned lineitem scan (all 16 columns) in: ${offenders.mkString(", ")}")
  }
}

/** Audited baseline: `sbt "Test/runMain graft.PlanAuditDump"` prints
  * every query whose observed count differs from its budget; review the
  * diff before editing — every increase must be justified. */
object PlanAuditSpec {
  /** Spark jobs of one warm consume at sf0.001 (`local[4]`, 4 shuffle
    * partitions, AQE on): the perfbench `catalog_mix` rows, the serving
    * rows, the populate stage over a clean parquet table, and the two
    * bpe rows whose merges run while the plan is built. A change in
    * either direction fails; a drop is a win to record here. */
  val jobPins: Map[String, Int] = Map(
    "q_graph_triangles" -> 13,
    "q_dedup_jaccard" -> 8,
    "q_join_star" -> 7,
    "q_text_top_skills" -> 5,
    "q_serving_jobs" -> 3,
    "q_serving_pivot" -> 5,
    "q_serving_lookup" -> 5,
    "q_serving_join" -> 7,
    "q_text_bpe" -> 21,
    "q_text_bpe_deep" -> 40,
    "Populate.run" -> 6)

  val baseline: Map[String, Int] = Map(
    "q_agg_collect_sorted" -> 2,
    // same decomposition as q_agg_rollup (pre-agg exchange + the
    // CUBE Expand over the collapsed relation + output sort).
    "q_agg_cube" -> 3,
    "q_agg_distinct" -> 3,
    "q_agg_filter_revenue" -> 1,
    // base-side partial agg + batch-side partial agg share the custkey
    // exchange with the full-outer merge; + the output sort. Both agg
    // exchanges carry pre-aggregated states, not order rows.
    "q_agg_incremental" -> 3,
    "q_agg_maxby" -> 2,
    // pair-counts agg + per-status rank window + the 3-row output sort.
    "q_agg_mode" -> 3,
    "q_agg_median_disc" -> 2,
    // ONE l_returnflag exchange shared by the cumsum + total windows +
    // the 3-row output sort; the crossing predicate is row-local.
    // collapse + two-phase bucketed prefix sum replaced the single
    // per-flag window (3 single-task spilling sorts at x100, exponent
    // 1.24 -> 0.22/decade). The exchanges are the collapse agg, the
    // bucket-subtotal agg + tiny prefix window, the (flag, bucket)
    // window shuffle, and the 3-row output sort — every one spread.
    "q_agg_median_weighted" -> 6,
    // both union branches feed one status partial agg + output sort;
    // name alignment is a projection, not a shuffle.
    "q_union_byname" -> 2,
    "q_agg_pricing" -> 2,
    // finest-grain-first decomposition: +1 exchange for the
    // (rf, ls) pre-aggregation, but the Expand + rollup agg now runs
    // over ~6 rows instead of 3x the fact table (1.07 s -> 0.60 s).
    "q_agg_rollup" -> 3,
    // ONE custkey exchange feeds all four MAD window functions (+ the
    // final output sort) — the conditional-window-MAX-instead-of-join
    // design is exactly what keeps this at 2.
    "q_anomaly_mad" -> 2,
    "q_ann_ivf" -> 2,
    "q_ann_ivf_pre" -> 2,
    "q_ann_lsh" -> 3,
    // recall contract runs BOTH candidate generators + the exact
    // baseline: exact rank window + lsh dedup + ivf cell join + the
    // membership-join/summary aggs. Skinny (query, neighbor) pairs on
    // every exchange; |queries| is a constant.
    "q_ann_recall" -> 6,
    // split: sketch agg + two-phase exact-distinct + envelope —
    // three fast-path legs instead of one sort-based fallback over
    // Expand-doubled input. The envelope is the same two-phase
    // rank selection as q_quantile_global (bin histogram agg + tiny
    // bin-cumulative window + per-flag totals agg + hit-bin row window
    // + final envelope agg), trading 3 more skinny exchanges for not
    // sorting the near-unique (flag, cents) column (1.23 s -> 0.97 s).
    "q_approx_stats" -> 9,
    "q_array_explode" -> 1,
    "q_array_funs" -> 1,
    "q_clean_company_size" -> 1,
    "q_clean_rating" -> 1,
    "q_clean_salary" -> 1,
    "q_cond_funs" -> 1,
    "q_csv_roundtrip" -> 2,
    "q_date_funs" -> 1,
    "q_dedup_embedding" -> 2,
    // cell-keyed self-join + removed-id distinct + the output sort; the
    // verdict join back broadcasts the skinny removed set.
    "q_dedup_semantic" -> 3,
    "q_dedup_exact" -> 2,
    "q_dedup_incremental" -> 3,
    // 3 (was 2): verifyJaccard's persist() → broadcast+ReuseExchange rework
    // made the candidate-id distinct exchange visible — persist hid it
    // inside an InMemoryRelation that executedPlan doesn't walk. Runtime
    // shuffle work is unchanged; nothing stays pinned in the cache manager.
    "q_dedup_jaccard" -> 3,
    // 3 = candIds semi-join agg + its re-use + final sort: the prefix
    // pipeline (dfreq agg, rarity window, candidate self-join) runs ONCE
    // inside the checkpointed candidate materialization, and the shingle
    // exchanges vanished with the ex checkpoint partitioned on shingle;
    // verify side is all broadcasts.
    "q_dedup_prefix" -> 3,
    "q_dedup_jaccard_pre" -> 3,
    // blocked equi-join self-join; at sf0.001 the build side broadcasts,
    // leaving only the output range sort (at scale: SMJ on the block key).
    "q_dedup_levenshtein" -> 1,
    "q_dedup_minhash_sig" -> 2,
    // CC loop runs its iterations eagerly at construction; this budget is
    // the RETURNED plan (flat localCheckpoint scan -> window -> sort).
    "q_dedup_cluster" -> 2,
    // margin join onto the checkpointed O(duplicates) label relation +
    // the per-cluster rank window + output sort; the corpus-side margin
    // scan is row-local and never shuffles.
    "q_dedup_keep_best" -> 3,
    "q_dedup_simhash" -> 2,
    "q_distinct_pairs" -> 2,
    // doc-pos window, gram-occurrence agg, dup semi-join, island/span
    // regroup + output sort — only (doc, pos, hash) triples shuffle.
    "q_text_dupspans" -> 4,
    "q_dropdup_bykey" -> 2, // contract gate (key-dedup + global count distinct)
    // one (label,pos) partial-agg exchange + the output sort
    "q_embed_centroid" -> 2,
    // row-local JL projection: the only exchange is the output sort.
    "q_embed_project" -> 1,
    // absmax partial agg + per-dim stats partial agg (both map-side
    // combined to 64xpartitions rows) + the 64-row output sort; the
    // absmax join is a broadcast, never an exchange.
    "q_embed_quantize" -> 3,
    // all six exchanges carry (user, day) pairs or per-day counts —
    // the event payload is dropped at the first projection.
    "q_events_dau" -> 6,
    // one (user,type,window) exchange for the rank window + output sort.
    "q_events_dedup" -> 2,
    // ONE user_id exchange shared by the last-K rank window and the
    // ordered collect + output sort; only (user, ts, id, cents) quads move.
    "q_events_ewma" -> 2,
    // daily (user,day) agg + the span agg/ffill window on user_id + the
    // output sort — every exchange carries (user, day, value) triples.
    "q_events_gapfill" -> 3,
    // (user,day) distinct + the user rank window (both aggs reuse the
    // user partitioning) + output sort; payload dropped at projection.
    "q_events_streaks" -> 3,
    // one user_id sorted-collect agg (the symbol string) + output sort;
    // the regex match runs inside the projection, no extra exchange.
    "q_events_pattern" -> 2,
    "q_events_funnel" -> 2,
    "q_events_retention" -> 4,
    "q_events_session" -> 2,
    "q_events_sliding" -> 2,
    // user_id lag window + type-pair agg + output sort
    "q_events_transitions" -> 3,
    // (window,type) partial agg + the rank window over the tiny counts
    // relation + output sort.
    "q_events_trending" -> 3,
    "q_events_tumbling" -> 2,
    // native exec: clicks co-partition + the tie-collapse (user,ts) agg
    // + its re-hash onto user only (skinny agg output, not raw events)
    // + output sort. The union+window rewrite's 2 buys that with a
    // padded union and a running window instead.
    "q_join_asof_native" -> 4,
    // forward direction, same exchange shape (views co-partition +
    // click tie-collapse agg + its re-hash + output sort).
    "q_join_asof_fwd" -> 4,
    // same exchanges as the native backward asof — the TTL freshness
    // predicate is row-local on int64 micros.
    "q_join_asof_ttl" -> 4,
    // forward twin: same exchanges as q_join_asof_fwd — the attribution
    // horizon is the same row-local int64-micros predicate.
    "q_join_asof_ttl_fwd" -> 4,
    // nearest = backward exec + forward exec COMPOSED, still 4: the
    // second merge pass finds its left side already partitioned and
    // sorted by the first exec's output, so the compose adds zero
    // exchanges over a single native asof (the view side's agg + its
    // re-hash account for the other two, shared shape with _native).
    "q_join_asof_nearest" -> 4,
    // 3: both interval-join sides shuffle on user_id, the per-user agg
    // reuses that partitioning, final ORDER BY adds the range exchange.
    "q_events_view_click" -> 3,
    // outer twin: same user_id join exchanges + distinct-agg as inner.
    "q_events_view_click_outer" -> 3,
    "q_except" -> 2,
    // edge dedup + the min-depth and per-layer aggs; the UnionLoop's
    // per-step exchanges are iteration-internal, not in the static plan.
    "q_graph_reachability" -> 3,
    // 2 = the visible plan starts at the CHECKPOINTED adjacency (the
    // edge-build exchanges run once inside the materialization): node-set
    // distinct + per-iteration contribution aggs + final top-100 sort;
    // every exchange carries (node, long) pairs, never lineitem payload.
    "q_graph_pagerank" -> 2,
    // same iteration body over the parquet edge artifact.
    "q_graph_pagerank_pre" -> 2,
    // 4 = hop-2 frontier distinct, the node min-depth agg, the
    // per-layer agg, final ORDER BY (the anchor comes from the build
    // sidecar — no per-query min scan). All four carry node-sized rows;
    // the edge probes themselves are exchange-free (static bucket
    // literal at level 0, broadcast frontier + DPP at level 1).
    "q_graph_reachability_pre" -> 4,
    // 2 = the (a,b) wedge-count agg + the anti join's edge build side:
    // the adjacency groupBy runs once inside the symAdjacency
    // checkpoint, wedges are generators off the capped arrays (no
    // self-join), and the anti is a shuffled-hash LeftAnti whose probe
    // side arrives partitioned from its own agg.
    "q_graph_linkpred" -> 2,
    // 4 = closure-join wedge-side exchange + the bloom scalar-subquery
    // agg (which cuts the closure exchange's ROW volume ~15x) + count
    // partials. The wedge SELF-join runs with NO exchange: the oriented
    // edge checkpoint is hash-partitioned on u and every consumer joins
    // keyed on u — the structural dividend of lowest-corner orientation
    // (the old mid-node shape joined dst-to-src, two keys, and needed 5).
    // Edge-build dedup + degree joins run once inside the checkpoint.
    "q_graph_triangles" -> 2,
    // same core over the standing oriented-adjacency parquet: bloom
    // scalar-subquery agg + count partials; wedges are generators off
    // the artifact arrays, the closure side broadcasts at this SF.
    "q_graph_triangles_pre" -> 2,
    // bloom scalar-subquery agg + post-prune join + final sort; the
    // fact side is filtered BEFORE its exchange — that's the point.
    "q_join_bloom" -> 3,
    "q_filename_column" -> 2,
    "q_filter_in_like" -> 1,
    "q_filter_project" -> 1,
    // finest-grain pre-agg CTE + GROUPING SETS over the collapsed
    // relation + output sort (was Expand x3 over lineitem at 2).
    "q_grouping_sets" -> 3,
    "q_histogram" -> 2,
    // token×doc tf agg + per-token merge + final token sort.
    "q_index_inverted" -> 3,
    "q_intersect" -> 2,
    "q_join_anti" -> 1,
    // 2: the union+window as-of shape — one user_id exchange shared by
    // both sides, one final range sort. A range-join formulation would
    // explode pairs; this count is the point of the shape.
    "q_join_asof" -> 2,
    // the whole point: SMJ rides the bucketed layout, zero join shuffles
    // (the 2 = groupBy agg + final ORDER BY).
    "q_join_bucketed" -> 2,
    "q_join_broadcast" -> 2,
    "q_join_cross" -> 1,
    "q_join_full" -> 3,
    "q_join_left" -> 2,
    "q_join_nullsafe" -> 3,
    "q_join_range" -> 2,
    "q_join_right" -> 2,
    "q_join_semi" -> 1,
    "q_join_star" -> 2,
    // 1 at sf0.001: the exploded order side broadcasts, leaving only the
    // output sort; at scale the bin equi-join degrades gracefully to a
    // 2-exchange hash join on the grid key (never a nested loop).
    "q_join_interval" -> 1,
    // registry side broadcasts into the block join; the per-rid resolve
    // window + output sort share nothing (different keys) = 2.
    "q_link_jarowinkler" -> 3, // +1: per-block cap window
    // 4: salted shuffle-hash join shuffles both sides on (key,salt), then
    // the nationkey agg + final sort — the deliberately-shuffled path the
    // salt exists for (broadcast would hide the operator under test).
    "q_join_skew_salted" -> 4,
    // same salted shuffle-hash shape, hot-keys-only salting; +the
    // data-derived hot-key scan is a separate collect, not in this plan.
    "q_join_skew_hot" -> 4,
    // lateral top-2 decorrelates to join + per-nation rank; one
    // customer exchange + the output sort.
    "q_join_lateral" -> 2,
    "q_json_corrupt" -> 1,
    // DSv2 kv scan with the prefix predicate pushed into the source;
    // the only exchange is the output sort.
    "q_kv_roundtrip" -> 1,
    // IN-list point lookup pushed into the source; output sort only.
    "q_kv_lookup" -> 1,
    // the publishes (snapshot + delta full-outer join) run eagerly at
    // build time; the measured read plan is scan + output sort.
    "q_kv_cdc" -> 1,
    "q_json_props" -> 2,
    "q_json_roundtrip" -> 2,
    // 6 = two argmin windows (one per Lloyd's iteration) + the recenter
    // (cid,pos) agg + centroid reassembly + final agg + final sort — all
    // ONE lazy plan, no driver actions or checkpoints.
    "q_kmeans" -> 6,
    "q_latest_partition" -> 2,
    "q_map_funs" -> 1,
    "q_math_funs" -> 1,
    // 4: both merge sides shuffle on the key for the full-outer SMJ, the
    // status agg + final sort. Updates derive from the base scan (reused).
    "q_merge_upsert" -> 4,
    // narrow decode+frame+fold mapPartitions; only the output sort.
    "q_multimodal_audio" -> 1,
    "q_multimodal_features" -> 1,
    "q_multimodal_frames" -> 2,
    "q_multimodal_meta" -> 1,
    // (chunk_idx, chunk_val) band self-join exchange (skinny (id, hash)
    // pairs — payloads never shuffle) + the pair-dedup agg/output sort.
    "q_multimodal_phash" -> 2,
    // narrow resize mapPartitions; only the output sort shuffles.
    "q_multimodal_resize" -> 1,
    // 2: block-partitioned window exchange + final range sort. The block
    // totals job (phase 1) runs at DataFrame-construction time and is a
    // |blocks|-row aggregate, not part of this plan.
    "q_normalize_zscore" -> 2,
    "q_orc_roundtrip" -> 2,
    "q_pack_shards" -> 2,
    // same two-phase prefix-sum shape as q_pack_shards, keyed on the
    // shuffle hash: block-partitioned window + output sort.
    "q_shuffle_pack" -> 2,
    // hashing-trick featurizer: one (doc, bucket) partial agg (map-side
    // combined) + output sort. The text never shuffles — only skinny
    // (id, bucket) pairs.
    "q_text_feature_hash" -> 2,
    "q_pivot" -> 3,
    // two-phase selection: bin agg, cumulative agg, total agg, k/target
    // derivations, hit-bin window, final 3-row sort — every exchange
    // after the first carries the bounded bin relation, never rows.
    // 10 = 5 per-column branches x (value-dedup partial agg + 1-row
    // final agg) — every exchange carries one column's DEDUPED values,
    // never rows; the former 2-exchange single-agg shape went through a
    // 6-way Expand (rows x 6 on the wire) and cost 2x the wall time.
    "q_profile_stats" -> 10,
    // margin ⋈ base self-join on doc_id (both sides skinny projections)
    // + the per-source summary agg + output sort.
    "q_profile_corpus" -> 3,
    // 2 = the 4-row model fold (partial+final agg into the coefficient
    // array broadcast) + output sort; scoring is row-local codegen, the
    // corpus never shuffles.
    "q_quality_classifier" -> 2,
    // 4: the bin histogram is checkpointed once (its three
    // consumers re-ran the binning agg before), so the selection core
    // keeps the checkpoint's agg pair + the hit-bin window exchange +
    // output sort.
    "q_quantile_global" -> 4,
    // 3: one-row percentile_approx agg (partial+final) + the 3-row
    // posexplode/pct agg; the rank-check pass broadcasts the cut points,
    // so lineitem never shuffles.
    "q_quantile_approx" -> 3,
    // 5: daily sketch partial agg + month union agg + the exact
    // countDistinct branch (2: expand + final) + the month equi-join;
    // every exchange after the first carries ~4 KB sketches or
    // (month, count) pairs, never raw rows.
    // 3: counter-table partial agg (d x w groups, map-side combined) +
    // exact-count agg + the probe min-fold agg; the sketch side of the
    // probe join arrives as a broadcast (d x w rows by construction).
    "q_sketch_cms" -> 3,
    "q_sketch_hll" -> 5,
    // 6: daily (month,day,batch) sketch agg + month union + from-scratch
    // month sketch + the exact countDistinct pair + the 3-way month join
    // reuse; same sketch-or-pair-only wire property as q_sketch_hll.
    "q_sketch_incremental" -> 6,
    // the selection-core exchanges (shared shape with q_quantile_global,
    // 4 with the bin-histogram checkpoint) + the bucket agg + output
    // sort; every post-scan exchange carries bin/bucket relations bounded
    // by the domain, never rows. Bucket assignment is a codegen
    // comparison sum, not a per-row interpreted HOF.
    "q_histogram_equidepth" -> 6,
    // (day,type) agg + type baseline + corpus total + per-day totals +
    // the per-day fold + output sort — all domain-bounded relations.
    "q_drift_chisq" -> 6,
    // (type, cents) pre-agg + the per-type cumsum window exchange + the
    // 5-row output sort; both windows share one event_type partitioning
    // and run over the DEDUPED value domain, never raw events.
    "q_drift_ks" -> 3,
    // token-count agg (vocab side, TakeOrdered) + per-source rollup +
    // 20-row output sort; the coverage join itself is a broadcast.
    "q_text_oov" -> 3,
    // ONE user_id exchange shared by all three windows + the output sort.
    "q_scd2" -> 2,
    // both snapshot sides shuffle on the key for the full-outer SMJ
    // (neither side of a full outer can broadcast) + summary agg + sort.
    "q_snapshot_diff" -> 4,
    // 256-group partial agg (digest fold is map-side combined) + sort.
    "q_table_checksum" -> 2,
    // metadata-only: (y,m) file-inventory agg, 1-row target agg
    // (broadcast back), per-year binpack window, (y,bin) agg + output
    // sort fused by AQE. The orders data itself shuffles only as the
    // ~84-row inventory.
    "q_compact_plan" -> 4,
    // orderkey-max scalar agg + (layout,zone) partial agg + 2-row layout
    // summary + output sort; zone assignment itself never shuffles.
    "q_zorder_cluster" -> 4,
    "q_regexp_funs" -> 1,
    // corpus dfreq agg + eval prefix join/window + candidate join on the
    // shingle key + pair dedup + output sort; verify side is broadcasts.
    "q_text_containment" -> 5,
    "q_sample_hash" -> 2,
    // per-source count agg + the 1-row min(n/w) agg + final summary agg
    // + output sort; the rate table comes back as a broadcast, so the
    // corpus never shuffles before the summary.
    "q_sample_mixture" -> 5,
    // ONE quasi-identifier window exchange + the output sort; hashing,
    // banding and suppression are row-local projections.
    "q_pii_kanonymize" -> 2,
    // MG summary partial-merge (c-entry maps on the wire) + n_total agg
    // + candidate exact-count agg + output sort; the membership filter
    // and threshold both arrive as 1-row broadcasts.
    "q_text_heavyhitters" -> 4,
    // gram-window doc_id exchange + (gram, doc) distinct + df agg +
    // per-doc agg + per-source agg (the frequent-set join broadcasts);
    // skinny (id, pos, hash) triples everywhere, text is dropped at the
    // first projection.
    "q_text_boilerplate" -> 5,
    // leaf-pruned nested scan → status partial agg + output sort.
    "q_nested_pruning" -> 2,
    // merged-footer scan → segment partial agg + output sort.
    "q_schema_evolution" -> 2,
    // 3: two-level tournament — (stratum,salt) window, survivor window,
    // output sort. The extra exchange is the price of never sorting a
    // whole stratum in one task.
    "q_sample_stratified" -> 3,
    // same tournament as stratified — (source,salt) window, survivor
    // window, output sort; ranks by difficulty, not hash, but the
    // top-R containment argument is identical.
    "q_curriculum_order" -> 3,
    // same tournament as stratified — (anchor,salt) window, survivor
    // window, output sort; the anchor side arrives as a broadcast and
    // the corpus is scanned once.
    "q_sample_negatives" -> 3,
    "q_sample_weighted" -> 2,
    "q_serving_jobs" -> 2,
    "q_serving_join" -> 4,
    "q_serving_lookup" -> 3,
    "q_serving_pivot" -> 3,
    "q_sort_limit" -> 0,
    // 1 at sf0.001: fingerprint self-join broadcasts the small side; at
    // scale it degrades gracefully to a 2-exchange hash join on the
    // high-cardinality fingerprint (never all-pairs).
    "q_split_contamination" -> 1,
    // 2: one partial-agg shuffle on split, final 3-row sort. Assignment
    // itself is per-row arithmetic — shuffle volume is |splits|, not docs.
    "q_split_assign" -> 2,
    "q_sql_extensions" -> 1,
    "q_str_funs" -> 1,
    "q_text_redact_pii" -> 1,
    // 1: fused BigramStats kernel — scan → project + final sort only (was
    // 3 as explode + two string-shuffling hash-aggs).
    "q_text_repetition" -> 1,
    "q_subquery_above_avg" -> 2,
    // EXISTS decorrelates to a broadcast LEFT SEMI at this SF (sort only).
    "q_subquery_exists" -> 1,
    // IN-subquery semi join + the per-order agg/sort.
    "q_subquery_in" -> 2,
    "q_text_chunk" -> 1,
    // 1: count shuffle only — orderBy+limit plans TakeOrderedAndProject
    "q_text_vocab" -> 1,
    // The word vocab and every batched merge round run as jobs while the
    // plan is built, so the returned plan holds only the output sort;
    // `jobPins` pins the jobs the merges run.
    "q_text_bpe" -> 1,
    "q_text_bpe_deep" -> 1,
    "q_text_fingerprint" -> 1,
    "q_text_langid" -> 1,
    // unigram agg + bigram agg + top-K sort; unigram side broadcasts.
    "q_text_pmi" -> 3,
    // (doc,term) tf agg + df agg + corpus-stats agg (all post-filter,
    // postings-sized) + per-doc score agg + the top-K sort; df and stats
    // broadcast into the scoring join.
    "q_text_bm25" -> 5,
    "q_text_quality" -> 1,
    // one md5-keyed dedup-window shuffle + the 6-row pivot sort; the
    // 12-sum aggregate is a 1-row relation.
    "q_text_funnel" -> 2,
    "q_text_tfidf" -> 6,
    "q_text_token_count" -> 1,
    "q_text_top_skills" -> 3,
    "q_topk_per_group" -> 2,
    "q_typed_dataset" -> 1,
    "q_udaf_topk" -> 2,
    "q_udf_scalar" -> 1,
    "q_udtf_bigrams" -> 1,
    "q_union_all_agg" -> 2,
    "q_union_distinct" -> 2,
    "q_unpivot" -> 4,
    "q_uuid5_keys" -> 1,
    "q_uuid5_sql_registry" -> 1,
    "q_vector_cosine" -> 2,
    "q_vector_topk" -> 2,
    // one n_name partial agg of 6-number moment states + output sort —
    // the whole corr/cov derivation is post-agg scalar arithmetic.
    // +1 for the finest-grain per-supplier int64 moment pre-agg —
    // the added exchange moves ~1 narrow row per supplier (60× fewer
    // rows than lineitem under TPC-H scaling) and removes the
    // DECIMAL(38,0) BigInteger buffer round-trip from the per-lineitem
    // hot path (isolated median 1.05 → 0.70 s at sf0.1).
    "q_agg_corr" -> 3,
    // The per-order basket-set agg and the frequent-item table are
    // checkpointed, so the plan keeps only the item-count agg off
    // the checkpointed baskets + pair agg + output sort; pair generation
    // is a row-local sorted-array explode and the a-priori frequent set +
    // count joins are broadcasts of the checkpointed relation.
    "q_assoc_rules" -> 3,
    // bm25 postings-bounded tf agg + per-doc agg + the two K-bounded
    // collect-sort-posexplode rank folds (each candidate list is
    // built ONCE — a rank-count self-join would re-execute both list
    // subtrees) + output sort; the dense side is TakeOrdered (no
    // exchange), the fusion full-outer runs on two 25-row lists.
    "q_search_rrf" -> 5,
    // per-size min agg + output sort; dominance resolution runs on the
    // broadcast size-domain reduction, never the full table.
    "q_skyline" -> 2,
    // countDistinct(source) expand pair + output sort.
    "q_split_group" -> 3,
    "q_window_dist" -> 2,
    "q_window_frame" -> 2,
    "q_window_lag" -> 2,
    "q_window_range" -> 2,
    "q_window_rank" -> 2,
    // two cascaded map-side-combinable aggs + output sort; no joins.
    "q_agg_diversity" -> 3,
    // dense-grid distinct(day) + (day,hr) count aggs + the 24-row
    // baseline agg + output sort; the baseline joins back by broadcast.
    "q_anomaly_seasonal" -> 4,
    // one per-user window sort + the per-user rollup reuses that
    // partitioning; + output sort.
    "q_events_attribution" -> 2,
    // one groupBy(user) checkpoint feeding everything; the tagged-union
    // (mt,v) histogram agg + its cumulative re-agg + the 1-row user
    // count + output sort — the three quartile maps ride ONE histogram
    // pass and broadcast back to users. Both the skinny per-user relation
    // AND the quartile map are eager localCheckpoints, so the surfaced
    // plan is checkpoint-scan ⋈ three broadcasts + the output sort — one
    // exchange (5 without the qmap checkpoint).
    "q_events_rfm" -> 1,
    // token-count agg (map-side combined) + the doc-tokens⋈bits token
    // exchange pair feeding the per-doc agg into TakeOrdered.
    "q_text_surprisal" -> 3,
    // ONE per-user exchange shared by the lag + running-sum windows and
    // the per-(user, session) rollup; + output sort.
    "q_events_sessionize" -> 2,
    // (flag, day) daily-cents agg + per-flag moment agg + output sort.
    "q_trend_ols" -> 3,
    // (type,day) count agg + per-type stats agg + the shared per-type
    // window sort + output sort (the distinct day/type grids broadcast;
    // both window frames and the rollup ride one partitioning) — all
    // calendar-sized relations.
    "q_drift_cusum" -> 4,
    // one conditional partial agg over the scan + output sort; the
    // deletion predicate is row-local (production: broadcast semi-join).
    "q_pii_erasure" -> 2,
    // per join: two per-key count aggs + the count-relation equi-join
    // rides their partitioning; + each 1-row fold; + output sort over
    // the 2-row union — facts scanned once, never joined.
    "q_profile_joinsize" -> 6,
    // one groupBy(user) flag pass + the 1-row exact+sketch fold.
    "q_sketch_intersect" -> 2,
    // 6 constraint checks off SHARED per-key count relations
    // (lineitem pays 2 scans, not 5 — pk_lineitem and fk_li_orders read
    // one (orderkey, linenumber) agg, FK n_rows is Σc of the same join
    // output) + keys-vs-keys left aligns + 1-row folds + the 6-row
    // output sort — every exchange keys-sized or 1-row; fact rows never
    // move.
    "q_audit_integrity" -> 15,
    // distinct-day collapse + the missing-day island window; the
    // calendar side broadcasts off a 1-row agg and the final range agg
    // fuses with the year-partitioned window.
    "q_backfill_plan" -> 2,
    // dim distinct agg + the (yr, status) agg + output sort; the fact
    // join is a broadcast whose exchange feeds the DPP subquery.
    "q_join_dpp" -> 3,
    // one per-type agg over the parsed-once variant scan + output sort.
    "q_json_variant" -> 3, // +1: count(distinct vtype) heterogeneity guard
    // each: ONE grouped agg + output sort — the pipe parse, the inlined
    // SQL-UDF body, and the collated comparison all stay inside the
    // same two-exchange agg shape as their classic twins.
    "q_sql_pipe" -> 2,
    "q_sql_udf" -> 2,
    "q_str_collation" -> 2,
    // daily-cents agg + the per-flag window sort + output sort; the
    // median frame is a constant 7 rows, row-local sort/select.
    "q_window_median" -> 3,
    // one per-user window sort (the rollup reuses it) + output sort.
    "q_events_bursts" -> 2,
    // both fact and dim hash-partition on user_id in ONE exchange pair
    // shared with the dim's window sort and the rollup; + output sort.
    "q_join_pit" -> 2,
    // the pred⋈gold doc_id exchange pair + the 1-row confusion fold.
    "q_eval_confusion" -> 2,
    // margin⋈gold exchange pair + per-margin (pos,neg) agg, the
    // cumulative self-join's skinny re-agg, and the 1-row U fold; the
    // corpus itself is touched exactly twice (margins + labels).
    "q_eval_auc" -> 5,
    // margin⋈gold exchange pair + the |bins|-sized agg/sort.
    "q_eval_calibration" -> 3,
    // BM25's postings shuffle + the K-bounded collect-sort-posexplode
    // rank fold (a rank-count self-join would re-execute the bm25
    // subtree for both sides), the checkpointed graded-relevance
    // relation (its three consumers would re-run classifier inference),
    // and the ≤10-row cumulative-k / ideal-list algebra — every
    // post-BM25 exchange carries a K- or grade-bounded relation, never
    // the corpus.
    "q_eval_ndcg" -> 11,
    // ONE user window pass consumed once (transitions collapse
    // straight to (from,to) train/eval counts; the rank window and the
    // hit scoring both run on that tiny relation — no second window
    // sort), + from-type rank window + final agg/sort.
    "q_eval_hitrate" -> 4,
  )
}
