package graft

/** Generator for `docs/CATALOG.md` — the one-line-per-query index of the
  * public API, so a user can find the operator they need without reading
  * SURVEY.md §8. Rendered from the live catalog ([[SparkEntry.queries]] +
  * [[SparkEntry.oracleSql]]) plus the curated one-liners below;
  * CatalogIndexSpec asserts (a) every catalog query has exactly one
  * description and (b) the committed markdown equals `render()` — the doc
  * cannot drift from the code.
  *
  * Regenerate after adding a query:
  * {{{ sbt "runMain graft.CatalogIndex" }}}
  */
object CatalogIndex {

  /** One line per catalog query: what it computes / which capability row
    * it carries. Keys are pinned 1:1 to `SparkEntry.queries` by
    * CatalogIndexSpec. */
  val descriptions: Map[String, String] = Map(
    // ---- Relational -----------------------------------------------------
    "q_agg_collect_sorted" -> "per-group sorted group-concat via array_sort(collect_list)",
    "q_agg_cube" -> "CUBE over two grouping dims incl. grand totals",
    "q_agg_distinct" -> "exact count(DISTINCT) per group",
    "q_agg_filter_revenue" -> "filtered aggregate: discounted revenue over lineitem",
    "q_agg_maxby" -> "max_by / min_by argmax aggregates",
    "q_agg_pricing" -> "TPC-H Q1-style pricing summary (count/sum/avg/min/max)",
    "q_agg_rollup" -> "ROLLUP hierarchy with subtotal rows",
    "q_distinct_pairs" -> "full-row dropDuplicates to distinct pairs",
    "q_except" -> "EXCEPT set difference",
    "q_filter_project" -> "filter + projection / rename / cast",
    "q_intersect" -> "INTERSECT set intersection",
    "q_join_anti" -> "left anti join (absence filter)",
    "q_join_broadcast" -> "broadcast-hinted dim join",
    "q_join_cross" -> "the one deliberate cartesian CROSS JOIN demo",
    "q_join_full" -> "full outer join",
    "q_join_left" -> "left outer join",
    "q_join_range" -> "theta / range (non-equi) join",
    "q_join_semi" -> "left semi join (existence filter)",
    "q_join_star" -> "multi-dim star-schema inner join",
    "q_sort_limit" -> "global multi-key sort with LIMIT top-N",
    "q_subquery_above_avg" -> "scalar-subquery filter: rows above the global average",
    "q_topk_per_group" -> "top-K rows per group via ranked window",
    "q_union_all_agg" -> "UNION ALL of two branches, then aggregate",
    "q_window_frame" -> "running aggregates over a ROWS frame",
    "q_window_lag" -> "lag / lead / first / last offsets within partitions",
    "q_window_rank" -> "row_number / rank / dense_rank / ntile ranking window",
    // ---- Relational2 ----------------------------------------------------
    "q_agg_median_disc" -> "exact per-group discrete median (lower of ties)",
    "q_agg_median_weighted" -> "exact weighted median by cumulative weight",
    "q_agg_mode" -> "mode aggregate with deterministic tie-break",
    "q_anomaly_mad" -> "robust median/MAD outlier flags",
    "q_approx_stats" -> "approx distinct + percentiles, accuracy-contract gated (ok bit)",
    "q_dropdup_bykey" -> "dropDuplicates by key subset, one-survivor-per-key contract gated (ok bit)",
    "q_filter_in_like" -> "IN-list, LIKE, and boolean-combination filters",
    "q_grouping_sets" -> "GROUPING SETS with grouping-id disambiguation",
    "q_histogram" -> "fixed-width histogram incl. dense empty bins",
    "q_join_bloom" -> "bloom-filter semi-join reduction before the shuffle join",
    "q_join_interval" -> "interval-overlap join via bin blocking",
    "q_join_lateral" -> "LATERAL correlated per-group top-N",
    "q_join_nullsafe" -> "null-safe (<=>) equality join",
    "q_join_right" -> "right outer join",
    "q_join_skew_hot" -> "hot-key-targeted salted join (production skew form)",
    "q_join_skew_salted" -> "salted join splitting a skewed hot key",
    "q_merge_upsert" -> "batch MERGE / upsert (update-else-insert) resolution",
    "q_normalize_zscore" -> "per-group z-score normalization",
    "q_pivot" -> "pivot to wide per-category columns",
    "q_subquery_exists" -> "correlated EXISTS subquery",
    "q_subquery_in" -> "IN subquery against a derived key set",
    "q_union_byname" -> "unionByName across evolved schemas (missing cols null-filled)",
    "q_union_distinct" -> "UNION with duplicate elimination",
    "q_unpivot" -> "unpivot / melt wide columns to long rows",
    "q_window_dist" -> "percent_rank / cume_dist distribution windows",
    "q_window_median" -> "rolling exact median over a ROWS frame",
    "q_window_range" -> "RANGE frame keyed on values, not row counts",
    // ---- TextAnalysis ---------------------------------------------------
    "q_pack_shards" -> "token-budget shard packing via two-phase distributed prefix sum",
    "q_shuffle_pack" -> "deterministic hash shuffle then sequence-pack of docs",
    "q_split_assign" -> "deterministic hash train/val/test split",
    "q_split_contamination" -> "train/test n-gram contamination check",
    "q_text_boilerplate" -> "cross-document repeated-line boilerplate detection",
    "q_text_dupspans" -> "ExactSubstr-style duplicated-span mass (10-gram islands)",
    "q_text_chunk" -> "fixed-size token chunking with overlap",
    "q_text_containment" -> "n-gram containment (asymmetric near-dup) pairs",
    "q_text_feature_hash" -> "feature hashing into fixed-width sparse buckets",
    "q_text_fingerprint" -> "winnowing rolling-hash document fingerprints",
    "q_text_heavyhitters" -> "Misra-Gries heavy-hitter tokens + exact rescan",
    "q_text_langid" -> "n-gram-heuristic language identification",
    "q_text_oov" -> "vocabulary coverage / OOV rate per document",
    "q_text_quality" -> "length / punctuation / stopword-ratio quality scoring",
    "q_text_funnel" -> "corpus-cleaning attrition funnel: cumulative per-stage doc/token survivors",
    "q_text_redact_pii" -> "regex PII redaction (emails, phones, ids)",
    "q_text_repetition" -> "bigram-repetition ratio filter",
    "q_text_token_count" -> "whitespace + BPE-ish regex token counting",
    "q_text_top_skills" -> "FLAGSHIP: dictionary-filtered top-10 skills per source",
    "q_text_vocab" -> "corpus vocabulary induction with min-count cut",
    "q_text_bpe" -> "BPE tokenizer training: 3-merge budget, freq-weighted steps over the word vocab",
    "q_text_bpe_deep" -> "BPE training at a DATA-DERIVED merge budget (smallest m in [4,16] with 2^(m-2) >= word types; 7 at the test SFs, 14 at x100) with the min-support stop rule",
    // ---- Dedup ----------------------------------------------------------
    "q_dedup_cluster" -> "connected-component cluster labels over near-dup pairs",
    "q_dedup_exact" -> "exact duplicate groups by content hash",
    "q_dedup_incremental" -> "batch-vs-standing-corpus incremental near-dup",
    "q_dedup_jaccard" -> "MinHash-band LSH candidates verified by exact Jaccard",
    "q_dedup_levenshtein" -> "edit-distance near-dup w/ length gates + banded DP (optimizer rule)",
    "q_dedup_minhash_sig" -> "MinHash signature agreement vs exact Jaccard contract",
    "q_dedup_prefix" -> "prefix-filter exact set-similarity join (no false negatives)",
    "q_dedup_simhash" -> "SimHash near-dup via pigeonhole banding",
    // ---- Similarity -----------------------------------------------------
    "q_ann_ivf" -> "IVF ANN: coarse cells, then in-cell exact rerank",
    "q_ann_lsh" -> "random-hyperplane LSH bucketed ANN",
    "q_ann_recall" -> "recall@k contract of LSH + IVF vs brute force",
    "q_dedup_embedding" -> "embedding-cosine near-dup via LSH bucket self-join",
    "q_dedup_semantic" -> "SemDeDup: IVF-cell-scoped exact-cosine dedup, min-id keep policy",
    "q_embed_centroid" -> "per-label embedding centroids (skinny partial aggs)",
    "q_embed_project" -> "Johnson-Lindenstrauss random projection",
    "q_embed_quantize" -> "int8 scalar quantization: per-dim scale + exact reconstruction error",
    "q_kmeans" -> "distributed k-means (fixed seed and iterations)",
    "q_vector_cosine" -> "exact pairwise cosine above threshold (broadcast queries)",
    "q_vector_topk" -> "brute-force cosine top-k per query (codegen dot product)",
    // ---- Scalars --------------------------------------------------------
    "q_array_explode" -> "explode with position",
    "q_array_funs" -> "array construct / slice / sort / contains functions",
    "q_cond_funs" -> "CASE / if / coalesce / nullif conditionals",
    "q_date_funs" -> "date/time extraction + arithmetic",
    "q_json_props" -> "get_json_object / from_json field extraction + agg",
    "q_json_variant" -> "Spark 4 VARIANT parse / typed get / type introspection",
    "q_map_funs" -> "map construct / keys / values / lookup functions",
    "q_math_funs" -> "arithmetic / rounding / sign / modulo math surface",
    "q_regexp_funs" -> "regexp extract / replace / match functions",
    "q_sql_extensions" -> "native graft expressions callable from SQL",
    "q_sql_pipe" -> "SQL pipe-syntax (|>) query surface",
    "q_sql_udf" -> "SQL-defined (CREATE FUNCTION) scalar UDF, Catalyst-inlined",
    "q_str_collation" -> "case-insensitive collation compare/group (normalized)",
    "q_str_funs" -> "core string functions (trim / pad / case / substr / concat)",
    "q_udaf_topk" -> "typed Aggregator UDAF (bounded top-3, map-side combining)",
    "q_udf_scalar" -> "Scala UDF surface (slugify) incl. SQL-registry call",
    "q_udtf_bigrams" -> "UDTF shape: one row flatMapped to N bigrams",
    // ---- Serving --------------------------------------------------------
    "q_serving_jobs" -> "Q1 list-all jobs dimension (uuid5 keys)",
    "q_serving_join" -> "Q3 jobs x top-skills join",
    "q_serving_lookup" -> "Q2 point lookup + positional unpack of the wide row",
    "q_serving_pivot" -> "P8 published wide top_skill_n_1..10 pivot",
    "q_uuid5_keys" -> "RFC-4122 v5 surrogate keys (CPython-exact bytes)",
    "q_uuid5_sql_registry" -> "uuid5 through the SQL function registry",
    // ---- CleanStage -----------------------------------------------------
    "q_clean_company_size" -> "P4 company-size grammar to min/max ints",
    "q_clean_rating" -> "P1 trailing-star rating strip to double",
    "q_clean_salary" -> "P5/P6 salary grammars + FX conversion to annual range",
    // ---- Sources --------------------------------------------------------
    "q_csv_roundtrip" -> "CSV write/read round-trip with explicit schema",
    "q_filename_column" -> "S2 filename -> job_position column injection",
    "q_join_dpp" -> "dynamic partition pruning fed by a filtered dim",
    "q_json_corrupt" -> "malformed-JSON resilience (PERMISSIVE corrupt-record)",
    "q_json_roundtrip" -> "JSON-lines write/read round-trip",
    "q_kv_lookup" -> "KV point lookup via DSv2 key-predicate pushdown",
    "q_kv_roundtrip" -> "graftkv DataSourceV2 write/read round-trip",
    "q_latest_partition" -> "latest-partition scan via static partition pruning",
    "q_nested_pruning" -> "nested-struct schema pruning down to the read leaves",
    "q_orc_roundtrip" -> "ORC write/read round-trip",
    "q_schema_evolution" -> "mergeSchema union across evolved parquet batches",
    // ---- Events ---------------------------------------------------------
    "q_events_dedup" -> "stateful event dedup (batch twin of streaming dedup)",
    "q_events_ewma" -> "sequential per-key EWMA fold (fixed-point integers)",
    "q_events_gapfill" -> "time-series gap fill / resample to a dense grid",
    "q_events_session" -> "session windows by inactivity gap",
    "q_events_sliding" -> "sliding windows (batch twin of the stream)",
    "q_events_trending" -> "trending top-k per window",
    "q_events_tumbling" -> "tumbling windows (batch twin of the stream)",
    "q_events_view_click" -> "stream-stream interval join (batch twin)",
    "q_events_view_click_outer" ->
      "left-outer stream-stream join funnel (batch twin)",
    "q_join_asof" -> "as-of join, rewrite form (window over union)",
    "q_join_asof_fwd" -> "native FORWARD as-of join",
    "q_join_asof_native" -> "native backward as-of join (custom plan+strategy+exec)",
    "q_join_asof_ttl" -> "TTL-bounded as-of join (stale feature -> missing, fresh bit)",
    "q_join_asof_ttl_fwd" -> "forward as-of with attribution horizon (late click -> unattributed)",
    "q_join_asof_nearest" -> "nearest as-of (merge_asof direction='nearest', ties to backward)",
    // ---- MultimodalQueries ----------------------------------------------
    "q_multimodal_audio" -> "audio framing: energy / zero-crossings / VAD (real 8-bit PCM WAV seam)",
    "q_multimodal_features" -> "decode / feature-extract (real PNG/JPEG luma histograms)",
    "q_multimodal_frames" -> "frame sampling: payload -> N fixed-size frames",
    "q_multimodal_meta" -> "typed metadata over opaque binary payloads",
    "q_multimodal_phash" -> "aHash perceptual near-dup with pigeonhole banding",
    "q_multimodal_resize" -> "thumbnail downsample with polynomial signature",
    // ---- Analytics ------------------------------------------------------
    "q_events_dau" -> "rolling exact distinct users (DAU / WAU)",
    "q_events_funnel" -> "ordered view->purchase funnel (conditional-min pass)",
    "q_events_pattern" -> "event-sequence pattern match",
    "q_events_retention" -> "weekly cohort retention matrix",
    "q_events_streaks" -> "longest consecutive-day streaks (islands trick)",
    "q_events_transitions" -> "event-transition (Markov) counts",
    "q_text_tfidf" -> "TF-IDF weights over the corpus",
    "q_typed_dataset" -> "typed Dataset filter+map surface (pushdown trade documented)",
    // ---- Materialized ---------------------------------------------------
    "q_ann_ivf_pre" -> "IVF over a fingerprinted materialized cell artifact",
    "q_dedup_jaccard_pre" -> "LSH bands read from a materialized band table",
    "q_graph_pagerank_pre" -> "PageRank over the shared `sym_edges` grouped-adjacency artifact `(src, deg, nbrs)`: explode, then the from-scratch iteration body (byte-identical twin)",
    "q_graph_reachability_pre" -> "2-hop BFS over the same src-bucketed `sym_edges` artifact, DPP-pruned per level, `nbrs` exploded after each probe (byte-identical twin)",
    "q_graph_triangles_pre" -> "bloom-pruned triangle count over a materialized oriented-adjacency artifact (byte-identical twin)",
    // ---- Bucketed -------------------------------------------------------
    "q_join_bucketed" -> "bucketed co-located join (zero-exchange sort-merge)",
    // ---- Sampling -------------------------------------------------------
    "q_curriculum_order" -> "curriculum epoch order: per-source easy-first round-robin",
    "q_sample_hash" -> "deterministic hash sampling",
    "q_sample_mixture" -> "data-mixing resampler to target source proportions",
    "q_sample_negatives" -> "negative sampling against the positive set",
    "q_sample_stratified" -> "per-stratum exact-rate sampling",
    "q_sample_weighted" -> "weight-proportional deterministic sampling",
    // ---- Quantiles ------------------------------------------------------
    "q_histogram_equidepth" -> "equi-depth histogram from exact quantiles",
    "q_quantile_global" -> "exact global percentiles",
    // ---- Indexing -------------------------------------------------------
    "q_index_inverted" -> "inverted token index with postings",
    "q_text_bm25" -> "BM25 ranked retrieval",
    "q_text_pmi" -> "bigram PMI collocations (integer-exact)",
    // ---- Maintenance ----------------------------------------------------
    "q_agg_incremental" -> "incremental aggregate maintenance (base + delta merge)",
    "q_audit_integrity" -> "PK/FK constraint audit (NULL keys count as violations)",
    "q_backfill_plan" -> "missing-partition audit coalesced into backfill date ranges",
    "q_compact_plan" -> "small-file compaction planning (order-preserving binpack)",
    "q_drift_chisq" -> "chi-squared distribution drift",
    "q_drift_ks" -> "two-sample Kolmogorov-Smirnov drift",
    "q_join_pit" -> "point-in-time join over the SCD2 dimension",
    "q_kv_cdc" -> "incremental CDC publish to the KV store",
    "q_profile_joinsize" -> "exact join-size + skew prediction from per-key counts",
    "q_profile_stats" -> "per-column profiling (nulls / distinct / bounds)",
    "q_scd2" -> "SCD2 history build (contiguous versioned intervals)",
    "q_snapshot_diff" -> "CDC snapshot diff (insert / update / delete)",
    "q_table_checksum" -> "order-invariant table checksum",
    "q_zorder_cluster" -> "Z-order clustering payoff measurement",
    // ---- Graph ----------------------------------------------------------
    "q_graph_linkpred" -> "common-neighbor link prediction (capped adjacency)",
    "q_graph_pagerank" -> "PageRank with fixed-point integer ranks",
    "q_graph_reachability" -> "bounded-depth reachability (recursive CTE)",
    "q_graph_triangles" -> "degree-oriented triangle counting",
    // ---- Linkage --------------------------------------------------------
    "q_link_jarowinkler" -> "blocked record linkage, bit-exact Jaro-Winkler kernel",
    // ---- Sketches -------------------------------------------------------
    "q_quantile_approx" -> "approx percentiles gated by an exact rank envelope",
    "q_sketch_cms" -> "count-min sketch with exact heavy-key check",
    "q_sketch_hll" -> "HLL sketch cube with error-envelope gate",
    "q_sketch_incremental" -> "mergeable sketch maintenance (bit-exact merge)",
    "q_sketch_intersect" -> "HLL union / intersection vs exact counts",
    // ---- Privacy --------------------------------------------------------
    "q_pii_erasure" -> "right-to-be-forgotten erasure with tombstone audit",
    "q_pii_kanonymize" -> "pseudonymize + k-anonymity generalization",
    // ---- Inference ------------------------------------------------------
    "q_dedup_keep_best" -> "keep-best dedup policy (CC labels x classifier margins)",
    "q_eval_auc" -> "exact tie-aware ROC AUC of the quality margin vs gold labels",
    "q_eval_calibration" -> "reliability diagram: margin bins vs observed gold rate",
    "q_eval_confusion" -> "model-vs-rules confusion / agreement audit",
    "q_eval_hitrate" -> "next-event hit-rate@1/@3, leave-last-out transition model",
    "q_eval_ndcg" -> "NDCG@1..10 of BM25 retrieval vs margin-graded relevance",
    "q_profile_corpus" -> "per-source corpus release report",
    "q_quality_classifier" -> "linear-model batch inference (integer-exact margins)",
    // ---- Mining ---------------------------------------------------------
    "q_agg_corr" -> "exact CORR / COVAR from integer moments",
    "q_assoc_rules" -> "association-rule mining (support / confidence / lift)",
    "q_search_rrf" -> "hybrid BM25 + dense reciprocal-rank fusion",
    "q_skyline" -> "Pareto-frontier skyline",
    "q_split_group" -> "group-aware leakage-safe split",
    // ---- Scoring --------------------------------------------------------
    "q_agg_diversity" -> "Gini-Simpson diversity of per-user event mix",
    "q_anomaly_seasonal" -> "hour-of-day seasonal anomaly flags (integer sigma test)",
    "q_drift_cusum" -> "one-sided CUSUM change-point monitor",
    "q_events_attribution" -> "last-touch purchase attribution",
    "q_events_bursts" -> "max trailing-hour event burst per user",
    "q_events_rfm" -> "RFM (recency / frequency / monetary) quartile scoring",
    "q_events_sessionize" -> "gap-based sessionization with per-session stats",
    "q_text_surprisal" -> "quantized unigram-LM surprisal scoring",
    "q_trend_ols" -> "OLS trend slope / intercept from exact moments",
  )

  def render(): String = {
    val sb = new StringBuilder
    val total = SparkEntry.queries.size
    sb ++= s"# Catalog — the $total-query public API\n\n"
    sb ++= "One line per catalog query. Run any of them as\n"
    sb ++= "`SparkEntry.queries(\"<name>\")(spark, sfDir)` over the parquet\n"
    sb ++= "tables in `sfDir` (see `TESTDATA.md`). **Oracle** column:\n"
    sb ++= "`hash` — the query has a DuckDB twin SQL in `SparkEntry.oracleSql`\n"
    sb ++= "and hash-matches it at sf0.01 (the driver's correctness gate);\n"
    sb ++= "`rows` — declared rows-only (approximate/arbitrary-survivor\n"
    sb ++= "semantics have no deterministic SQL twin; see SURVEY.md §2B).\n\n"
    sb ++= "Generated by `sbt \"runMain graft.CatalogIndex\"`; CatalogIndexSpec\n"
    sb ++= "fails if this file drifts from the catalog.\n"
    SparkEntry.groupedQueries.foreach { case (group, names) =>
      sb ++= s"\n## $group (${names.size})\n\n"
      sb ++= "| query | oracle | what it computes |\n|---|---|---|\n"
      names.foreach { n =>
        val oracle = if (SparkEntry.oracleSql.contains(n)) "hash" else "rows"
        sb ++= s"| `$n` | $oracle | ${descriptions(n)} |\n"
      }
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get("docs/CATALOG.md")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, render())
    println(s"wrote ${out.toAbsolutePath} (${SparkEntry.queries.size} queries)")
  }
}
