package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Checkpoints.MaterializeOps
import graft.functions.TextFunctions._
import Catalog._

/** Deduplication operators over the `documents` corpus — SURVEY.md §2B
  * "Near-dup text detection" + the north-star dedup family (exact,
  * MinHash-band LSH, SimHash, n-gram Jaccard).
  *
  * The testdata plants 25 near-duplicate pairs (3-gram-shingle Jaccard >=
  * 0.9, everything else < 0.5); `q_dedup_jaccard` must recover exactly
  * those against the oracle's brute-force spec.
  *
  * Scale notes (100 TB design point):
  *  - NOTHING here is all-pairs. The Jaccard query generates candidates by
  *    MinHash banding (9 bands x 2 rows): docs shuffle by (band, band_key)
  *    bucket — cost O(docs x bands), join fan-out bounded by bucket
  *    collision counts, never O(docs^2). The DuckDB oracle runs the
  *    brute-force *specification*; banding is the implementation and (with
  *    these coefficients, verified by test) reaches full recall at the
  *    0.8 threshold: P(miss) = (1 - j^2)^9 <= 1.2e-4 at j = 0.8.
  *  - Candidate pairs travel skinny ((doc_a, doc_b) only); shingle sets are
  *    re-joined afterwards, so the band shuffle never carries payloads.
  *  - SimHash banding is the *exact* pigeonhole variant: hamming <= 2 over
  *    a 60-bit signature means at least one of three 20-bit chunks is
  *    identical, so a 3-way chunk-bucket join has zero false negatives.
  *  - Exact dedup groups on a 128-bit digest (md5), not on the full text —
  *    the shuffle key stays 16 bytes regardless of document size.
  */
object Dedup extends QueryGroup {

  /** LSH geometry, referenced by both the queries below AND the
    * [[Materialized]] artifact logic descriptors — change one here and
    * every stale on-disk artifact self-invalidates (the descriptor is
    * built from these vals, never from re-typed literals). */
  private[queries] val ShingleK = 3
  private[queries] val NumBands = 9
  private[queries] val RowsPerBand = 2
  require(MinHashCoeffs.length == NumBands * RowsPerBand,
    "banding consumes exactly NumBands*RowsPerBand signature values")

  /** Exact dedup, keep-first: one row per distinct content digest. */
  private def dedupExact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(md5(lower($"text")).as("digest"), $"doc_id")
      .groupBy($"digest")
      .agg(min($"doc_id").as("kept_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"digest")
  }

  /** Shared: (doc_id, distinct 3-gram shingle set) for docs with >= 3
    * tokens. */
  private def shingleSets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= ShingleK)
      .select($"doc_id", array_distinct(shingles($"toks", ShingleK)).as("sh"))
  }

  /** MinHash band table (doc_id, band_idx, band_key): the reusable LSH
    * artifact. 9 bands x 2 rows packed into one key each — this is what a
    * 100 TB deployment materializes once ([[Materialized]] does exactly
    * that) and every dedup run joins against.
    *
    * Signature computation is a fused per-row codegen kernel
    * ([[org.apache.spark.sql.graft.MinHashShingleSigs]]): tokens are
    * already adjacent within a row, so shingling + hashing + all 18
    * `min((a_i*h+b_i) mod P)` folds run in one tight loop per document —
    * scan → project, ZERO shuffles. The earlier relational shape
    * (posexplode → window-lead → 18-min hash-agg) paid a corpus-wide sort
    * + shuffle on doc_id just to reassemble adjacent tokens (and before
    * that, the round-3 nested-HOF fold ran interpreted at 750 s/sf0.1).
    * Values are bit-identical across all three formulations
    * (MinHashSigsSpec pins it), so materialized band artifacts built by
    * any of them interoperate. */
  private[graft] def bandTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graft.MinHashShingleSigs.minhashSigs
    val sigs = Tables.documents(s, d)
      .select($"doc_id", minhashSigs(tokens($"text"), ShingleK).as("sigs"))
      .filter($"sigs".isNotNull) // < k tokens => no shingles => no bands
    sigs.select($"doc_id", posexplode(array(
      (0 until NumBands).map(bi =>
        $"sigs"(RowsPerBand * bi) * HashP +
          $"sigs"(RowsPerBand * bi + 1)): _*)))
      .toDF("doc_id", "band_idx", "band_key")
  }

  /** Band self-join → skinny (doc_a, doc_b) candidate stream. */
  private[graft] def bandCandidates(bands: DataFrame): DataFrame = {
    val s = bands.sparkSession
    import s.implicits._
    bands.as("a")
      .join(bands.as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_key" === $"b.band_key" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Exact Jaccard verification of a candidate pair stream — but only
    * re-materializes shingle sets for docs that actually appear in a
    * candidate pair (a broadcast-semi-join pushdown: candidates are rare,
    * so the expensive shingle projection runs on a tiny slice instead of
    * the whole corpus, twice). */
  private[queries] def verifyJaccard(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = {
    import s.implicits._
    // The candidate stream is consumed TWICE (the candIds broadcast and
    // the output spine). Left lazy, the whole candidate pipeline
    // re-plans and re-executes per consumer — AQE's exchange reuse does
    // NOT bridge the two (the broadcast subtree canonicalizes with an
    // extra explode/distinct on top, so the band-join exchanges below it
    // end up in different stage graphs). Checkpoint it once: skinny
    // (doc_a, doc_b) pairs, rare by construction. Interleaved
    // lazy-vs-ckpt at sf0.1: 1.19 → 0.88 s on q_dedup_jaccard, inherited
    // by every verifyJaccard caller (OPTIMIZATION_r19.md).
    val candM = cand.materialized
    val candIds = broadcast(candM
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct())
    // This tiny table (only docs appearing in a candidate pair — rare by
    // construction) feeds BOTH join sides below. Broadcast it: the two
    // BroadcastExchanges canonicalize identically, so ReuseExchange builds
    // it ONCE (one corpus scan for verification), the candidate stream
    // never shuffles, and — unlike the persist() this replaces — nothing
    // stays pinned in the cache manager after the query completes.
    val candSh = Tables.documents(s, d)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= ShingleK)
      .select($"doc_id", array_distinct(shingles($"toks", ShingleK)).as("sh"))
    // jaccard via ONE overlap count (|∪| = |a|+|b|−|∩| on the distinct
    // arrays) — the codegen'd SetOverlap kernel replaces the builtin
    // array_intersect + array_union pair, which built three hash
    // structures and two throwaway arrays per candidate.
    candM
      .join(broadcast(candSh.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))),
        "doc_a")
      .join(broadcast(candSh.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))),
        "doc_b")
      .withColumn("ov",
        org.apache.spark.sql.graft.SetOverlap
          .setOverlap($"sh_a", $"sh_b").cast("double"))
      .withColumn("jac",
        $"ov" / (size($"sh_a") + size($"sh_b") - $"ov"))
      .filter($"jac" >= 0.8)
      .select($"doc_a", $"doc_b", $"jac")
      .orderBy($"doc_a", $"doc_b")
  }

  private def dedupJaccard(s: SparkSession, d: String): DataFrame =
    verifyJaccard(s, d, bandCandidates(bandTable(s, d)))

  /** EXACT set-similarity self-join via prefix filtering (the AllPairs /
    * PPJoin family, Bayardo et al. WWW'07) — the deterministic
    * counterpart of the MinHash-band path: same brute-force spec, zero
    * false negatives by construction instead of probabilistically.
    *
    * Under any global total order on shingles, two sets with
    * jaccard >= t must share an element inside each other's first
    * |x| - ceil(t*|x|) + 1 shingles (pigeonhole: the overlap is at least
    * ceil(t*|x|)). Ordering by ascending document frequency makes those
    * prefixes the RAREST shingles, so the candidate join fans out on the
    * least-collising keys. Prefix length uses exact integer math
    * (ceil(4s/5) = floor((4s+4)/5)): double 0.8*s rounds UP at multiples
    * of 5, which would shorten the prefix below the correctness bound.
    *
    * 100 TB shape: candidate volume is O(sum of prefix-bucket collision
    * counts) — prefixes are ~1/5 of each set and skew-resistant because
    * rare shingles have small buckets by definition; everything else is
    * skinny pairs + the shared broadcast verify. No all-pairs anywhere.
    *
    * Shingles here are 64-bit [[org.apache.spark.sql.graft.ShingleHashSet]]
    * hashes, not strings: downstream they are only join/grouping keys,
    * hashing can only MERGE distinct shingles (hashed-set jaccard >=
    * string-set jaccard, so every true pair still becomes a candidate
    * and exact verification discards spurious ones), and the fused
    * codegen kernel replaces the interpreted HOF string build that
    * dominated this query's runtime (15 of 16 bench seconds). */
  private def dedupPrefix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graft.ShingleHashSet.shingleHashes
    // The exploded shingle relation feeds BOTH the dfreq aggregation and
    // the join back onto it; left lazy, the tokenize+shingle-hash kernel
    // (the query's dominant CPU) runs once per consumer. Materialize it
    // ONCE, hash-partitioned on the common key, so the dfreq agg and the
    // ex-side of the join both plan exchange-free (same precedent as the
    // graph family's checkpointed edge sets; blocks are collectable after
    // the result drops).
    val ex = Tables.documents(s, d)
      .select($"doc_id", shingleHashes(tokens($"text"), ShingleK).as("sh"))
      .filter($"sh".isNotNull)
      .select($"doc_id", size($"sh").as("sz"), explode($"sh").as("shingle"))
      .repartition($"shingle")
      .materialized
    val dfreq = ex.groupBy($"shingle").agg(count(lit(1)).as("dfreq"))
    val rarity = Window.partitionBy($"doc_id").orderBy($"dfreq", $"shingle")
    val prefix = ex.join(dfreq, "shingle")
      .withColumn("rn", row_number().over(rarity))
      .filter($"rn" <=
        $"sz" - floor(($"sz" * 4 + 4) / lit(5.0)).cast("int") + 1)
      .select($"doc_id", $"shingle", $"sz")
    // PPJoin length filter: jaccard ≤ min(|a|,|b|)/max(|a|,|b|), and the
    // hashed-set jaccard upper-bounds the string-set jaccard (hashing only
    // merges elements), so a size ratio below t prunes with zero false
    // negatives — BEFORE the pair ever reaches the exact verify, which is
    // this query's dominant cost (118k candidates at sf0.1; only ~24% of
    // size pairs are length-compatible at t=0.8, so sizes alone kill
    // ~3/4 of them — measured 4.5 s → 3.0 s).
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id" &&
          $"a.sz" * 5 >= $"b.sz" * 4 && $"b.sz" * 5 >= $"a.sz" * 4)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // verifyJaccard checkpoints the candidate pairs itself (they feed
    // both the candIds broadcast and the output spine); passing them
    // lazy here would otherwise re-plan the whole prefix pipeline per
    // consumer.
    verifyJaccard(s, d, cand)
  }

  /** Incremental-batch boundary for [[dedupIncremental]]: docs below are
    * the standing corpus, at/above are "today's batch". */
  private[queries] val IncrementalSplit = 400L

  /** Incremental dedup — the PRODUCTION shape of near-dup detection: a
    * new batch arrives and must be checked against the standing corpus
    * WITHOUT rescanning it. Band keys for the batch join against the
    * corpus band table (at scale: the [[Materialized]] parquet artifact,
    * with the batch side tiny enough to broadcast), so per-batch cost is
    * O(batch × bands) + the rare verified candidates — never O(corpus).
    * New-vs-new pairs are deliberately out of scope here (the regular
    * in-batch `q_dedup_jaccard` covers a batch against itself).
    *
    * Recall margin (this query and q_dedup_jaccard are gated against
    * EXACT brute-force oracles): 9×2 banding misses a j-similar pair
    * with P = (1-j²)^9 — ≈1.6e-2 at the 0.8 threshold, ≤1.2e-4 at the
    * planted j ≥ 0.9. The gate passing is therefore data-dependent;
    * LshRecallSpec asserts every brute-force pair at the gate SF shares
    * a band, so threshold-adjacent future testdata fails THERE with a
    * "regenerate or widen bands" message instead of going silently red
    * in verify. */
  private def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = bandTable(s, d)
    val corpus = bands.filter($"doc_id" < IncrementalSplit)
    val batch = bands.filter($"doc_id" >= IncrementalSplit)
    val cand = corpus.as("a")
      .join(broadcast(batch.as("b")),
        $"a.band_idx" === $"b.band_idx" && $"a.band_key" === $"b.band_key")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(s, d, cand)
  }

  /** Duplicate-CLUSTER resolution: pairs are only half the dedup story —
    * near-dup relations are transitive-ish (A~B, B~C) and a keep-one
    * policy needs one representative per connected component of the pair
    * graph, not per pair. Output: (doc_id, rep_id = min doc_id in the
    * component, cluster_size) for every document in at least one pair.
    *
    * Scale notes: connected components is inherently iterative; this is
    * driver-COORDINATED min-label propagation (the driver runs the loop
    * and a convergence probe; labels themselves never leave the cluster —
    * no collect). Each round is one hash-join + partial-agg shuffle on
    * the PAIR graph, whose size is O(duplicates), orders of magnitude
    * below the corpus. Rounds needed = eccentricity of the min-id node,
    * tiny for near-dup clusters. `localCheckpoint` (eager) bounds lineage
    * to one round and keeps the final plan a flat scan; nothing registers
    * in the cache manager (PlanAuditSpec's empty-cache invariant holds). */
  /** Converged (id, lab) min-label relation over the verified near-dup
    * pair graph — the shared core of `q_dedup_cluster` and the keep-best
    * policy in [[Inference]] (`q_dedup_keep_best`). */
  private[queries] def clusterLabels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = verifyJaccard(s, d, bandCandidates(bandTable(s, d)))
      .select($"doc_a", $"doc_b")
    // Checkpoint the edge list hash-partitioned on dst — the key EVERY
    // round's neighbor join probes — so iterations find the (static) edge
    // side co-located and only the skinny label relation moves, instead
    // of re-exchanging the edges once per round (the pagerank adjacency
    // move).
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .repartition($"dst")
      .materialized
    var labels = edges.select($"src".as("id")).distinct()
      .withColumn("lab", $"id")
      .materialized
    var converged = false
    while (!converged) {
      val neigh = edges
        .join(labels.select($"id".as("dst"), $"lab".as("nlab")), "dst")
        .groupBy($"src").agg(min($"nlab").as("nmin"))
        .select($"src".as("id"), $"nmin")
      // The convergence flag rides the label update (min-labels only
      // DECREASE, so changed = strict drop): the probe below is then a
      // flat scan of the materialized round, not a second join per round.
      val next = labels.join(neigh, Seq("id"), "left")
        .select($"id", $"lab".as("prev"),
          least($"lab", coalesce($"nmin", $"lab")).as("lab"))
        .select($"id", $"lab", ($"lab" < $"prev").as("changed"))
        .materialized
      converged = next.filter($"changed").isEmpty
      labels = next.select($"id", $"lab")
    }
    labels
  }

  private def dedupCluster(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    clusterLabels(s, d)
      .select($"id".as("doc_id"), $"lab".as("rep_id"))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"rep_id")))
      .orderBy($"doc_id")
  }

  /** Per-document MinHash signature head (first 4 of 18 values) — pins the
    * signature math itself cross-engine (charHash twin in DuckDB),
    * independent of banding. Relational shape: explode + one hash-agg. */
  private def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Pinned on a 100-doc slice: the per-character fold has a DuckDB twin
    // but is interpreted (no codegen), so the cross-engine check doesn't
    // need to pay for the whole corpus — production banding uses
    // fastShingleHash (previous query).
    val hashed = shingleSets(s, d)
      .filter($"doc_id" < 100)
      .select($"doc_id", explode($"sh").as("sg"))
      .select($"doc_id", charHash($"sg").as("h"))
    hashed.groupBy($"doc_id").agg(
      min(affineHash($"h", MinHashCoeffs(0)._1, MinHashCoeffs(0)._2))
        .as("sig1"),
      min(affineHash($"h", MinHashCoeffs(1)._1, MinHashCoeffs(1)._2))
        .as("sig2"),
      min(affineHash($"h", MinHashCoeffs(2)._1, MinHashCoeffs(2)._2))
        .as("sig3"),
      min(affineHash($"h", MinHashCoeffs(3)._1, MinHashCoeffs(3)._2))
        .as("sig4"))
      .orderBy($"doc_id")
  }

  /** SimHash near-dup pairs: hamming(sig_a, sig_b) <= 2 over the 60-bit
    * weighted-token SimHash, candidates via exact 3-chunk pigeonhole.
    *
    * The signature is a fused per-row codegen kernel
    * ([[org.apache.spark.sql.graft.SimHash60]]): the token bag is already
    * local to the row, so hashing + the 60 signed bit-sums run in one
    * tight loop per document — scan → project, ZERO shuffles. The earlier
    * relational shape (explode → groupBy(doc, token) count → groupBy(doc)
    * 60 conditional sums) paid TWO corpus-wide shuffles to build the same
    * values (and before that, the per-document HOF fold ran interpreted
    * at 114 s/sf0.1). Bit-identical across all three formulations —
    * SimHashSpec pins kernel == relational on the whole corpus. */
  private def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graft.SimHash60.simhash60
    val sims = Tables.documents(s, d)
      .select($"doc_id", simhash60(tokens($"text")).as("sim"))
    // Pigeonhole: hamming <= 2 over 60 bits => >= 1 of 3 20-bit chunks equal.
    val chunks = sims.select($"doc_id", $"sim",
      posexplode(array((0 until 3).map(i =>
        shiftright($"sim", i * 20) % (1 << 20)): _*)))
      .toDF("doc_id", "sim", "chunk_idx", "chunk_val")
    chunks.as("a")
      .join(chunks.as("b"),
        $"a.chunk_idx" === $"b.chunk_idx" && $"a.chunk_val" === $"b.chunk_val" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.sim".bitwiseXOR($"b.sim")).cast("long").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter($"hamming" <= 2)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Edit-distance near-dup detection — the character-level complement of
    * the token-level Jaccard/SimHash paths (catches typo-grade and
    * OCR-noise duplicates that keep token sets intact but shift
    * characters). Exact pairwise Levenshtein is O(n·m) per pair and
    * all-pairs is quadratic, so this is the standard blocked shape:
    *
    *  1. block on the first 16 characters (near-identical docs share
    *     their opening) — an EQUI-join key, so candidates are a hash/SMJ
    *     join, never a cartesian;
    *  2. length filter |Δn_chars| ≤ 20 inside the join condition (a
    *     length gap > k implies distance > k);
    *  3. verify with Levenshtein over the first 80 characters only —
    *     O(80²) per candidate, and the 80-char heads are projected
    *     BEFORE the join so full document text never shuffles.
    *
    * At 100 TB the block key would widen to (prefix, length-bucket) and
    * the verify stays bounded per candidate; nothing here is all-pairs. */
  private def dedupLevenshtein(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(
      $"doc_id", $"n_chars",
      substring($"text", 1, 16).as("blk"),
      substring($"text", 1, 80).as("head"))
    docs.as("a")
      .join(docs.as("b"),
        $"a.blk" === $"b.blk" && $"a.doc_id" < $"b.doc_id" &&
          abs($"a.n_chars" - $"b.n_chars") <= 20)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        levenshtein($"a.head", $"b.head").cast("long").as("dist"))
      .filter($"dist" <= 10)
      .orderBy($"doc_a", $"doc_b")
  }

  val queries: Map[String, Q] = Map(
    "q_dedup_exact" -> dedupExact,
    "q_dedup_jaccard" -> dedupJaccard,
    "q_dedup_prefix" -> dedupPrefix,
    "q_dedup_cluster" -> dedupCluster,
    "q_dedup_incremental" -> dedupIncremental,
    "q_dedup_levenshtein" -> dedupLevenshtein,
    "q_dedup_minhash_sig" -> minhashSignatures,
    "q_dedup_simhash" -> dedupSimhash,
  )

  // DuckDB fragment: distinct ShingleK-gram shingle sets per doc (built
  // from the same ShingleK constant the Spark side uses).
  private val shingleCte = {
    val gram = (0 until ShingleK).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') w FROM documents
       |), s AS (
       |  SELECT doc_id,
       |    list_distinct([$gram
       |                   FOR i IN range(1, len(w) - ${ShingleK - 2})]) sh
       |  FROM t WHERE len(w) >= $ShingleK
       |)""".stripMargin
  }

  /** DuckDB fragment extending [[shingleCte]] to `vp(doc_a, doc_b, jac)`
    * — all pairs with shingle-set jaccard >= 0.8, computed via the SAME
    * prefix-filter blocking the Spark side uses (Bayardo et al. WWW'07)
    * instead of the literal all-pairs join of rounds <= 14.
    *
    * The result set is UNCHANGED — the prefix-filter theorem is exact
    * (under the (dfreq, shingle) total order, two sets with jaccard >= t
    * must share a shingle inside each other's first
    * |x| - ceil(t*|x|) + 1, and the size-ratio filter min/max >= t is a
    * jaccard upper bound), and every candidate is still verified against
    * the brute-force predicate — but the oracle now runs in ~5 s at
    * sf0.1 where the all-pairs join blew the proxy harness's 180 s
    * budget and was priced as a timeout (r14 BENCH_PROXY
    * `n_duck_timeout: 5`). Equality to the all-pairs formulation is
    * pinned per-round by the hash gate itself and was verified directly
    * in DuckDB at sf0.01 when this was introduced. */
  private val blockedPairsCtes: String =
    s""", ex AS (
       |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM s
       |), dfreq AS (
       |  SELECT shingle, COUNT(*) AS dfreq FROM ex GROUP BY 1
       |), pfx AS (
       |  SELECT doc_id, shingle, sz FROM (
       |    SELECT e.doc_id, e.shingle, e.sz,
       |      row_number() OVER (PARTITION BY e.doc_id
       |                         ORDER BY d.dfreq, e.shingle) AS rn
       |    FROM ex e JOIN dfreq d USING (shingle)) q
       |  WHERE rn <= sz - (sz*4 + 4) // 5 + 1
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pfx a JOIN pfx b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |   AND a.sz * 5 >= b.sz * 4 AND b.sz * 5 >= a.sz * 4
       |), vp AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
       |      AS jac
       |  FROM cand c JOIN s sa ON sa.doc_id = c.doc_a
       |              JOIN s sb ON sb.doc_id = c.doc_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
       |      >= 0.8
       |)""".stripMargin

  /** DuckDB fragment ending in `cc(id, rep_id)` — the recursive-CTE
    * connected-components twin of [[clusterLabels]], shared by the
    * q_dedup_cluster oracle and the keep-best oracle in [[Inference]].
    * Pairs come from the blocked (zero-false-negative) formulation in
    * [[blockedPairsCtes]]. */
  private[queries] lazy val duckClusterCcCte: String =
    s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}$blockedPairsCtes, p AS (
       |  SELECT doc_a, doc_b FROM vp
       |), e AS (
       |  SELECT doc_a a, doc_b b FROM p
       |  UNION ALL SELECT doc_b, doc_a FROM p
       |), r AS (
       |  SELECT DISTINCT a AS id, a AS lab FROM e
       |  UNION
       |  SELECT e.b AS id, r.lab FROM r JOIN e ON e.a = r.id
       |), cc AS (
       |  SELECT id, MIN(lab) AS rep_id FROM r GROUP BY id
       |)""".stripMargin

  // DuckDB fragment: charHash(x, mult) as a lambda-free inline expression.
  private[queries] def duckCharHash(expr: String, mult: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  [CAST(unicode(c) AS BIGINT) FOR c IN string_split($expr, '')]),
       |  (a, b) -> (a * $mult + b) % 1000000007)""".stripMargin

  /** DuckDB CTE chain ending in `s(doc_id, sim)` — the per-document 60-bit
    * SimHash twin of [[org.apache.spark.sql.graft.SimHash60]]. Weighted via
    * (distinct-token, count) pairs, arithmetically identical to the
    * kernel's per-occurrence ±1 sums. Shared with the SQL-surface oracle
    * in [[Scalars]]. */
  private[queries] val simhashPerDocCte: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(lower(text), ' ') toks FROM documents
       |), d AS (
       |  SELECT doc_id, list_distinct(toks) dt, toks FROM t
       |), h AS (
       |  SELECT doc_id,
       |    [ (${duckCharHash("tok", 31)} % 1073741824) * 1073741824
       |      + (${duckCharHash("tok", 37)} % 1073741824)
       |      FOR tok IN dt ] hs,
       |    [ CAST(len(list_filter(toks, x -> x = tok)) AS BIGINT)
       |      FOR tok IN dt ] cs
       |  FROM d
       |), s AS (
       |  SELECT doc_id,
       |    CAST(list_sum([ CASE WHEN CAST(list_sum(
       |      [ CASE WHEN (hs[j] >> bit) % 2 = 1 THEN cs[j] ELSE -cs[j] END
       |        FOR j IN range(1, len(hs) + 1) ]) AS BIGINT) > 0
       |      THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END
       |      FOR bit IN range(0, 60) ]) AS BIGINT) sim
       |  FROM h
       |)""".stripMargin

  /** All pairs with Jaccard >= 0.8 — the specification both the
    * MinHash-band and prefix-filter candidate generators must match,
    * spelled with the exact blocked formulation of [[blockedPairsCtes]]
    * (identical result set to the literal all-pairs join; see that
    * fragment's doc for why). */
  private val bruteForcePairsSql =
    s"""$shingleCte$blockedPairsCtes
       |SELECT doc_a, doc_b, jac FROM vp
       |ORDER BY doc_a, doc_b""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(lower(text)) AS digest, MIN(doc_id) AS kept_doc_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin,
    "q_dedup_jaccard" -> bruteForcePairsSql,
    // Same blocking + verify, spelled relationally; DuckDB's levenshtein
    // is the identical classic edit distance over characters.
    "q_dedup_levenshtein" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, substr(text, 1, 16) AS blk,
        |    substr(text, 1, 80) AS head
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  levenshtein(a.head, b.head) AS dist
        |FROM d a JOIN d b
        |  ON a.blk = b.blk AND a.doc_id < b.doc_id
        | AND abs(a.n_chars - b.n_chars) <= 20
        |WHERE levenshtein(a.head, b.head) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,
    // The prefix-filter path implements the SAME spec as the banded path
    // (both are candidate generators in front of the identical exact
    // verify), so it is gated against the same brute-force oracle.
    "q_dedup_prefix" -> bruteForcePairsSql,
    // Brute-force spec restricted to corpus x batch.
    "q_dedup_incremental" ->
      s"""$shingleCte
         |SELECT a.doc_id doc_a, b.doc_id doc_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
         |    AS jac
         |FROM s a JOIN s b
         |  ON a.doc_id < $IncrementalSplit AND b.doc_id >= $IncrementalSplit
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
         |    >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Specification twin: brute-force pairs, then component labels as the
    // min over the full reachability closure (recursive CTE with
    // set-semantics UNION, so it terminates at the closure fixpoint).
    "q_dedup_cluster" ->
      s"""$duckClusterCcCte
         |SELECT id AS doc_id, rep_id,
         |  COUNT(*) OVER (PARTITION BY rep_id) AS cluster_size
         |FROM cc ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash_sig" ->
      s"""$shingleCte, hs AS (
         |  SELECT doc_id, [${duckCharHash("g", 31)} FOR g IN sh] h FROM s
         |  WHERE doc_id < 100
         |)
         |SELECT doc_id,
         |  list_min([(472882049 * x + 291172369) % 1000000007 FOR x IN h]) sig1,
         |  list_min([(741457133 * x + 870466889) % 1000000007 FOR x IN h]) sig2,
         |  list_min([(152346463 * x + 611953517) % 1000000007 FOR x IN h]) sig3,
         |  list_min([(930799021 * x + 148125287) % 1000000007 FOR x IN h]) sig4
         |FROM hs ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""$simhashPerDocCte
         |SELECT a.doc_id doc_a, b.doc_id doc_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
