package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.graft.MoneyDecimal.moneyDecimal

import graft.core.Tables
import graft.core.Checkpoints.MaterializeOps
import graft.functions.TextFunctions._
import Catalog._

/** Pattern-mining + multi-criteria query operators beyond SURVEY §2B's
  * original matrix:
  *
  *  - `q_assoc_rules`: A-priori association-rule mining over co-purchase
  *    baskets (support / confidence / lift), the market-basket classic.
  *  - `q_skyline`: Pareto-frontier (skyline) selection — maximize
  *    `p_size`, minimize `p_retailprice` — via a per-group reduction
  *    instead of the naive all-pairs dominance join.
  *  - `q_agg_corr`: per-nation Pearson correlation from exact decimal
  *    moment sums (the COVAR/CORR aggregate surface).
  *  - `q_split_group`: leakage-safe (group-aware) train/val/test split —
  *    every document of a `source` lands in the same split, the standard
  *    guard against near-duplicate leakage across splits at corpus scale.
  *  - `q_search_rrf`: hybrid retrieval — reciprocal-rank fusion of the
  *    BM25 list ([[Indexing.bm25]]) with an exact-cosine vector list over
  *    `embeddings` (vec_id ≡ doc_id in the testdata contract), the
  *    sparse+dense fusion every RAG stack runs.
  *
  * Cross-engine determinism: every derived score is integer fixed-point
  * (`div` = DuckDB `//`, all operands positive) or a fixed
  * identical-literal IEEE chain over exact decimal sums — no libm, no
  * order-dependent double accumulation (see [[Catalog]] header).
  */
object Mining extends QueryGroup {

  // --- q_assoc_rules -----------------------------------------------------

  /** A-priori thresholds: an item must appear in >= MinItemSup baskets to
    * enter pair generation; a pair must co-occur in >= MinPairSup. */
  private[queries] val MinItemSup = 5
  private[queries] val MinPairSup = 2
  private[queries] val RulesTopK = 50

  /** Association rules over order baskets (basket = distinct parts of one
    * order). The basket relation is built ONCE as a per-order sorted item
    * set (one groupBy-orderkey shuffle) and CHECKPOINTED — it has three
    * consumers (basket count, item counts, pair explode) and the
    * frequent-item table derived from it has four broadcast consumers;
    * uncheckpointed, each consumer re-runs the collect_set aggregation
    * (measured: 0.38 s/run, ~5 executions ≈ the whole 2.0 s query).
    * Everything downstream derives from the checkpointed blocks
    * without re-shuffling the fact table: item counts explode off the
    * basket arrays, the basket count is a 1-row fold, and pair
    * generation is ROW-LOCAL — a sorted-array upper-triangle explode
    * bounded by lines-per-order (<= 7, so <= C(7,2) = 21 pairs/basket) —
    * never an orderkey self-join. A-priori pruning still applies before
    * the pair shuffle: the frequent-item table is vocabulary-sized,
    * checkpointed (one explode+count pass instead of one per broadcast)
    * and BROADCAST into semi-joins that drop non-frequent pair ends
    * map-side, so the pair-count exchange carries only frequent-frequent
    * pairs. Scores are exact integer fixed-point: confidence =
    * (100000·c_ab) div c_ant, lift = (1000000·c_ab·n) div
    * (c_ant·c_cons); the products stay well under 2^63 while c_ab·n <=
    * ~9.2e12 (at larger scale, widen to DECIMAL(38) sums — same plan
    * shape). */
  private def assocRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perOrder = Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("items"))
      .select($"items")
      .materialized
    val nb = perOrder.agg(count(lit(1)).as("n_baskets"))
    val itemCnt = perOrder.select(explode($"items").as("l_partkey"))
      .groupBy($"l_partkey").agg(count(lit(1)).as("c"))
    val freq = itemCnt.filter($"c" >= MinItemSup).materialized
    // Upper triangle of the sorted set: (items[i], items[j]) for i < j —
    // pa < pb by sortedness, each unordered pair exactly once.
    // Upper triangle via two GENERATORS (posexplode anchor + slice
    // explode of the tail), not nested transform lambdas: higher-order
    // functions evaluate interpreted per element, and building a struct
    // per pair inside two nested lambdas priced at 0.91 s vs 0.48 s for
    // the generator form on the same checkpointed baskets
    // (OPTIMIZATION_r18.md). Same pair multiset: slice is 1-based, so
    // slice(items, i+2, n) with the 0-based posexplode index i yields
    // exactly the elements after pa.
    val pairs = perOrder
      .select($"items", posexplode($"items").as(Seq("i", "pa")))
      .select($"pa",
        explode(slice($"items", $"i" + lit(2), size($"items"))).as("pb"))
      .join(broadcast(freq.select($"l_partkey".as("pa"))), "pa")
      .join(broadcast(freq.select($"l_partkey".as("pb"))), "pb")
      .groupBy($"pa", $"pb")
      .agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= MinPairSup)
    // Directed rules: each unordered pair yields ant->cons both ways
    // (confidence is asymmetric, lift is shared).
    val rules = pairs.select($"pa".as("ant"), $"pb".as("cons"), $"c_ab")
      .unionAll(pairs.select($"pb".as("ant"), $"pa".as("cons"), $"c_ab"))
    rules
      .join(broadcast(freq.select($"l_partkey".as("ant"), $"c".as("c_ant"))),
        "ant")
      .join(broadcast(freq.select($"l_partkey".as("cons"), $"c".as("c_cons"))),
        "cons")
      .crossJoin(broadcast(nb))
      .select($"ant", $"cons", $"c_ab",
        expr("(100000 * c_ab) div c_ant").as("conf_fp"),
        expr("(1000000 * c_ab * n_baskets) div (c_ant * c_cons)")
          .as("lift_fp"))
      .orderBy($"lift_fp".desc, $"conf_fp".desc, $"ant", $"cons")
      .limit(RulesTopK)
  }

  // --- q_skyline ---------------------------------------------------------

  /** Pareto frontier of `part` under (maximize p_size, minimize
    * p_retailprice).
    *
    * Shape: NOT the O(n²) dominance self-join the oracle runs — reduce to
    * one cheapest-price row per size group (a map-side-combined agg), then
    * resolve dominance ACROSS groups on the size-domain-bounded reduction
    * (|sizes| <= 50 rows: the strictly-larger-size probe is a broadcast
    * nested-loop over ~50x50 cells, constant at any corpus scale), and
    * broadcast the surviving frontier back onto the full table to recover
    * every tying part. A part is on the frontier iff it has the minimum
    * price of its size AND no strictly larger size reaches a price <= it.
    * Equality on p_retailprice is exact: both sides are untouched parquet
    * doubles, no arithmetic. */
  private def skyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = Tables.part(s, d)
      .select($"p_partkey", $"p_size", $"p_retailprice")
    val bySize = p.groupBy($"p_size").agg(min($"p_retailprice").as("m"))
    val frontier = bySize.as("a")
      .join(broadcast(bySize.as("b")), $"b.p_size" > $"a.p_size", "left")
      .groupBy($"a.p_size".as("size"), $"a.m".as("m"))
      .agg(min($"b.m").as("mplus"))
      .filter($"mplus".isNull || $"mplus" > $"m")
    p.join(broadcast(frontier),
        p("p_size") === frontier("size") && p("p_retailprice") === frontier("m"))
      .select($"p_partkey", $"p_size", $"p_retailprice")
      .orderBy($"p_size".desc, $"p_partkey")
  }

  // --- q_agg_corr --------------------------------------------------------

  /** Per-nation Pearson correlation + sample covariance of
    * (l_quantity, l_extendedprice), supplier-side nation rollup.
    *
    * Determinism: everything up to the final scalar chain is EXACT
    * INTEGER arithmetic. Quantity is integral and price carries exactly
    * 2 decimals (testdata contract), so xi = quantity and yi = 100·price
    * are exact int64s (the 100x goes through DECIMAL(18,2), never a raw
    * double product); the five moment sums and the corr numerator /
    * denominators are exact int128-class values (Spark DECIMAL(38,0),
    * DuckDB HUGEINT — bounds ~3.6e25 « 38 digits). Only THREE exact
    * integers are ever converted to double — int128→double is correctly
    * rounded in both engines, unlike DuckDB's scaled-decimal→double,
    * which double-rounds through v/10^s — and the final
    * divide/sqrt/multiply chain is written with identical association,
    * so the doubles agree bit-for-bit. Pearson corr is invariant under
    * the 100x scaling; the covariance is descaled by one IEEE divide.
    * One partial-agg shuffle of 6-number states, dimension joins
    * broadcast. */
  private def aggCorr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    def dd(c: org.apache.spark.sql.Column) = c.cast(d38)
    val li = Tables.lineitem(s, d)
      .select($"l_suppkey",
        $"l_quantity".cast("long").as("xi"),
        (moneyDecimal($"l_extendedprice", 18, 2) * 100).cast("long")
          .as("yi"))
    val sup = Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey")
    val nat = Tables.nation(s, d).select($"n_nationkey", $"n_name")
    // Finest-grain pre-aggregation (the Expand-family discipline): the
    // 600k-row (600M at sf100) hot path sums moments PER SUPPLIER in pure
    // int64 — a DECIMAL(38,0) agg buffer round-trips through BigInteger on
    // every UnsafeRow update, measured at 2.2× the cost of long sums
    // (0.66 s vs 0.30 s at sf0.1). Per-supplier int64 bounds (TPC-H
    // scaling keeps rows/supplier ~600, SF-independent):
    // syy_s <= 600·(2e7)² = 2.4e17 « 2^63; sxy_s <= 600·1e9 = 6e11;
    // a violated bound throws under default-ANSI Spark 4 rather than
    // wrapping. The dec38 re-agg then runs over suppliers (60× fewer rows
    // than lineitems), after which the dimension joins broadcast onto the
    // skinny per-supplier relation instead of the fact table. Regrouping
    // exact integer sums is associative, so the final int128 moments are
    // bit-identical to the single-stage formulation.
    val perSupp = li
      .groupBy($"l_suppkey")
      .agg(
        count(lit(1)).as("n_s"),
        sum($"xi").as("sx_s"),
        sum($"yi").as("sy_s"),
        sum($"xi" * $"yi").as("sxy_s"),
        sum($"xi" * $"xi").as("sxx_s"),
        sum($"yi" * $"yi").as("syy_s"))
    val g = perSupp
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        sum($"n_s").as("n"),
        sum($"sx_s").as("sx"),
        sum($"sy_s").as("sy"),
        sum(dd($"sxy_s")).as("sxy"),
        sum(dd($"sxx_s")).as("sxx"),
        sum(dd($"syy_s")).as("syy"))
    // int->double routes chosen for PROVABLE correct rounding in both
    // engines: num/denx fit int64 (bounds ~3e17 / ~1e12 at sf0.1 —
    // int64->double is a single correctly-rounded hardware op), while
    // deny (~1e21, y is 100x-scaled) goes through an exact 2^32 hi/lo
    // split — hi->double exact (< 2^53), x 2^32 is an exact exponent
    // shift, + lo is ONE correctly-rounded add — because a direct
    // int128->double cast double-rounds in DuckDB at this magnitude.
    val num = (dd($"n") * $"sxy" - dd($"sx") * dd($"sy"))
      .cast("long").cast("double")
    val denx = (dd($"n") * $"sxx" - dd($"sx") * dd($"sx"))
      .cast("long").cast("double")
    val nd = $"n".cast("double")
    g.withColumn("deny", dd($"n") * $"syy" - dd($"sy") * dd($"sy"))
      .withColumn("fdeny",
        expr("CAST(deny div 4294967296 AS DOUBLE) * 4294967296.0D" +
          " + CAST(deny % 4294967296 AS DOUBLE)"))
      .select($"n_name", $"n".as("n_lines"),
        (num / (sqrt(denx) * sqrt($"fdeny"))).as("corr_qty_price"),
        (num / (nd * (nd - 1)) / 100.0).as("cov_samp"))
      .orderBy($"n_name")
  }

  // --- q_split_group -----------------------------------------------------

  /** Salt for the group-split hash — decorrelated from the per-doc split
    * salt in [[TextAnalysis]] so the two assignments are independent. */
  private val GroupSalt = "gsplit:"

  /** Leakage-safe train/val/test split: the salted content hash is taken
    * over the GROUP key (`source`), not the document id, so every
    * document of a source — including its near-duplicates, which cluster
    * within sources — lands in ONE split. Same 80/10/10 cuts as
    * `q_split_assign`; assignment is pure per-row arithmetic (no RNG, no
    * ordering), identical on any cluster at any scale. `n_sources` per
    * split is the audit column: the per-split distinct-source sets
    * partition the source universe by construction. */
  private def splitGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = charHash(concat(lit(GroupSalt), $"source")) % 100
    val split = when(h < TextAnalysis.TrainCut, "train")
      .when(h < TextAnalysis.ValCut, "val")
      .otherwise("test")
    Tables.documents(s, d)
      .select(split.as("split"), $"source",
        size(tokens($"text")).cast("long").as("n_tok"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        sum($"n_tok").cast("long").as("n_tokens"))
      .orderBy($"split")
  }

  // --- q_search_rrf ------------------------------------------------------

  private[queries] val RrfK = 60L       // the standard RRF rank offset
  private[queries] val RrfScale = 1000000L // fixed-point 1/(k+r) scale
  private[queries] val RrfListK = Indexing.Bm25TopK // per-list depth
  private[queries] val RrfTopK = 15

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR'09)
    * of the sparse BM25 list and a dense exact-cosine list for query
    * vector 0 (testdata contract: `vec_id` ≡ `doc_id`).
    * score(d) = Σ_lists 1e6 div (60 + rank_list(d)) — integer
    * fixed-point, so fusion is hash-exact cross-engine.
    *
    * Scale shape: each candidate list is produced scalably FIRST — BM25's
    * shuffle is bounded by the query terms' postings, the dense side is
    * one narrow scan into TakeOrdered(K) (quantized integer dots, no
    * vector ever shuffles) — and only then ranked. Ranking a K-bounded
    * list collapses it into ONE row (collect_list is K-bounded by
    * construction), sorts the K-element array, and posexplodes back out
    * with the position as the rank — NOT a window (no natural partition
    * key for the single implicit query, and a constant partition literal
    * folds away into exactly the global-window shape the plan audit
    * bans), and NOT a broadcast rank-count self-join, which re-executes
    * the whole candidate-list subtree for BOTH join sides (measured:
    * q_search_rrf ≈ 2×bm25 + 2×cos_top, the list builds run twice each
    * being the entire cost). The fusion join moves 2K rows. Ranks
    * surface as nullable BIGINTs — null marks a doc one retriever
    * missed (it still scores on the other list). */
  private def searchRrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Sort ascending on (-score, id): score desc, id asc on ties — the
    // same total order as the rank-count predicate it replaces.
    def rankOf(list: DataFrame, id: String, score: String, rank: String) =
      list
        .agg(sort_array(collect_list(
          struct((-col(score)).as("ns"), col(id).as("id")))).as("xs"))
        .select(posexplode($"xs").as(Seq("i", "x")))
        .select($"x.id".as("doc_id"), ($"i" + 1).cast("long").as(rank))
    val bmr = rankOf(
      Indexing.bm25(s, d).select($"doc_id", $"bm25"),
      "doc_id", "bm25", "r_bm25")
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id", Similarity.quantize($"embedding").as("qv"))
    val q = broadcast(vecs.filter($"vec_id" === 0).select($"qv".as("q")))
    val cosTop = vecs.filter($"vec_id" =!= 0)
      .crossJoin(q)
      .select($"vec_id",
        org.apache.spark.sql.graft.DotProduct.dotLong($"qv", $"q").as("dot"))
      .orderBy($"dot".desc, $"vec_id")
      .limit(RrfListK)
    val cosr = rankOf(cosTop, "vec_id", "dot", "r_cos")
    bmr.join(cosr, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"r_bm25", $"r_cos",
        (coalesce(expr(s"$RrfScale div ($RrfK + r_bm25)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div ($RrfK + r_cos)"), lit(0L)))
          .as("rrf_fp"))
      .orderBy($"rrf_fp".desc, $"doc_id")
      .limit(RrfTopK)
  }

  val queries: Map[String, Q] = Map(
    "q_assoc_rules" -> assocRules,
    "q_skyline" -> skyline,
    "q_agg_corr" -> aggCorr,
    "q_split_group" -> splitGroup,
    "q_search_rrf" -> searchRrf,
  )

  val oracle: Map[String, String] = Map(
    "q_assoc_rules" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM b),
         |ic AS (SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY 1),
         |freq AS (SELECT * FROM ic WHERE c >= $MinItemSup),
         |fb AS (SELECT b.l_orderkey, b.l_partkey FROM b
         |       JOIN freq ON b.l_partkey = freq.l_partkey),
         |pr AS (
         |  SELECT a.l_partkey AS pa, b2.l_partkey AS pb, COUNT(*) AS c_ab
         |  FROM fb a JOIN fb b2 ON a.l_orderkey = b2.l_orderkey
         |    AND a.l_partkey < b2.l_partkey
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinPairSup),
         |rules AS (
         |  SELECT pa AS ant, pb AS cons, c_ab FROM pr
         |  UNION ALL SELECT pb, pa, c_ab FROM pr)
         |SELECT r.ant, r.cons, r.c_ab,
         |  (100000 * r.c_ab) // fa.c AS conf_fp,
         |  (1000000 * r.c_ab * nb.n_baskets) // (fa.c * fc.c) AS lift_fp
         |FROM rules r
         |JOIN freq fa ON r.ant = fa.l_partkey
         |JOIN freq fc ON r.cons = fc.l_partkey
         |CROSS JOIN nb
         |ORDER BY lift_fp DESC, conf_fp DESC, ant, cons
         |LIMIT $RulesTopK""".stripMargin,
    // Brute-force dominance twin: p is on the skyline iff nothing is at
    // least as large AND at most as expensive with one strict inequality.
    "q_skyline" ->
      """SELECT p_partkey, p_size, p_retailprice FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part o
        |  WHERE o.p_size >= p.p_size AND o.p_retailprice <= p.p_retailprice
        |    AND (o.p_size > p.p_size OR o.p_retailprice < p.p_retailprice))
        |ORDER BY p_size DESC, p_partkey""".stripMargin,
    // Mirrors the Spark plan's integer fixed-point exactly: int64 moments
    // summed into HUGEINT, numerator/denominators formed in int128, THEN
    // three correctly-rounded int128->double casts feed an identical
    // IEEE divide/sqrt chain.
    "q_agg_corr" ->
      s"""WITH li AS (
         |  SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS xi,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      AS yi
         |  FROM lineitem),
         |g AS (
         |  SELECT n.n_name, COUNT(*) AS n,
         |    SUM(CAST(xi AS HUGEINT)) AS sx,
         |    SUM(CAST(yi AS HUGEINT)) AS sy,
         |    SUM(CAST(xi * yi AS HUGEINT)) AS sxy,
         |    SUM(CAST(xi * xi AS HUGEINT)) AS sxx,
         |    SUM(CAST(yi AS HUGEINT) * CAST(yi AS HUGEINT)) AS syy
         |  FROM li l
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  GROUP BY n.n_name),
         |f AS (
         |  SELECT n_name, n,
         |    CAST(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS BIGINT)
         |      AS DOUBLE) AS num,
         |    CAST(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS BIGINT)
         |      AS DOUBLE) AS denx,
         |    CAST(n AS HUGEINT) * syy - sy * sy AS deny
         |  FROM g),
         |f2 AS (
         |  SELECT n_name, n, num, denx,
         |    CAST(deny // 4294967296 AS DOUBLE) * 4294967296.0
         |      + CAST(deny % 4294967296 AS DOUBLE) AS fdeny
         |  FROM f)
         |SELECT n_name, n AS n_lines,
         |  num / (sqrt(denx) * sqrt(fdeny)) AS corr_qty_price,
         |  num / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) / 100.0
         |    AS cov_samp
         |FROM f2 ORDER BY n_name""".stripMargin,
    "q_split_group" ->
      s"""WITH a AS (
         |  SELECT
         |    CASE
         |      WHEN ${Dedup.duckCharHash(s"'$GroupSalt' || source", 31)} % 100
         |        < ${TextAnalysis.TrainCut} THEN 'train'
         |      WHEN ${Dedup.duckCharHash(s"'$GroupSalt' || source", 31)} % 100
         |        < ${TextAnalysis.ValCut} THEN 'val'
         |      ELSE 'test' END AS split,
         |    source,
         |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT split, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT source) AS n_sources,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM a GROUP BY split ORDER BY split""".stripMargin,
    "q_search_rrf" ->
      s"""${Indexing.bm25ScoredCtes},
         |bm AS (
         |  SELECT doc_id, ${dsumSql("addend")} AS bm25
         |  FROM scored GROUP BY doc_id
         |  ORDER BY bm25 DESC, doc_id LIMIT $RrfListK),
         |bmr AS (
         |  SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_bm25 FROM bm),
         |ev AS (SELECT vec_id, ${Similarity.duckQuant} qv FROM embeddings),
         |q AS (SELECT qv FROM ev WHERE vec_id = 0),
         |cos_top AS (
         |  SELECT e.vec_id, ${Similarity.duckDotInt("e.qv", "q.qv")} AS dot
         |  FROM ev e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY dot DESC, e.vec_id LIMIT $RrfListK),
         |cosr AS (
         |  SELECT vec_id AS doc_id, CAST(row_number() OVER
         |    (ORDER BY dot DESC, vec_id) AS BIGINT) AS r_cos FROM cos_top)
         |SELECT COALESCE(bmr.doc_id, cosr.doc_id) AS doc_id,
         |  r_bm25, r_cos,
         |  COALESCE($RrfScale // ($RrfK + r_bm25), 0)
         |    + COALESCE($RrfScale // ($RrfK + r_cos), 0) AS rrf_fp
         |FROM bmr FULL OUTER JOIN cosr ON bmr.doc_id = cosr.doc_id
         |ORDER BY rrf_fp DESC, doc_id LIMIT $RrfTopK""".stripMargin,
  )
}
