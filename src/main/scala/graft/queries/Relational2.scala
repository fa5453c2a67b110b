package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.graft.MoneyDecimal.moneyDecimal

import graft.core.Tables
import Catalog._

/** Second relational sweep — the §2B rows beyond the first sweep:
  * IN/LIKE/null-test filters, right outer join, GROUPING SETS,
  * rangeBetween frames, UNION distinct, by-key dropDuplicates, the
  * approx aggregates (rows-only — approximate results have no exact
  * oracle), the spark.sql string API, and pivot/unpivot. */
object Relational2 extends QueryGroup {

  /** IN / LIKE / IS NULL / NOT filters in one scan. */
  private def filterInLike(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_orderpriority".isin("1-URGENT", "2-HIGH") &&
        $"o_orderstatus".like("%F%") &&
        $"o_orderstatus".isNotNull &&
        !$"o_orderkey".isin(1L, 2L))
      .select($"o_orderkey", $"o_orderpriority", $"o_orderstatus")
      .orderBy($"o_orderkey")
  }

  /** Right outer join (supplier side preserved). */
  private def joinRight(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_quantity" > 49.0)
      .join(Tables.supplier(s, d), $"l_suppkey" === $"s_suppkey", "right")
      .groupBy($"s_suppkey", $"s_name")
      .agg(count($"l_orderkey").as("n_big_items"))
      .orderBy($"s_suppkey")
  }

  /** GROUPING SETS via the SQL-string surface (also the spark.sql row).
    *
    * Finest-grain-first decomposition (same move as aggRollup/aggCube in
    * [[Relational]]): GROUPING SETS straight over the fact table Expands
    * every row once per set; pre-aggregating to the (l_returnflag,
    * l_linestatus) grain — the common refinement of all three declared
    * sets — leaves the Expand multiplying ~6 rows. The partial sum stays
    * DECIMAL through the re-agg so values match the direct form exactly
    * (and the GROUPING SETS surface itself is still what this row
    * exercises — just over the collapsed relation). */
  private def groupingSetsSql(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    s.sql(
      s"""WITH base AS (
         |  SELECT l_returnflag, l_linestatus, COUNT(*) AS pn,
         |    SUM(CAST(l_quantity AS DECIMAL(18,6))) AS ps
         |  FROM lineitem_v GROUP BY l_returnflag, l_linestatus
         |)
         |SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
         |  COALESCE(l_linestatus, 'ALL') AS lstatus,
         |  SUM(pn) AS n_rows,
         |  CAST(SUM(ps) AS DOUBLE) AS sum_qty
         |FROM base
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY rflag, lstatus""".stripMargin)
  }

  /** rangeBetween value frame: per customer, orders whose key lies within
    * 10 of the current row's (a VALUE range, not a row count), exact
    * decimal band sum. */
  private def windowRange(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
      .rangeBetween(-10L, Window.currentRow)
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        count(lit(1)).over(w).as("n_in_band"),
        sum(moneyDecimal($"o_totalprice")).over(w).cast("double")
          .as("band_spend"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Rolling exact median — the windowed ORDER STATISTIC Spark has no
    * native window function for (`percentile` is not window-able): the
    * 7-day trailing median of daily revenue per return flag, computed by
    * collecting the bounded frame into an array and selecting the
    * discrete lower median row-locally (`array_sort` + `element_at` at
    * rank ⌈n/2⌉). Sound ONLY because the frame is a CONSTANT 7 rows —
    * the array is O(frame), not O(partition); an unbounded-frame median
    * needs the two-phase selection in [[Quantiles]] instead. Pre-
    * aggregating to daily cents first keeps the window input
    * calendar-sized; exact integer cents end to end. */
  private def windowMedian(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_shipdate".cast("date").as("day"),
        (moneyDecimal($"l_extendedprice", 18, 2) * 100).cast("long")
          .as("cents"))
      .groupBy($"l_returnflag", $"day")
      .agg(sum($"cents").as("y"))
    val w = Window.partitionBy($"l_returnflag").orderBy($"day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .select($"l_returnflag", $"day",
        collect_list($"y").over(w).as("vals"))
      .select($"l_returnflag", $"day",
        size($"vals").cast("long").as("n_in_window"),
        element_at(array_sort($"vals"),
          expr("CAST((size(vals) + 1) div 2 AS INT)")).as("med_cents"))
      .orderBy($"l_returnflag", $"day")
  }

  /** Distribution window functions: percent_rank / cume_dist (exact
    * integer ratios — bit-identical doubles cross-engine) + nth_value. */
  private def windowDist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value($"o_orderkey", 2).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("second_best_key"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** UNION (distinct semantics). */
  private def unionDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d).select($"c_nationkey".as("nk"))
    val sup = Tables.supplier(s, d).select($"s_nationkey".as("nk"))
    c.union(sup).distinct().orderBy($"nk")
  }

  /** dropDuplicates BY KEY — keeps one full (arbitrary-survivor) row per
    * key. WHICH row survives is partitioning-dependent by definition, so
    * the gate is the contract the operator actually promises (same
    * pattern as the sketch queries): exactly one survivor per key, keys
    * complete. Surfaced: the distinct key count (exact, hash-gated) and
    * an `ok` bit asserting survivors == keys and no survivor key was
    * lost; the survivor PAYLOAD column rides along un-surfaced, proving
    * the full-row-keep shape without hashing nondeterminism. */
  private def dropDupByKey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dd = Tables.lineitem(s, d)
      .select($"l_partkey", $"l_returnflag") // key + arbitrary payload
      .dropDuplicates("l_partkey")
    dd.agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"l_partkey").as("n_keys"),
        count($"l_returnflag").as("n_payloads"))
      .select($"n_keys",
        ($"n_rows" === $"n_keys" && $"n_payloads" === $"n_rows")
          .cast("int").as("ok"))
  }

  /** Approximate aggregates under the sketch-contract pattern (same
    * gating as `q_sketch_hll` / `q_quantile_approx`): the surfaced
    * columns are EXACT (hash-gated), plus one `ok` bit asserting the
    * approximations landed inside their published envelopes — HLL
    * distinct within 3·rsd = 15% of the exact count, each
    * `percentile_approx` cut (accuracy 1000 ⇒ rank error ≤ n/1000)
    * inside the exact ±0.01-rank percentile envelope (10× slack over
    * the guarantee, so cross-engine interpolation at the envelope
    * edges can't flap the bit). The oracle emits `1 AS ok`, so a
    * drifting sketch or percentile implementation FAILS the hash gate
    * instead of hiding behind a rows-only check. */
  /** Three legs, 2.7 s at sf0.1 (one single agg: 6.7 s, same output).
    * A single agg mixes countDistinct (Expand-rewritten) with the
    * imperative percentile/HLL buffers, forcing the WHOLE aggregation
    * down the sort-based fallback over 2x-expanded input — and an
    * exact `percentile()` envelope builds per-group value maps, the
    * memory hazard `q_quantile_global` exists to avoid. So: three
    * fast-path legs over the cents-quantized scan, broadcast-joined at
    * 3 rows each: sketch agg, two-phase exact-distinct agg, and a
    * discrete rank envelope — lo/hi = first value whose cumulative
    * count crosses 0.49/0.51 (0.94/0.96)·n, a strictly sound bound for
    * percentile_approx's ±0.001-rank guarantee since the approx result
    * is always an observed value.
    *
    * Envelope: the (flag, cents) counts relation barely collapses
    * (~594k of 600k rows at sf0.1 — cents are near-unique), so a
    * cumulative window over it SORTS the whole column (1.2 of 1.9 s
    * standalone). The envelope is really 4 order statistics per flag, so
    * it uses the same two-phase selection as `q_quantile_global`,
    * partitioned by flag: a 4096-cent-bin histogram (a few thousand bins — the
    * cumulative window sorts bins, not rows), rank → hit bin via a
    * broadcast join, and a second scan that ranks ONLY the rows landing
    * in a hit bin (~bin occupancy each). min-c-with-cum·100 ≥ n·p is
    * exactly the value at global rank ceil(p·n/100), which is what the
    * selection returns. */
  private def approxStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, d)
      .select($"l_returnflag",
        ($"l_extendedprice" * 100).cast("long").as("c"), $"l_partkey")
    // ONE percentile_approx call for both percentiles: the per-group
    // QuantileSummaries buffer is the dominant cost of this query (an
    // ObjectHashAggregate outside codegen), and two scalar calls build
    // two identical summaries over the same rows to read one quantile
    // each. The array form builds the summary once and reads both —
    // values are bit-identical (same summary, same query points).
    val sketches = base.groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        approx_count_distinct($"l_partkey").as("apx"),
        percentile_approx($"c", array(lit(0.5), lit(0.95)), lit(1000))
          .as("ps"))
      .select($"l_returnflag", $"n_rows", $"apx",
        $"ps".getItem(0).as("p50"), $"ps".getItem(1).as("p95"))
    val exactDistinct = base.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_parts"))
    // Phase 1: per-flag bin histogram + cumulative over BINS (tiny).
    val bins = base
      .groupBy($"l_returnflag", shiftright($"c", 12).as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val cumBins = bins.withColumn("cum",
      sum($"cnt").over(Window.partitionBy($"l_returnflag").orderBy($"bin")))
    // Target ranks: k = ceil(p·n/100) as exact integer arithmetic
    // (cum·100 >= n·p  <=>  cum >= ceil(n·p/100) for integer cum).
    val ks = bins.groupBy($"l_returnflag").agg(sum($"cnt").as("n"))
      .crossJoin(broadcast(Seq(49, 51, 94, 96).toDF("pct")))
      .select($"l_returnflag", $"pct",
        (($"n" * $"pct" + 99) / 100).cast("long").as("k"))
    // Hit bin per (flag, pct): first bin whose cumulative reaches k,
    // plus the within-bin offset of the target rank.
    val tgt = ks.join(broadcast(cumBins), Seq("l_returnflag"))
      .filter($"cum" >= $"k")
      .groupBy($"l_returnflag", $"pct", $"k").agg(min($"bin").as("bin"))
      .join(broadcast(cumBins), Seq("l_returnflag", "bin"))
      .select($"l_returnflag", $"pct", $"bin",
        ($"k" - ($"cum" - $"cnt")).as("off"))
    // Phase 2: rank only the hit bins' rows (each window partition is
    // one bin's occupancy, bounded by the bin width — never n).
    val env = base
      .select($"l_returnflag", $"c", shiftright($"c", 12).as("bin"))
      .join(broadcast(tgt), Seq("l_returnflag", "bin"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"l_returnflag", $"pct").orderBy($"c")))
      .filter($"rn" === $"off")
      .groupBy($"l_returnflag")
      .agg(
        min(when($"pct" === 49, $"c")).as("lo50"),
        min(when($"pct" === 51, $"c")).as("hi50"),
        min(when($"pct" === 94, $"c")).as("lo95"),
        min(when($"pct" === 96, $"c")).as("hi95"))
    sketches.join(broadcast(exactDistinct), Seq("l_returnflag"))
      .join(broadcast(env), Seq("l_returnflag"))
      .select($"l_returnflag", $"n_rows", $"n_parts",
        (abs($"apx" - $"n_parts") * 100 <= $"n_parts" * 15 &&
          $"p50" >= $"lo50" && $"p50" <= $"hi50" &&
          $"p95" >= $"lo95" && $"p95" <= $"hi95").cast("int").as("ok"))
      .orderBy($"l_returnflag")
  }

  private val PrioValues =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Pivot: order counts by status x priority as a wide table. */
  private def pivotStatus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderstatus")
      .pivot("o_orderpriority", PrioValues)
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"o_orderstatus")
  }

  /** Unpivot (melt) the pivoted wide table back to long form. */
  private def unpivotStatus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pivotStatus(s, d)
      .unpivot(Array($"o_orderstatus"), PrioValues.toArray.map(col),
        "priority", "n")
      .orderBy($"o_orderstatus", $"priority")
  }

  /** Salted skew join ([[graft.operators.SkewJoin]]) surfaced as a
    * catalog query: the salt splits each hot key across 8 tasks but the
    * join RESULT is identical to the unsalted join — which is exactly
    * what the oracle (a plain join) pins. The `shuffle_hash` hints keep
    * the planner on the shuffled path the salt exists to fix: a broadcast
    * of the 8x-replicated dim would both hide the salt columns' effect
    * and stop exercising the operator. */
  private def joinSkewSalted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = Tables.orders(s, d).hint("shuffle_hash")
    val dim = Tables.customer(s, d)
      .select($"c_custkey", $"c_nationkey").hint("shuffle_hash")
    graft.operators.SkewJoin
      .saltedJoin(big, dim, $"o_custkey", $"c_custkey", salts = 8)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"c_nationkey")
  }

  /** Hot-key-targeted salted join ([[graft.operators.SkewJoin.saltedJoinHotKeys]])
    * surfaced as a catalog query — the production skew form. The ×100
    * skew probe (SCALE_PROBE.md "join-skew probe") measured the blanket
    * twin above as the WORST plan at scale (whole-dim ×salts replication,
    * 80.0 s) while this targeted form — only the Zipf-head keys salt, the
    * rest of the traffic joins once — matched tuned AQE splitting within
    * 7% (8.3 s vs 7.8 s). The hot-key list is data-derived the way a
    * 100 TB run would derive it: one map-side Misra-Gries pass
    * ([[graft.operators.MisraGries.topKeys]] — O(capacity) state per
    * task, a single-row collect, NO key-domain shuffle and NO global
    * sort; a full groupBy-count + orderBy + limit derivation works,
    * but is not the scale plan). MG ranking is approximate near ties,
    * which is safe by construction: the hot list only changes the join's
    * partitioning, never its rows — so the oracle is the PLAIN join,
    * identical to the blanket twin's.
    *
    * Honesty note (A/B): the test corpus has NO real Zipf head (max
    * key frequency ≪ n/65), so MG correctly finds no guaranteed-heavy
    * key and its 4 survivors are arbitrary low-count stragglers — the
    * exact-top-4 of a groupBy-count derivation is equally meaningless as
    * "hot" there. On a corpus where salting actually matters (the ×100
    * skew probe's Zipf head), the head keys exceed the MG threshold and
    * are GUARANTEED present. Derivation cost measured 0.28 s (MG) vs
    * 0.23 s (full groupBy+sort) at sf0.1 — the +0.05 s buys the
    * O(capacity)-state pass that doesn't shuffle the key domain. */
  private def joinSkewHot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = Tables.orders(s, d).hint("shuffle_hash")
    val dim = Tables.customer(s, d)
      .select($"c_custkey", $"c_nationkey").hint("shuffle_hash")
    // The Zipf head: top-4 customers by approximate order count. MG may
    // return FEWER than 4 — including zero: on a near-uniform key
    // distribution every count is below n/(capacity+1) and the
    // decrement/merge steps can empty the summary entirely (the ×10
    // sweep hit exactly that — 1.5M near-singleton keys). An empty
    // summary means "no heavy hitters", and the production response is
    // to NOT salt: join plain, same rows either way.
    val hot: Seq[Any] = graft.operators.MisraGries
      .topKeys(Tables.orders(s, d), $"o_custkey", k = 4, capacity = 64)
      .map(java.lang.Long.valueOf)
    val joined =
      if (hot.isEmpty) big.join(dim, $"o_custkey" === $"c_custkey")
      else graft.operators.SkewJoin
        .saltedJoinHotKeys(big, dim, $"o_custkey", $"c_custkey", hot, salts = 8)
    joined
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .orderBy($"c_nationkey")
  }

  /** Exact per-group DISCRETE median: rank within group, keep the
    * ceil(n/2)-th element. Selection (not interpolation) is the
    * cross-engine-safe quantile — no float arithmetic on the value, and
    * at scale it is one partitioned window, no global sort. Total tie
    * order via (price, orderkey) makes the picked row unique. */
  private def aggMedianDisc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byKey = Window.partitionBy($"o_custkey")
    val w = byKey.orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byKey))
      .filter($"rk" === expr("(n + 1) div 2"))
      .select($"o_custkey", $"o_totalprice".as("median_price"),
        $"n".as("n_orders"))
      .orderBy($"o_custkey")
  }

  /** Exact per-group WEIGHTED median: the smallest price whose cumulative
    * quantity weight reaches half the group total — selected by the
    * row-local crossing predicate 2·cumw >= total AND 2·(cumw − w) <
    * total, so ONE cumsum window (plus the total, sharing the same
    * partitioning) finds it with integer compares only — no division, no
    * second pass, no per-group sort beyond the window's. The weighted
    * generalization of q_agg_median_disc's discrete selection. */
  /** Range buckets for the weighted-median two-phase prefix sum. */
  private val WmBuckets = 1024

  private def aggMedianWeighted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Two-phase bucketed prefix sum (the operators/Packing pattern
    // applied to an order statistic): the ×100 probe caught the
    // original single-window form super-linear (6.8 s → 117 s, exponent
    // 1.24) — with 3 flags, Window.partitionBy(flag) was 3 single-task
    // ~20M-row spilling sorts, a real 100 TB scale-killer for few-group
    // exact medians. Instead: (0) collapse to per-(flag, price) weights
    // (map-side combined — ties never reach a window); (1) order-
    // preserving range buckets from a broadcast 1-row min/max; (2) per-
    // (flag, bucket) subtotals → a TINY per-flag prefix window over
    // ≤[[WmBuckets]] rows gives each bucket's base cumulative weight and
    // the flag total; (3) the collapsed rows shuffle to (flag, bucket)
    // and the cumulative window runs inside each bucket — 3×1024-way
    // parallel, rows-per-sort bounded by distinct-prices-per-bucket,
    // never by the group. cumw = base + within-bucket cum stays exact
    // integers and the crossing VALUE is tie-invariant, so the output is
    // deterministic and the oracle spec unchanged. */
    // Phase 0: collapse to per-(flag, price) weights — map-side combined,
    // spread across the full key space; bounds ride the same pass shape.
    // NOT checkpointed (measured, no gain): the collapsed relation has
    // three consumers, but AQE's runtime stage reuse already shares the
    // (flag, price) exchange among them — the interleaved A/B priced a
    // localCheckpoint at 0.99× (flat), and at scale it would pin an
    // O(distinct prices) relation in executor storage for nothing.
    val pp = Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_extendedprice",
        $"l_quantity".cast("long").as("w"))
      .groupBy($"l_returnflag", $"l_extendedprice")
      .agg(sum($"w").as("wv"))
    val bounds = pp.agg(min($"l_extendedprice").as("lo"),
      max($"l_extendedprice").as("hi"))
    // floor of a monotone transform: price1 < price2 => b1 <= b2, which
    // is all the bucketing needs (boundaries affect parallelism only).
    val bucketed = pp.crossJoin(broadcast(bounds))
      .withColumn("b", least(lit(WmBuckets - 1),
        floor(($"l_extendedprice" - $"lo").cast("double") * WmBuckets /
          (($"hi" - $"lo").cast("double") + 1e-9)).cast("int")))
      .select($"l_returnflag", $"l_extendedprice", $"wv", $"b")
    val byFlag = Window.partitionBy($"l_returnflag")
    val preB = byFlag.orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = bucketed.groupBy($"l_returnflag", $"b")
      .agg(sum($"wv").as("bw"))
      .withColumn("base", sum($"bw").over(preB) - $"bw")
      .withColumn("totw", sum($"bw").over(byFlag))
      .select($"l_returnflag", $"b", $"base", $"totw")
    val inBucket = Window.partitionBy($"l_returnflag", $"b")
      .orderBy($"l_extendedprice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(bases), Seq("l_returnflag", "b"))
      .withColumn("cumw", $"base" + sum($"wv").over(inBucket))
      .filter($"cumw" * 2 >= $"totw" && ($"cumw" - $"wv") * 2 < $"totw")
      .select($"l_returnflag", $"l_extendedprice".as("wmedian_price"),
        $"totw".as("total_qty"))
      .orderBy($"l_returnflag")
  }

  /** Schema-evolution union: `unionByName(allowMissingColumns = true)`
    * aligns two differently-shaped slices by COLUMN NAME (order
    * independent, absent columns null-filled) — the safe way to stack
    * heterogeneous extracts, vs positional UNION's silent column
    * transposition. The mixed relation is then aggregated per status
    * (null status = the lineitem side, coalesced for the non-null sort
    * contract). */
  private def unionByNameAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = Tables.orders(s, d)
      .select($"o_orderkey".as("k"), $"o_totalprice".as("amount"),
        $"o_orderstatus".as("status"))
    val b = Tables.lineitem(s, d)
      .select($"l_extendedprice".as("amount"), $"l_orderkey".as("k"),
        $"l_quantity".cast("long").as("qty"))
    a.unionByName(b, allowMissingColumns = true)
      .groupBy(coalesce($"status", lit("?")).as("status"))
      .agg(count(lit(1)).as("n_rows"),
        dsum($"amount").as("amount_sum"),
        sum($"qty").cast("long").as("qty_sum"))
      .orderBy($"status")
  }

  /** Robust per-customer outlier detection via MAD (median absolute
    * deviation): flag orders with |price − median| > 3·MAD. The robust
    * twin of q_normalize_zscore's moment-based scaling — a data-quality
    * gate that heavy tails can't saturate the way they inflate a stddev.
    *
    * Both medians are DISCRETE selections (same convention as
    * q_agg_median_disc), attached back to every row with a conditional
    * window MAX instead of a join — all four window functions share the
    * o_custkey partitioning, so Catalyst plans ONE exchange and two
    * local sorts; nothing here is a second pass over the table. Exact
    * cross-engine: element selections, one IEEE subtraction/abs, and a
    * 3·MAD compare — no libm, no accumulated float sums. */
  private def anomalyMad(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byKey = Window.partitionBy($"o_custkey")
    val byPrice = byKey.orderBy($"o_totalprice", $"o_orderkey")
    val medAt = expr("(n + 1) div 2")
    val staged = Tables.orders(s, d)
      .withColumn("n", count(lit(1)).over(byKey))
      .withColumn("rk", row_number().over(byPrice))
      .withColumn("med",
        max(when($"rk" === medAt, $"o_totalprice")).over(byKey))
      .withColumn("dev", abs($"o_totalprice" - $"med"))
    val byDev = byKey.orderBy($"dev", $"o_orderkey")
    staged
      .withColumn("rk2", row_number().over(byDev))
      .withColumn("mad", max(when($"rk2" === medAt, $"dev")).over(byKey))
      .filter($"dev" > lit(3.0) * $"mad")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        $"med", $"mad", $"dev")
      .orderBy($"o_orderkey")
  }

  /** Fixed-width histogram — one map-side-combined agg on the bin id
    * (bins = value div width, computed in the scan projection; no
    * windowing, no sort of the data itself). floor of a single double
    * divide is engine-exact; min/max are element selections. */
  private def histogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy(floor($"o_totalprice" / 20000.0).as("bin"))
      .agg(count(lit(1)).as("n_orders"),
        min($"o_totalprice").as("bin_min"),
        max($"o_totalprice").as("bin_max"))
      .orderBy($"bin")
  }

  /** Batch MERGE (upsert) semantics: an updates set is applied onto the
    * base table — matched keys take the update row, unmatched update
    * rows insert, untouched base rows survive. One full-outer hash join
    * on the key + coalesce, the shuffle-minimal relational MERGE (at
    * scale both sides arrive hash-partitioned on the key; no windowing).
    * Updates are synthesized deterministically from the base so the
    * oracle can rebuild the identical sets. */
  private def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val updates = base.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", lit("U").as("o_orderstatus"),
        ($"o_totalprice" + 1000.0).as("o_totalprice"))
      .union(base.filter($"o_orderkey" % 100 === 7)
        .select(($"o_orderkey" + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), $"o_totalprice"))
    base.as("b")
      .join(updates.as("u"), Seq("o_orderkey"), "full")
      .select(
        coalesce($"u.o_orderstatus", $"b.o_orderstatus").as("status"),
        coalesce($"u.o_totalprice", $"b.o_totalprice").as("price"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_rows"), dsum($"price").as("total"))
      .orderBy($"status")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * MATCH each other instead of vanishing — the semantics dimension
    * tables with "unknown" buckets need. Planned as a normal hash join
    * (null-safe equality is still an equi-key; nulls hash to one
    * bucket — salt them if the unknown bucket is hot at scale). */
  private def joinNullSafe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val key = expr("nullif(o_orderstatus, 'O')")
    val l = Tables.orders(s, d)
      .groupBy(key.as("k")).agg(count(lit(1)).as("n_all"))
    val r = Tables.orders(s, d).filter($"o_totalprice" > 100000.0)
      .groupBy(key.as("k")).agg(count(lit(1)).as("n_big"))
    l.as("l").join(r.as("r"), $"l.k" <=> $"r.k", "left")
      .select($"l.k".as("k"), $"n_all", $"n_big")
      .orderBy(coalesce($"k", lit("O")))
  }

  /** Per-group z-score normalization (feature scaling): group moments in
    * exact integer CENTS (o_totalprice has ≤2 decimals, so cents and
    * cents² are exact; the sum of squares rides a scale-0 DECIMAL(38,0)
    * because DuckDB would sum BIGINT into int128 anyway). Scale-0 is
    * load-bearing: a scaled decimal→double cast rounds twice in DuckDB
    * (int128→double, then ÷10^scale) but once in the JVM — a 1-ulp
    * mismatch; integer-valued casts convert once in both engines. After
    * the one cast per sum, mean/variance/z are IDENTICAL IEEE expression
    * trees on identical operands ⇒ bit-equal doubles. Tiny stats table
    * broadcast back onto the rows; the low-cardinality group key never
    * becomes a window partition. */
  private def zscoreNormalize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = (moneyDecimal($"o_totalprice", 18, 2) * 100)
      .cast("long")
    val stats = Tables.orders(s, d)
      .select($"o_orderstatus", cents.as("c"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum($"c").cast("double").as("s1c"),
        sum(($"c" * $"c").cast(DecimalType(38, 0))).cast("double").as("s2c"))
    Tables.orders(s, d)
      .join(broadcast(stats), "o_orderstatus")
      .select($"o_orderkey", $"o_orderstatus",
        (($"o_totalprice" * 100 - $"s1c" / $"n") /
          sqrt(($"s2c" - $"s1c" * $"s1c" / $"n") / $"n")).as("z"))
      .orderBy($"o_orderkey")
  }

  /** Explicit bloom-filter semi-join reduction — the manual form of
    * Spark's InjectRuntimeFilter rewrite, exposed as catalog surface via
    * the [[org.apache.spark.sql.graft.GraftSqlFunctions]] `bloom_agg` /
    * `bloom_might_contain` registrations (Spark ships the expressions
    * for its internal rewrite but gives them no SQL names).
    *
    * Shape: the selective dim side (≈3% of orders) folds its join keys
    * into ONE compact bloom filter (a tiny all-reduce), which broadcasts
    * to the fact scan as a 1-row relation; `bloom_might_contain` prunes
    * ~97% of lineitem BEFORE the join shuffle. False positives are
    * removed by the exact join that follows, so the result is precisely
    * the plain join — the bloom only moves work off the wire. At 100 TB
    * this is the difference between shuffling the full fact table and
    * shuffling the 3% that can match; it also covers the cases the
    * automatic rewrite skips (missing stats, disabled AQE, non-equi
    * shapes around the probe). */
  private def joinBloom(s: SparkSession, d: String): DataFrame = {
    org.apache.spark.sql.graft.GraftSqlFunctions.ensure(s)
    // BloomFilterMightContain requires its filter side to be a constant
    // or a scalar subquery (the same contract Spark's own rewrite
    // satisfies), so this one is SQL-shaped: the subquery plans as a
    // one-row SubqueryExec whose result is folded into the fact scan's
    // filter.
    Tables.orders(s, d).createOrReplaceTempView("bloom_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("bloom_lineitem")
    s.sql(s"""
      WITH dim AS (
        SELECT o_orderkey, o_orderpriority FROM bloom_orders
        WHERE o_totalprice > 480000.0
      ),
      fact AS (
        SELECT l_orderkey, l_extendedprice FROM bloom_lineitem
        WHERE bloom_might_contain(
          (SELECT bloom_agg(xxhash64(o_orderkey)) FROM dim),
          xxhash64(l_orderkey))
      )
      SELECT o_orderpriority, COUNT(*) AS n_items,
        ${dsumSql("l_extendedprice")} AS revenue
      FROM fact JOIN dim ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY o_orderpriority""")
  }

  /** Correlated EXISTS — customers holding at least one urgent
    * high-value order. Catalyst decorrelates to a LEFT SEMI join (the
    * PlanAuditSpec gate sees exactly the q_join_semi shape), so the "per-row
    * subquery" the SQL reads as costs one co-partitioned pass. */
  private def subqueryExists(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("sq_customer")
    Tables.orders(s, d).createOrReplaceTempView("sq_orders")
    s.sql("""
      SELECT c_custkey, c_name, c_acctbal
      FROM sq_customer
      WHERE EXISTS (
        SELECT 1 FROM sq_orders
        WHERE o_custkey = c_custkey
          AND o_orderpriority = '1-URGENT' AND o_totalprice > 400000.0)
      ORDER BY c_custkey""")
  }

  /** IN-subquery (uncorrelated): lineitems of the top-priced order set.
    * Planned as a semi join against the subquery's aggregate, never a
    * per-row rescan. */
  private def subqueryIn(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("sq_lineitem")
    Tables.orders(s, d).createOrReplaceTempView("sq_orders2")
    s.sql(s"""
      SELECT l_orderkey, COUNT(*) AS n_lines,
        ${dsumSql("l_extendedprice")} AS revenue
      FROM sq_lineitem
      WHERE l_orderkey IN (
        SELECT o_orderkey FROM sq_orders2 WHERE o_totalprice > 490000.0)
      GROUP BY l_orderkey ORDER BY l_orderkey""")
  }

  /** LATERAL correlated subquery — per-region top-2 customers by
    * balance (deterministic tie-break on key). The lateral body re-sorts
    * only each region's slice; Catalyst plans the correlation as a
    * join + per-group limit, not a per-row re-execution. */
  private def joinLateral(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("lat_nation")
    Tables.customer(s, d).createOrReplaceTempView("lat_customer")
    s.sql("""
      SELECT n.n_name, t.c_custkey, t.c_acctbal
      FROM lat_nation n,
      LATERAL (
        SELECT c_custkey, c_acctbal FROM lat_customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 2
      ) t
      ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""")
  }

  /** Grid width for the binned interval join. Must be ≥ the maximum
    * interval length (14 days below) so every interval spans ≤ 2 bins. */
  private[graft] val IntervalBinDays = 16

  /** Interval-overlap join via time-grid binning — the scalable rewrite of
    * a theta join Spark would otherwise plan as a broadcast nested loop
    * (quadratic, and impossible once neither side broadcasts).
    *
    * Each interval explodes to the grid bins it covers (bin width ≥ max
    * interval length ⇒ ≤ 2 bins per interval, so fan-out is bounded by a
    * constant, not data), the join becomes an EQUI-join on the bin key
    * (shuffle-partitionable, AQE-skew-splittable — a hot time window is
    * ordinary join skew), and the true overlap predicate runs as a join
    * filter. Duplicate pair elimination is algebraic, not a dropDuplicates
    * shuffle: a pair is kept only in its first shared bin,
    * `bin = greatest(floor(a_start/W), floor(b_start/W))` — floor is
    * monotone, so that bin is exactly the lower end of the two bin-ranges'
    * intersection, which is non-empty iff the intervals overlap.
    *
    * Oracle: the plain theta join — the gate proves the rewrite's
    * equivalence. Intervals are closed, day-granularity: order activity
    * windows vs lineitem shipping windows, with deterministic key-derived
    * lengths so both engines build identical inputs. */
  private def joinInterval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val epoch = lit("1970-01-01").cast("date")
    val a = Tables.orders(s, d)
      .filter($"o_orderkey" % 37 === 0)
      .select($"o_orderkey".as("a_id"),
        datediff(to_date($"o_orderdate"), epoch).cast("long").as("a_start"))
      .withColumn("a_end", $"a_start" + ($"a_id" % 14) + 1)
    val b = Tables.lineitem(s, d)
      .filter($"l_orderkey" % 53 === 0 && $"l_linenumber" === 1)
      .select($"l_orderkey".as("b_id"),
        datediff(to_date($"l_shipdate"), epoch).cast("long").as("b_start"),
        (($"l_partkey" % 10) + 1).as("b_len"))
      .select($"b_id", $"b_start", ($"b_start" + $"b_len").as("b_end"))
    def binned(df: DataFrame, st: String, en: String): DataFrame =
      df.withColumn("bin",
        explode(sequence(floor(col(st) / IntervalBinDays),
          floor(col(en) / IntervalBinDays))))
    binned(a, "a_start", "a_end")
      .join(binned(b, "b_start", "b_end"), "bin")
      .filter($"a_start" <= $"b_end" && $"b_start" <= $"a_end" &&
        $"bin" === greatest(floor($"a_start" / IntervalBinDays),
          floor($"b_start" / IntervalBinDays)))
      .select($"a_id", $"b_id",
        (least($"a_end", $"b_end") - greatest($"a_start", $"b_start") + 1)
          .as("overlap_days"))
      .orderBy($"a_id", $"b_id")
  }

  /** Statistical mode per group with a DETERMINISTIC tie-break
    * (count DESC, value ASC) — Spark's builtin `mode()` picks an
    * arbitrary winner among ties, which can never hash-match a second
    * engine; the count+rank formulation is the portable form. Two
    * aggregations on the same grouping prefix (the second is
    * |groups|×|values|-sized), one rank window over that tiny relation. */
  private def aggMode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.orders(s, d)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"n".desc, $"o_orderpriority")
    counts
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"), $"n")
      .orderBy($"o_orderstatus")
  }

  val queries: Map[String, Q] = Map(
    "q_window_median" -> windowMedian,
    "q_agg_mode" -> aggMode,
    "q_join_interval" -> joinInterval,
    "q_filter_in_like" -> filterInLike,
    "q_join_bloom" -> joinBloom,
    "q_subquery_exists" -> subqueryExists,
    "q_subquery_in" -> subqueryIn,
    "q_join_lateral" -> joinLateral,
    "q_agg_median_disc" -> aggMedianDisc,
    "q_agg_median_weighted" -> aggMedianWeighted,
    "q_union_byname" -> unionByNameAgg,
    "q_anomaly_mad" -> anomalyMad,
    "q_histogram" -> histogram,
    "q_merge_upsert" -> mergeUpsert,
    "q_join_nullsafe" -> joinNullSafe,
    "q_normalize_zscore" -> zscoreNormalize,
    "q_join_skew_salted" -> joinSkewSalted,
    "q_join_skew_hot" -> joinSkewHot,
    "q_join_right" -> joinRight,
    "q_grouping_sets" -> groupingSetsSql,
    "q_window_range" -> windowRange,
    "q_window_dist" -> windowDist,
    "q_union_distinct" -> unionDistinct,
    "q_dropdup_bykey" -> dropDupByKey,
    "q_approx_stats" -> approxStats,
    "q_pivot" -> pivotStatus,
    "q_unpivot" -> unpivotStatus,
  )

  private val pivotCols = PrioValues.map(p =>
    s"""CAST(COUNT(*) FILTER (WHERE o_orderpriority = '$p') AS BIGINT)
       |    AS "$p"""".stripMargin)
    .mkString(",\n  ")

  private val SkewPlainJoinOracle =
    s"""SELECT c_nationkey, COUNT(*) AS n_orders,
       |  ${dsumSql("o_totalprice")} AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_approx_stats" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  1 AS ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_mode" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY n DESC, o_orderpriority) AS rn
        |  FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, n
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    // The specification is the naive theta join; the Spark side is the
    // binned equi-join rewrite — the gate proves their equivalence.
    "q_join_interval" ->
      """WITH a AS (
        |  SELECT o_orderkey AS a_id,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS a_start,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      + o_orderkey % 14 + 1 AS a_end
        |  FROM orders WHERE o_orderkey % 37 = 0),
        |b AS (
        |  SELECT l_orderkey AS b_id,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      AS b_start,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      + l_partkey % 10 + 1 AS b_end
        |  FROM lineitem WHERE l_orderkey % 53 = 0 AND l_linenumber = 1)
        |SELECT a_id, b_id,
        |  least(a_end, b_end) - greatest(a_start, b_start) + 1 AS overlap_days
        |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
        |ORDER BY a_id, b_id""".stripMargin,
    // The bloom is a pure pre-filter: the exact join removes its false
    // positives, so the specification is the plain selective join.
    "q_join_bloom" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         |  ${dsumSql("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_totalprice > 480000.0
         |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q_subquery_exists" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer
        |WHERE EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderpriority = '1-URGENT' AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_subquery_in" ->
      s"""SELECT l_orderkey, COUNT(*) AS n_lines,
         |  ${dsumSql("l_extendedprice")} AS revenue
         |FROM lineitem
         |WHERE l_orderkey IN (
         |  SELECT o_orderkey FROM orders WHERE o_totalprice > 490000.0)
         |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_join_lateral" ->
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n,
        |LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        |) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n_orders,
        |  MIN(o_totalprice) AS bin_min, MAX(o_totalprice) AS bin_max
        |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin,
    "q_normalize_zscore" ->
      """WITH c AS (
        |  SELECT o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders
        |), stats AS (
        |  SELECT o_orderstatus, COUNT(*) AS n,
        |    CAST(SUM(c) AS DOUBLE) AS s1c,
        |    CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS s2c
        |  FROM c GROUP BY 1
        |)
        |SELECT o_orderkey, o_orderstatus,
        |  (o_totalprice * 100 - s1c / n) / sqrt((s2c - s1c * s1c / n) / n)
        |    AS z
        |FROM orders JOIN stats USING (o_orderstatus)
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_nullsafe" ->
      """WITH l AS (
        |  SELECT nullif(o_orderstatus, 'O') AS k, COUNT(*) AS n_all
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT nullif(o_orderstatus, 'O') AS k, COUNT(*) AS n_big
        |  FROM orders WHERE o_totalprice > 100000.0 GROUP BY 1
        |)
        |SELECT l.k, l.n_all, r.n_big
        |FROM l LEFT JOIN r ON l.k IS NOT DISTINCT FROM r.k
        |ORDER BY COALESCE(l.k, 'O')""".stripMargin,
    "q_merge_upsert" ->
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |), updates AS (
         |  SELECT o_orderkey, 'U' AS o_orderstatus,
         |    o_totalprice + 1000.0 AS o_totalprice
         |  FROM base WHERE o_orderkey % 10 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 10000000, 'N', o_totalprice
         |  FROM base WHERE o_orderkey % 100 = 7
         |)
         |SELECT COALESCE(u.o_orderstatus, b.o_orderstatus) AS status,
         |  COUNT(*) AS n_rows,
         |  ${dsumSql("COALESCE(u.o_totalprice, b.o_totalprice)")} AS total
         |FROM base b FULL JOIN updates u USING (o_orderkey)
         |GROUP BY 1 ORDER BY status""".stripMargin,
    "q_anomaly_mad" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice, o_orderkey) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n
        |  FROM orders
        |), m AS (
        |  SELECT *, MAX(CASE WHEN rk = (n + 1) // 2 THEN o_totalprice END)
        |    OVER (PARTITION BY o_custkey) AS med
        |  FROM r
        |), d AS (
        |  SELECT *, abs(o_totalprice - med) AS dev,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY abs(o_totalprice - med), o_orderkey) AS rk2
        |  FROM m
        |), md AS (
        |  SELECT *, MAX(CASE WHEN rk2 = (n + 1) // 2 THEN dev END)
        |    OVER (PARTITION BY o_custkey) AS mad
        |  FROM d
        |)
        |SELECT o_custkey, o_orderkey, o_totalprice, med, mad, dev
        |FROM md WHERE dev > 3 * mad
        |ORDER BY o_orderkey""".stripMargin,
    "q_agg_median_disc" ->
      """WITH r AS (
        |  SELECT o_custkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice, o_orderkey) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n
        |  FROM orders
        |)
        |SELECT o_custkey, o_totalprice AS median_price, n AS n_orders
        |FROM r WHERE rk = (n + 1) // 2
        |ORDER BY o_custkey""".stripMargin,
    "q_agg_median_weighted" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    CAST(l_quantity AS BIGINT) AS w,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cumw,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag) AS totw
        |  FROM lineitem)
        |SELECT l_returnflag, l_extendedprice AS wmedian_price,
        |  CAST(totw AS BIGINT) AS total_qty
        |FROM r WHERE cumw * 2 >= totw AND (cumw - w) * 2 < totw
        |ORDER BY l_returnflag""".stripMargin,
    "q_union_byname" ->
      s"""WITH u AS (
         |  SELECT o_orderkey AS k, o_totalprice AS amount,
         |    o_orderstatus AS status
         |  FROM orders
         |  UNION ALL BY NAME
         |  SELECT l_extendedprice AS amount, l_orderkey AS k,
         |    CAST(l_quantity AS BIGINT) AS qty
         |  FROM lineitem)
         |SELECT COALESCE(status, '?') AS status, COUNT(*) AS n_rows,
         |  ${dsumSql("amount")} AS amount_sum,
         |  CAST(SUM(qty) AS BIGINT) AS qty_sum
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // Salting must be invisible in the result: the oracle is the PLAIN
    // join — ONE string shared by the blanket and hot-key-targeted forms.
    "q_join_skew_salted" -> SkewPlainJoinOracle,
    "q_join_skew_hot" -> SkewPlainJoinOracle,
    "q_filter_in_like" ->
      """SELECT o_orderkey, o_orderpriority, o_orderstatus
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_orderstatus LIKE '%F%'
        |  AND o_orderkey NOT IN (1, 2)
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_right" ->
      """SELECT s_suppkey, s_name, COUNT(l_orderkey) AS n_big_items
        |FROM (SELECT * FROM lineitem WHERE l_quantity > 49.0) l
        |RIGHT JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin,
    "q_grouping_sets" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
         |  COALESCE(l_linestatus, 'ALL') AS lstatus,
         |  COUNT(*) AS n_rows, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY rflag, lstatus""".stripMargin,
    "q_window_median" ->
      """WITH daily AS (
        |  SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |fr AS (
        |  SELECT l_returnflag, day,
        |    list(y) OVER (PARTITION BY l_returnflag ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS vals
        |  FROM daily)
        |SELECT l_returnflag, day,
        |  CAST(len(vals) AS BIGINT) AS n_in_window,
        |  list_sort(vals)[(len(vals) + 1) // 2] AS med_cents
        |FROM fr ORDER BY l_returnflag, day""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  COUNT(*) OVER w AS n_in_band,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    AS band_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_dist" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  nth_value(o_orderkey, 2) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS second_best_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_union_distinct" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin,
    // q_dropdup_bykey: WHICH row survives per key is nondeterministic in
    // both engines, so the gate checks the operator's actual contract —
    // exactly one surviving full row per distinct key (`ok`), plus the
    // exact key count (hash-gated).
    "q_dropdup_bykey" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_keys,
        |  1 AS ok
        |FROM lineitem""".stripMargin,
    "q_pivot" ->
      s"""SELECT o_orderstatus,
         |  $pivotCols
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // Full status x priority grid (missing combos are 0 after the pivot's
    // na.fill, and the unpivot re-emits them).
    "q_unpivot" ->
      """WITH s AS (SELECT DISTINCT o_orderstatus FROM orders),
        |p AS (SELECT unnest(['1-URGENT','2-HIGH','3-MEDIUM',
        |                     '4-NOT SPECIFIED','5-LOW']) AS priority),
        |c AS (SELECT o_orderstatus, o_orderpriority AS priority,
        |        COUNT(*) AS n
        |      FROM orders GROUP BY 1, 2)
        |SELECT s.o_orderstatus, p.priority, COALESCE(c.n, 0) AS n
        |FROM s CROSS JOIN p
        |LEFT JOIN c ON c.o_orderstatus = s.o_orderstatus
        |           AND c.priority = p.priority
        |ORDER BY s.o_orderstatus, p.priority""".stripMargin,
  ).filter(_._2 != null)
}
