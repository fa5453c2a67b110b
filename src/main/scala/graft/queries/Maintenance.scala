package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MoneyDecimal.moneyDecimal

import graft.core.Tables
import Catalog._

/** Table-maintenance / data-ops operators — the workhorse family that
  * keeps a 100 TB lakehouse trustworthy between query workloads:
  * anti-entropy checksums, CDC-style snapshot diffing, slowly-changing-
  * dimension history construction, and one-pass column profiling.
  *
  * The reference has only the embryonic form of these (date-stamped file
  * hand-offs between stages, `/root/reference/data-cleaner/cleaner.py:142-143`,
  * and the latest-object scan at `data_populator/populator.py:16-24`);
  * at warehouse scale they become first-class operators.
  *
  * Cross-engine determinism: digests are md5 over explicitly-formatted
  * strings (integer renderings and `yyyy-MM-dd HH:mm:ss` timestamp
  * renderings are identical in Spark and DuckDB; raw double→string casts
  * are NOT and are never used); digest folds use exact integer `bit_xor`
  * over the hex digest parsed as a 60-bit integer, so they are
  * order-independent and shuffle-safe.
  */
object Maintenance extends QueryGroup {

  /** Merkle-style bucket digests over lineitem — the distributed
    * anti-entropy primitive (Dynamo/Cassandra-style repair, Merkle 1987):
    * two replicas exchange 256 tiny bucket digests and re-sync only the
    * buckets whose signatures disagree, never re-shipping the table.
    *
    * Plan shape: one narrow projection (5 of 11 columns) → md5 → one
    * partial-agg shuffle carrying at most 256 groups. The per-row digest
    * is computed map-side and the fold (`bit_xor` of the digest's
    * 60-bit prefix) is commutative, so the combine happens before the
    * exchange; at 100 TB the shuffle moves ~256 rows per mapper
    * regardless of input size. */
  private def tableChecksum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rowStr = concat_ws("|",
      $"l_orderkey".cast("string"),
      $"l_linenumber".cast("string"),
      $"l_returnflag",
      $"l_linestatus",
      date_format($"l_shipdate", "yyyy-MM-dd HH:mm:ss"))
    Tables.lineitem(s, d)
      .select(md5(rowStr).as("dg"))
      .select(
        substring($"dg", 1, 2).as("bucket"),
        // Native hex parse — value-identical to conv(·,16,10).cast(long)
        // on 15-char hex; Conv measured as ~1.0 s/600k rows (r17,
        // expressions/HexToLong.scala scaladoc).
        org.apache.spark.sql.graft.HexToLong
          .hexToLong(substring($"dg", 3, 15)).as("sig"),
        $"dg")
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n"),
        expr("bit_xor(sig)").as("xor_sig"),
        min($"dg").as("min_digest"),
        max($"dg").as("max_digest"))
      .orderBy($"bucket")
  }

  /** CDC-style snapshot diff — classify every key as insert / delete /
    * update between two table versions and emit per-class summaries.
    * The two "snapshots" are deterministic slices of orders (old drops
    * keys ≡0 mod 11, new drops ≡0 mod 13 and rewrites the priority of
    * keys ≡0 mod 7), so inserts, deletes and updates all occur.
    *
    * Plan shape: rows collapse to (key, md5-of-compared-columns) BEFORE
    * the full-outer join, so the shuffle carries two skinny relations
    * keyed on o_orderkey (sort-merge at scale, AQE-coalesced); the
    * classification is a post-join projection and the output is a
    * 3-row summary with an order-independent key fold. */
  private def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def hashed(df: DataFrame, keyAs: String, hAs: String): DataFrame =
      df.select(col("o_orderkey").as(keyAs),
        md5(concat_ws("|", col("o_orderstatus"), col("o_orderpriority")))
          .as(hAs))
    val base = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority")
    val oldSnap = hashed(base.filter($"o_orderkey" % 11 =!= 0), "k_old", "h_old")
    val newSnap = hashed(
      base.filter($"o_orderkey" % 13 =!= 0)
        .withColumn("o_orderpriority",
          when($"o_orderkey" % 7 === 0, concat(lit("X-"), $"o_orderpriority"))
            .otherwise($"o_orderpriority")),
      "k_new", "h_new")
    oldSnap
      .join(newSnap, $"k_old" === $"k_new", "full_outer")
      .select(
        coalesce($"k_old", $"k_new").as("key"),
        when($"h_old".isNull, "insert")
          .when($"h_new".isNull, "delete")
          .when($"h_old" =!= $"h_new", "update")
          .as("change_type"))
      .filter($"change_type".isNotNull)
      .groupBy($"change_type")
      .agg(
        count(lit(1)).as("n"),
        expr("bit_xor(key)").as("key_sig"),
        min($"key").as("min_key"),
        max($"key").as("max_key"))
      .orderBy($"change_type")
  }

  /** Incremental CDC PUBLISH through the graftkv connector — the
    * production "populate only what changed" pattern closing the
    * maintenance→serving loop: the old snapshot is published in full,
    * then the next run publishes ONLY the snapshot diff (inserts +
    * updates as upserts, deletes as empty-value tombstones — the store
    * is last-write-wins with no delete op, the DynamoDB-style
    * convention). The served read must then equal the NEW snapshot
    * exactly, which is precisely what the oracle pins — so a missed
    * delta class (e.g. dropping tombstones) fails verify. Snapshot
    * slices are [[snapshotDiff]]'s. The inter-publish sleep models two
    * separate publish runs: segment ordering across writer instances is
    * millisecond-granular by the store's documented contract. */
  private def kvCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = "target/tmp/sources/orders_kv_cdc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val base = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority")
    def kv(df: DataFrame): DataFrame = df.select(
      col("o_orderkey").cast("string").as("key"),
      concat_ws("|", col("o_orderstatus"), col("o_orderpriority"))
        .as("value"))
    val oldSnap = kv(base.filter($"o_orderkey" % 11 =!= 0))
    val newSnap = kv(base.filter($"o_orderkey" % 13 =!= 0)
      .withColumn("o_orderpriority",
        when($"o_orderkey" % 7 === 0, concat(lit("X-"), $"o_orderpriority"))
          .otherwise($"o_orderpriority")))
    oldSnap.write.format("graftkv").mode("append").save(out)
    Thread.sleep(5)
    val joined = newSnap.as("n").join(oldSnap.as("o"),
      $"n.key" === $"o.key", "full_outer")
    val upserts = joined
      .filter($"o.key".isNull || ($"n.key".isNotNull &&
        $"n.value" =!= $"o.value"))
      .select($"n.key".as("key"), $"n.value".as("value"))
    val tombstones = joined.filter($"n.key".isNull)
      .select($"o.key".as("key"), lit("").as("value"))
    upserts.unionByName(tombstones)
      .write.format("graftkv").mode("append").save(out)
    s.read.format("graftkv").load(out)
      .filter($"value" =!= "")
      .orderBy($"key")
  }

  /** Slowly-changing-dimension (type 2) history build: collapse each
    * user's event stream to its change points (consecutive runs of the
    * same event_type merge) and emit versioned validity intervals —
    * `valid_from` inclusive, `valid_to` exclusive, NULL = current row.
    *
    * Plan shape: ONE user_id exchange feeds all three window functions
    * (lag to find change points, lead for interval ends, row_number for
    * versions share the same partitioning+ordering), then the output
    * sort. Per-user state is a single previous row — no self-joins, no
    * per-user collect. The user_id%20 slice keeps the gate output
    * readable and demonstrates pushdown under the windows. */
  private def scd2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    scd2Dim(s, d).orderBy($"user_id", $"version")
  }

  /** The unordered SCD2 dimension relation — shared by the history gate
    * (`q_scd2`) and the point-in-time join (`q_join_pit`). */
  private def scd2Dim(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .filter($"user_id" % 20 === 0)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"event_type")
      .withColumn("valid_to", lead($"ts", 1).over(w))
      .withColumn("version", row_number().over(w))
      .select($"user_id", $"event_type", $"ts".as("valid_from"),
        $"valid_to", $"version", $"valid_to".isNull.as("is_current"))
  }

  /** Point-in-time dimensional join — THE lakehouse read pattern over an
    * SCD2 dimension: each fact row joins the dimension version whose
    * [valid_from, valid_to) reign contains the fact's timestamp
    * (`valid_to IS NULL` = current). Membership is half-open on ts only,
    * so every fact matches exactly one version (a zero-width version —
    * two change points at one ts — matches none, by construction).
    *
    * Shape: an equi-join on the entity key carries the interval
    * predicates as a post-join filter — per-entity version counts are
    * small (bounded by change frequency), so the range residual scans a
    * handful of rows per key; both sides hash-partition on user_id and
    * the rollup reuses that partitioning. */
  private def joinPit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = scd2Dim(s, d)
      .select($"user_id", $"event_type".as("dim_type"),
        $"valid_from", $"valid_to", $"version")
    val ev = Tables.events(s, d)
      .filter($"user_id" % 20 === 0)
      .select($"user_id", $"ts")
    ev.as("f")
      .join(dim.as("v"),
        $"f.user_id" === $"v.user_id" &&
          $"f.ts" >= $"valid_from" &&
          ($"valid_to".isNull || $"f.ts" < $"valid_to"))
      .groupBy($"v.user_id".as("user_id"), $"version", $"dim_type")
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"user_id", $"version")
  }

  /** Orders strictly before this date form the "standing" aggregate;
    * at/after are "today's batch". */
  private val IncrementalCutoff = "2001-01-01"

  /** Incremental aggregate maintenance (incremental view maintenance for
    * distributive/algebraic aggregates): a standing per-customer
    * aggregate table absorbs a new batch by MERGING partial states —
    * counts and decimal sums add, min/max take the pairwise extreme,
    * avg re-derives from the merged sum/count — so the daily cost is
    * O(batch), never O(history). This is the aggregate-table twin of
    * [[Dedup]]'s `q_dedup_incremental` and the reference's daily-batch
    * cadence (`/root/reference/data-cleaner/cleaner.py:142-143`): each
    * day's run folds one file into the standing state.
    *
    * Plan shape: two partial aggs (one per side — at scale the base is a
    * parquet artifact read pre-aggregated, not recomputed) + one
    * full-outer merge join on the group key + the output sort. The gate
    * checks the merged result hash-equals a from-scratch aggregation of
    * the union (the DuckDB oracle), which is exactly the IVM
    * correctness condition. */
  private def aggIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, d)
      .select($"o_custkey", $"o_totalprice", $"o_orderdate")
    def partial(df: DataFrame, tag: String): DataFrame =
      df.groupBy($"o_custkey".as(s"k_$tag"))
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(moneyDecimal($"o_totalprice")).as(s"s_$tag"),
          min($"o_totalprice").as(s"mn_$tag"),
          max($"o_totalprice").as(s"mx_$tag"))
    val base = partial(orders.filter($"o_orderdate" < lit(IncrementalCutoff)), "b")
    val batch = partial(orders.filter($"o_orderdate" >= lit(IncrementalCutoff)), "n")
    base.join(batch, $"k_b" === $"k_n", "full_outer")
      .select(
        coalesce($"k_b", $"k_n").as("o_custkey"),
        (coalesce($"n_b", lit(0L)) + coalesce($"n_n", lit(0L))).as("n_orders"),
        (coalesce($"s_b", lit(0).cast("decimal(18,6)")) +
          coalesce($"s_n", lit(0).cast("decimal(18,6)"))).as("sum_dec"),
        least(coalesce($"mn_b", $"mn_n"), coalesce($"mn_n", $"mn_b")).as("min_price"),
        greatest(coalesce($"mx_b", $"mx_n"), coalesce($"mx_n", $"mx_b")).as("max_price"))
      .select($"o_custkey", $"n_orders",
        $"sum_dec".cast("double").as("sum_price"),
        // exact decimal sum → double FIRST, then one IEEE divide — the
        // davg rule (decimal-division scales differ across engines).
        ($"sum_dec".cast("double") / $"n_orders").as("avg_price"),
        $"min_price", $"max_price")
      .orderBy($"o_custkey")
  }

  private val ProfileCols = Seq(
    "l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** One-pass column profiling (null count, exact NDV, min/max) for five
    * lineitem columns — the data-quality scan every ingestion pipeline
    * runs before promoting a batch.
    *
    * Plan shape: a SINGLE scan computes all 20 aggregates (Spark plans
    * the 5 exact count-distincts with one Expand — 5× row multiplication
    * of a 5-column projection, partial-aggregated map-side), then the
    * 1-row result is `stack`ed into the (column × stats) relation
    * driver-free. The naive per-column union would scan the table 5
    * times. min/max on doubles are comparison-based — bit-identical
    * cross-engine, unlike double sums. */
  private def profileStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ProfileCols.map { c =>
      // One branch per column, each a partial-agg'd groupBy(value): the
      // map side dedupes values and folds null/min/max counts BEFORE the
      // exchange, so each branch shuffles only its column's distinct
      // values. Parquet being columnar, the 5 single-column scans read
      // exactly the same bytes as one 5-column scan — unlike the former
      // single-agg formulation, which Spark planned through a 6-way
      // Expand (rows x 6 into one wide hash agg: 2.1 s at sf0.1, the
      // whole-catalog worst non-graph entry; this shape is 4x cheaper
      // and strictly narrower on the wire at any scale).
      Tables.lineitem(s, d)
        .select(col(c).as("v"))
        .groupBy($"v")
        .agg(count(lit(1)).as("n"))
        .agg(
          (sum(when($"v".isNull, $"n")).cast("long")).as("nulls"),
          count($"v").as("n_distinct"),
          min($"v").cast("double").as("min_v"),
          max($"v").cast("double").as("max_v"))
        .select(lit(c).as("col_name"),
          coalesce($"nulls", lit(0L)).as("n_null"),
          $"n_distinct", $"min_v", $"max_v")
    }.reduce(_.unionAll(_))
      .orderBy($"col_name")
  }

  /** Exact join-size profiling — the optimizer-statistics pass that
    * predicts a join's output cardinality and skew WITHOUT running the
    * join: |A ⋈ B on k| = Σ_k n_A(k)·n_B(k), the inner product of the
    * two per-key count vectors. Profiled for the two fact joins
    * (orders⋈lineitem, customer⋈orders); per join: matched key count,
    * exact output rows, the largest single-key contribution, and the
    * fixed-point skew ratio max·n_keys·1000 div total (how far the worst
    * key exceeds the mean — the cell an AQE skew split would target).
    *
    * Scale shape: each side collapses to per-key counts FIRST (map-side
    * combined, output is keys-sized), the count relations equi-join on
    * the key they are already partitioned by, and one global fold emits
    * a single row per join — the fact tables are scanned once each and
    * never joined. All integers, hash-exact. */
  private def profileJoinsize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def counts(df: DataFrame, key: String) =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("n"))
    def prof(name: String, l: DataFrame, lk: String,
        r: DataFrame, rk: String) =
      counts(l.select(lk), lk)
        .join(counts(r.select(rk), rk).withColumnRenamed("n", "nr"), "k")
        .select(($"n" * $"nr").as("prod"))
        .agg(count(lit(1)).as("n_keys"), sum($"prod").as("join_rows"),
          max($"prod").as("max_key_rows"))
        .select(lit(name).as("join_name"), $"n_keys", $"join_rows",
          $"max_key_rows",
          expr("max_key_rows * n_keys * 1000 div join_rows").as("skew_fp"))
    prof("orders_lineitem", Tables.orders(s, d), "o_orderkey",
        Tables.lineitem(s, d), "l_orderkey")
      .unionAll(prof("customer_orders", Tables.customer(s, d), "c_custkey",
        Tables.orders(s, d), "o_custkey"))
      .orderBy($"join_name")
  }

  /** Constraint audit — the dbt-test / great-expectations pass run
    * before promoting a batch: primary-key uniqueness per table and
    * foreign-key orphans per relationship, as one uniform
    * (check_name, n_rows, n_violations) report.
    *
    * Shape: every check collapses the child side to per-key counts FIRST
    * (map-side combined, keys-sized), so PK violations are
    * Σc − |fully-non-null keys| off one aggregation (a NULL key IS a
    * violation, in both engines) and FK orphans are a keys-vs-keys left-anti
    * join that never moves fact rows. The key-count relations are SHARED
    * (r17): pk_lineitem and fk_lineitem_orders both read the one
    * (l_orderkey, l_linenumber) aggregation (the FK child counts re-agg
    * it down to l_orderkey — the exchange is physically identical, so
    * ReuseExchange ships the lineitem shuffle once), every FK's n_rows is
    * Σc of its child counts instead of a separate full count scan, and
    * parent key sets come from the PK aggregations where the key matches.
    * The r16 shape ran six independent subtrees — five lineitem scans
    * (profile: pk_lineitem 0.59 s + fk_li_orders 0.46 s vs 0.66 s
    * combined); all arithmetic stays exact integers. */
  private def auditIntegrity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def keyCounts(df: DataFrame, cols: Seq[String]) =
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
    val liKc = keyCounts(Tables.lineitem(s, d),
      Seq("l_orderkey", "l_linenumber"))
    val liPartKc = keyCounts(
      Tables.lineitem(s, d).select($"l_partkey".as("k")), Seq("k"))
    val ordKc = keyCounts(Tables.orders(s, d), Seq("o_orderkey"))
    val ordCustKc = keyCounts(
      Tables.orders(s, d).select($"o_custkey".as("k")), Seq("k"))
    val custKc = keyCounts(Tables.customer(s, d), Seq("c_custkey"))
    // A NULL (or partially NULL) primary key is itself a violation, so
    // n_violations = rows − |distinct fully-non-null keys| — every
    // NULL-keyed row counts. Counting the NULL group as a legitimate key
    // (the pre-r11 Σc − |groups|) silently disagreed with the oracle's
    // count(DISTINCT), which excludes NULLs; TPC-H keys are non-null so
    // the gate couldn't catch it.
    def pk(name: String, kc: DataFrame, cols: String*) = {
      val fullKey = cols.map(col(_).isNotNull).reduce(_ && _)
      kc.agg(sum($"c").as("n_rows"),
          (sum($"c") - count(when(fullKey, lit(1)))).as("n_violations"))
        .select(lit(name).as("check_name"), $"n_rows", $"n_violations")
    }
    // Orphans via LEFT join against the parent's per-key COUNTS (not an
    // anti join against a keys-only projection): the parent count column
    // is USED (the null test), so column pruning cannot rewrite the
    // parent aggregate into a keys-only twin — the PK check and the FK
    // parent side stay byte-identical subtrees and the exchange is
    // reused. Parent keys are unique (they're a groupBy output), so the
    // left join never fans out; NULL child keys match nothing and count
    // as orphans — same as the oracle's NOT IN (non-null parent).
    // n_rows rides the SAME join output (parent keys are unique — the
    // left join never fans out, so Σc over it is the child row count):
    // no separate count subtree, no crossJoin(broadcast(count)) stage.
    def fk(name: String, childKc: DataFrame, parentKc: DataFrame,
        parentKey: String) =
      childKc.join(
          parentKc.select(col(parentKey).as("k"), $"c".as("pc")),
          Seq("k"), "left")
        .agg(coalesce(sum($"c"), lit(0L)).as("n_rows"),
          coalesce(sum(when($"pc".isNull, $"c").otherwise(0L)), lit(0L))
            .as("orphans"))
        .select(lit(name).as("check_name"), $"n_rows",
          $"orphans".as("n_violations"))
    pk("pk_orders", ordKc, "o_orderkey")
      .unionAll(pk("pk_customer", custKc, "c_custkey"))
      .unionAll(pk("pk_lineitem", liKc, "l_orderkey", "l_linenumber"))
      .unionAll(fk("fk_orders_customer", ordCustKc, custKc, "c_custkey"))
      .unionAll(fk("fk_lineitem_orders",
        liKc.groupBy($"l_orderkey".as("k")).agg(sum($"c").as("c")),
        ordKc, "o_orderkey"))
      .unionAll(fk("fk_lineitem_part", liPartKc,
        keyCounts(Tables.part(s, d).select($"p_partkey".as("pk_k")),
          Seq("pk_k")), "pk_k"))
      .orderBy($"check_name")
  }

  /** Bits per dimension for the Z-order curve (8 ⇒ 16-bit z values). */
  private[queries] val ZBits = 8
  /** Zones per layout (64 zones of 1024 z values / an orderkey range). */
  private[queries] val ZZones = 64

  /** Z-value: interleave the low [[ZBits]] bits of x (odd positions) and
    * y (even positions) — pure shift/mask arithmetic, identical in both
    * engines, no UDF. */
  private def zValue(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1)), 2 * i + 1) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1)), 2 * i)
    }.reduce(_ + _)

  /** The same z-value as DuckDB SQL text. */
  private def zValueSql(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i + 1}) + ((($y >> $i) & 1) << ${2 * i})"
    }.mkString("(", " + ", ")")

  /** Z-order clustering payoff, quantified: lay lineitem out in 64
    * range-zones twice — "natural" (arrival order ≈ orderkey ranges) vs
    * Z-order on (partkey%256, suppkey%256) — and report each layout's
    * per-zone min/max envelopes (the stats a lakehouse keeps per file for
    * data skipping). Z-order bounds BOTH dimensions per zone, so its
    * total bounding area and per-dimension spans collapse vs the natural
    * layout — the measured justification for CLUSTER BY / OPTIMIZE
    * ZORDER table maintenance.
    *
    * Plan shape: zone assignment is a pure projection in both layouts
    * (range partition of the key space / of the z space — NO global sort
    * or row_number; a real rewrite job would range-partition by these
    * same keys), so the query is scan → union of two skinny projections →
    * one (layout, zone) partial agg → one 2-row summary agg. Everything
    * is exact integer arithmetic; the orderkey range bound rides a
    * broadcast scalar, not a driver collect. */
  private def zorderCluster(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey",
        ($"l_partkey" % 256).as("x"), ($"l_suppkey" % 256).as("y"))
    val mx = li.agg(max($"l_orderkey").as("mx"))
    val natural = li.crossJoin(broadcast(mx))
      .select(lit("natural").as("layout"),
        floor(($"l_orderkey" * ZZones).cast("double") / ($"mx" + 1))
          .cast("long").as("zone"),
        $"x", $"y")
    val zorder = li
      .select(lit("zorder").as("layout"),
        floor(zValue($"x", $"y").cast("double") /
          ((1 << (2 * ZBits)) / ZZones)).cast("long").as("zone"),
        $"x", $"y")
    natural.unionAll(zorder)
      .groupBy($"layout", $"zone")
      .agg(min($"x").as("mnx"), max($"x").as("mxx"),
        min($"y").as("mny"), max($"y").as("mxy"))
      .groupBy($"layout")
      .agg(count(lit(1)).as("n_zones"),
        sum(($"mxx" - $"mnx" + 1) * ($"mxy" - $"mny" + 1)).as("total_area"),
        max(($"mxx" - $"mnx" + 1) * ($"mxy" - $"mny" + 1)).as("max_area"),
        sum($"mxx" - $"mnx" + 1).as("sum_x_span"),
        sum($"mxy" - $"mny" + 1).as("sum_y_span"))
      .orderBy($"layout")
  }

  /** Distribution-drift monitor: per-day chi-squared statistic of the
    * event-type mix against the whole-corpus baseline — the alerting
    * primitive a feed pipeline runs to catch upstream schema/mix changes
    * before they poison training data. Chi-squared, not PSI/KL: those
    * need `ln`, and libm rounding is engine-defined (the same rule that
    * shaped `q_text_pmi`); the chi-squared addend `(o − e)²/e` is a fixed
    * chain of correctly-rounded IEEE ops over exact integer counts, so
    * both engines produce bit-equal doubles before the decimal-exact sum.
    *
    * The (day × type) grid is built densely — a day MISSING a baseline
    * type contributes its full expected count `e` (o = 0), which is
    * exactly the signal a vanished event type should raise; an
    * observed-cells-only join would silently score it 0.
    *
    * Plan shape: one (day, type) count agg; the per-type baseline and
    * per-day totals are tiny broadcast relations; the grid is
    * |days| × |types| (bounded by domains, not rows); one final per-day
    * fold. The raw event payload never shuffles. */
  private def driftChisq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(to_date($"ts").as("day"), $"event_type")
    val dt = ev.groupBy($"day", $"event_type").agg(count(lit(1)).as("o"))
    val tt = ev.groupBy($"event_type").agg(count(lit(1)).as("a"))
    val nt = ev.agg(count(lit(1)).as("n_total"))
    val nd = dt.groupBy($"day").agg(sum($"o").as("n_day"))
    nd.crossJoin(broadcast(tt))
      .join(dt, Seq("day", "event_type"), "left")
      .withColumn("o", coalesce($"o", lit(0L)))
      .crossJoin(broadcast(nt))
      .withColumn("e",
        ($"n_day".cast("double") * $"a".cast("double")) /
          $"n_total".cast("double"))
      .withColumn("addend",
        (($"o".cast("double") - $"e") * ($"o".cast("double") - $"e")) / $"e")
      .groupBy($"day")
      .agg(dsum($"addend").as("chi2"),
        max($"n_day").as("n_day"),
        count(lit(1)).as("n_types"))
      .orderBy($"day")
  }

  /** Reference/current period boundary for the KS drift monitor. */
  private val KsCut = "2024-01-16"

  /** Two-sample Kolmogorov-Smirnov drift monitor over the numeric `value`
    * column, per event type — the numeric complement of
    * `q_drift_chisq`'s categorical test. Splits the stream at a fixed
    * date into reference/current samples and reports the KS statistic
    * D = max_v |F_ref(v) − F_cur(v)| EXACTLY: with c_ref/c_cur the
    * cumulative counts at each merged distinct value (cents — the
    * 2-decimal contract), D's numerator max|c_ref·n_cur − c_cur·n_ref|
    * is integer (bounds ~1e8 at sf0.1; widen to DECIMAL(38) sums at
    * cluster scale), and ks_milli = (1000·num) div (n_ref·n_cur) is one
    * floor division. Shuffle shape: one (type, value) pre-agg (map-side
    * combined — the mass is on duplicate cents), one per-type cumsum
    * window over the DEDUPED value domain, one final per-type fold. */
  private def driftKs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy($"event_type")
    val cum = byType.orderBy($"vi")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select($"event_type",
        ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("vi"),
        when($"ts" < ts(KsCut), 1L).otherwise(0L).as("is_ref"))
      .groupBy($"event_type", $"vi")
      .agg(sum($"is_ref").as("c_ref"), sum(lit(1L) - $"is_ref").as("c_cur"))
      .select($"event_type",
        sum($"c_ref").over(cum).as("cum_ref"),
        sum($"c_cur").over(cum).as("cum_cur"),
        sum($"c_ref").over(byType).as("n_ref"),
        sum($"c_cur").over(byType).as("n_cur"))
      .groupBy($"event_type")
      .agg(
        max($"n_ref").as("n_ref"),
        max($"n_cur").as("n_cur"),
        max(abs($"cum_ref" * $"n_cur" - $"cum_cur" * $"n_ref")).as("ks_num"))
      .select($"event_type", $"n_ref", $"n_cur", $"ks_num",
        expr("(1000 * ks_num) div (n_ref * n_cur)").as("ks_milli"))
      .orderBy($"event_type")
  }

  private val CompactMergeFactor = 4 // target bin = 4x the mean file size

  /** Small-file compaction planning — the OPTIMIZE/binpack maintenance
    * pass every streaming-ingested lakehouse table needs: group each
    * partition's small files into target-size rewrite bins, preserving
    * the clustering order so data-skipping envelopes stay tight. The
    * file inventory here is simulated from orders at month granularity
    * (one "file" per (year, month), size = a deterministic byte proxy);
    * in production it is the table's file-listing metadata — one row per
    * FILE, so the whole plan runs over ~100k rows for a 100 TB table
    * with 1 GB files, never touching the data.
    *
    * The bin assignment is the order-preserving binpack: within each
    * partition (year), files sort by their clustering key (month) and
    * bin = exclusive-prefix-bytes DIV target — a per-partition window,
    * embarrassingly parallel across partitions, no sequential greedy
    * loop. The target derives from the observed size distribution
    * ([[CompactMergeFactor]] x mean file size — one |files|-row agg
    * broadcast back), so the plan is scale-free. Output is the rewrite
    * work-list (one row per bin) that each compaction task consumes
    * independently. Integer arithmetic throughout. */
  private def compactPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val files = Tables.orders(s, d)
      .groupBy(year($"o_orderdate").cast("long").as("y"),
        month($"o_orderdate").cast("long").as("m"))
      .agg((lit(32) * count(lit(1)) +
        sum(length($"o_orderpriority"))).cast("long").as("bytes"))
    val target = files.agg(
      expr(s"CAST(($CompactMergeFactor * sum(bytes)) DIV count(1) AS BIGINT)")
        .as("target"))
    val w = Window.partitionBy($"y").orderBy($"m")
      .rowsBetween(Window.unboundedPreceding, -1)
    files.crossJoin(broadcast(target))
      .withColumn("cum", coalesce(sum($"bytes").over(w), lit(0L)))
      .withColumn("bin", expr("CAST(cum DIV target AS BIGINT)"))
      .groupBy($"y", $"bin")
      .agg(count(lit(1)).as("n_files"),
        sum($"bytes").cast("long").as("total_bytes"),
        min($"m").as("m_min"), max($"m").as("m_max"))
      .orderBy($"y", $"bin")
  }

  /** Backfill planning — the partition-completeness audit behind every
    * scheduled-ingest table: which calendar days are MISSING from the
    * fact table, coalesced into contiguous date ranges (the work-list a
    * backfill scheduler replays). The gaps-and-islands key is
    * `days-since-epoch − per-year row_number` (constant within a
    * contiguous missing run); windows partition by YEAR, so a run
    * crossing Dec 31 emits one range per year — backfill jobs are
    * partition-aligned anyway, and no window is ever unpartitioned.
    *
    * Scale shape: the only fact-sized step is the distinct-day collapse
    * (map-side partial agg straight down to one row per day — a century
    * is 36 k rows); the expected calendar explodes from a single min/max
    * row and everything downstream is calendar-sized. At 100 TB the
    * plan's cost is the scan it shares with any other full read. */
  private def backfillPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val day = to_date($"o_orderdate")
    val bounds = Tables.orders(s, d)
      .agg(min(day).as("mn"), max(day).as("mx"))
    val expected = bounds
      .select(explode(sequence($"mn", $"mx", expr("interval 1 day")))
        .as("dt"))
    val present = Tables.orders(s, d).select(day.as("dt")).distinct()
    val w = Window.partitionBy($"y").orderBy($"dt")
    expected.join(present, Seq("dt"), "left_anti")
      .withColumn("y", year($"dt").cast("long"))
      .withColumn("k",
        datediff($"dt", lit("1970-01-01")) - row_number().over(w))
      .groupBy($"y", $"k")
      .agg(min($"dt").as("gap_start"), max($"dt").as("gap_end"),
        count(lit(1)).as("n_days"))
      .select($"y", $"gap_start", $"gap_end", $"n_days")
      .orderBy($"gap_start")
  }

  val queries: Map[String, Q] = Map(
    "q_backfill_plan" -> backfillPlan,
    "q_compact_plan" -> compactPlan,
    "q_drift_chisq" -> driftChisq,
    "q_drift_ks" -> driftKs,
    "q_zorder_cluster" -> zorderCluster,
    "q_table_checksum" -> tableChecksum,
    "q_snapshot_diff" -> snapshotDiff,
    "q_kv_cdc" -> kvCdc,
    "q_scd2" -> scd2,
    "q_profile_stats" -> profileStats,
    "q_profile_joinsize" -> profileJoinsize,
    "q_audit_integrity" -> auditIntegrity,
    "q_join_pit" -> joinPit,
    "q_agg_incremental" -> aggIncremental,
  )

  val oracle: Map[String, String] = Map(
    "q_backfill_plan" ->
      """WITH b AS (
        |  SELECT MIN(CAST(o_orderdate AS DATE)) AS mn,
        |    MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
        |e AS (
        |  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY))
        |    AS DATE) AS dt FROM b),
        |p AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS dt FROM orders),
        |m AS (SELECT dt FROM e ANTI JOIN p USING (dt)),
        |i AS (
        |  SELECT dt, CAST(year(dt) AS BIGINT) AS y,
        |    date_diff('day', DATE '1970-01-01', dt)
        |      - row_number() OVER (PARTITION BY year(dt) ORDER BY dt) AS k
        |  FROM m)
        |SELECT y, MIN(dt) AS gap_start, MAX(dt) AS gap_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_days
        |FROM i GROUP BY y, k ORDER BY gap_start""".stripMargin,
    // DuckDB SUM(BIGINT) is HUGEINT; // truncates like Spark's DIV on
    // the non-negative operands here.
    "q_compact_plan" ->
      s"""WITH f AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |    CAST(month(o_orderdate) AS BIGINT) AS m,
        |    CAST(32*COUNT(*) + SUM(strlen(o_orderpriority)) AS BIGINT)
        |      AS bytes
        |  FROM orders GROUP BY 1, 2),
        |t AS (
        |  SELECT CAST(($CompactMergeFactor * SUM(bytes)) // COUNT(*)
        |    AS BIGINT) AS target
        |  FROM f),
        |b AS (
        |  SELECT y, m, bytes,
        |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY y ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // target AS BIGINT) AS bin
        |  FROM f, t)
        |SELECT y, bin, COUNT(*) AS n_files,
        |  CAST(SUM(bytes) AS BIGINT) AS total_bytes,
        |  MIN(m) AS m_min, MAX(m) AS m_max
        |FROM b GROUP BY y, bin ORDER BY y, bin""".stripMargin,
    "q_drift_ks" ->
      s"""WITH v AS (
         |  SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vi,
         |    CASE WHEN ts < TIMESTAMP '$KsCut 00:00:00' THEN 1 ELSE 0 END
         |      AS is_ref
         |  FROM events),
         |g AS (
         |  SELECT event_type, vi,
         |    CAST(SUM(is_ref) AS BIGINT) AS c_ref,
         |    CAST(SUM(1 - is_ref) AS BIGINT) AS c_cur
         |  FROM v GROUP BY 1, 2),
         |c AS (
         |  SELECT event_type,
         |    SUM(c_ref) OVER (PARTITION BY event_type ORDER BY vi
         |      ROWS UNBOUNDED PRECEDING) AS cum_ref,
         |    SUM(c_cur) OVER (PARTITION BY event_type ORDER BY vi
         |      ROWS UNBOUNDED PRECEDING) AS cum_cur,
         |    SUM(c_ref) OVER (PARTITION BY event_type) AS n_ref,
         |    SUM(c_cur) OVER (PARTITION BY event_type) AS n_cur
         |  FROM g)
         |SELECT event_type,
         |  CAST(MAX(n_ref) AS BIGINT) AS n_ref,
         |  CAST(MAX(n_cur) AS BIGINT) AS n_cur,
         |  CAST(MAX(abs(cum_ref * n_cur - cum_cur * n_ref)) AS BIGINT)
         |    AS ks_num,
         |  CAST((1000 * MAX(abs(cum_ref * n_cur - cum_cur * n_ref)))
         |    // (MAX(n_ref) * MAX(n_cur)) AS BIGINT) AS ks_milli
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_drift_chisq" ->
      s"""WITH ev AS (
         |  SELECT CAST(ts AS DATE) AS day, event_type FROM events),
         |dt AS (
         |  SELECT day, event_type, COUNT(*) AS o FROM ev GROUP BY 1, 2),
         |tt AS (SELECT event_type, COUNT(*) AS a FROM ev GROUP BY 1),
         |nt AS (SELECT COUNT(*) AS n_total FROM ev),
         |nd AS (SELECT day, CAST(SUM(o) AS BIGINT) AS n_day
         |       FROM dt GROUP BY 1),
         |cells AS (
         |  SELECT g.day, g.n_day, g.a, COALESCE(dt.o, 0) AS o
         |  FROM (SELECT nd.day, nd.n_day, tt.event_type, tt.a
         |        FROM nd CROSS JOIN tt) g
         |  LEFT JOIN dt ON g.day = dt.day AND g.event_type = dt.event_type),
         |sc AS (
         |  SELECT day, n_day,
         |    (CAST(n_day AS DOUBLE) * CAST(a AS DOUBLE))
         |      / CAST(n_total AS DOUBLE) AS e,
         |    CAST(o AS DOUBLE) AS od
         |  FROM cells CROSS JOIN nt),
         |ad AS (
         |  SELECT day, n_day, ((od - e) * (od - e)) / e AS addend FROM sc)
         |SELECT day, ${dsumSql("addend")} AS chi2,
         |  max(n_day) AS n_day, COUNT(*) AS n_types
         |FROM ad GROUP BY day ORDER BY day""".stripMargin,
    "q_zorder_cluster" ->
      s"""WITH li AS (
         |  SELECT l_orderkey, l_partkey % 256 AS x, l_suppkey % 256 AS y
         |  FROM lineitem),
         |mx AS (SELECT max(l_orderkey) AS mx FROM lineitem),
         |tagged AS (
         |  SELECT 'natural' AS layout,
         |    CAST(floor(CAST(l_orderkey * $ZZones AS DOUBLE) / (mx + 1))
         |      AS BIGINT) AS zone, x, y
         |  FROM li CROSS JOIN mx
         |  UNION ALL
         |  SELECT 'zorder' AS layout,
         |    CAST(floor(CAST(${zValueSql("x", "y")} AS DOUBLE)
         |      / ${(1 << (2 * ZBits)) / ZZones}) AS BIGINT) AS zone, x, y
         |  FROM li),
         |zones AS (
         |  SELECT layout, zone, min(x) AS mnx, max(x) AS mxx,
         |    min(y) AS mny, max(y) AS mxy
         |  FROM tagged GROUP BY 1, 2)
         |SELECT layout, COUNT(*) AS n_zones,
         |  CAST(SUM((mxx - mnx + 1) * (mxy - mny + 1)) AS BIGINT)
         |    AS total_area,
         |  CAST(MAX((mxx - mnx + 1) * (mxy - mny + 1)) AS BIGINT)
         |    AS max_area,
         |  CAST(SUM(mxx - mnx + 1) AS BIGINT) AS sum_x_span,
         |  CAST(SUM(mxy - mny + 1) AS BIGINT) AS sum_y_span
         |FROM zones GROUP BY layout ORDER BY layout""".stripMargin,
    // The IVM correctness condition: merging partial states must equal
    // aggregating the union from scratch.
    "q_agg_incremental" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS sum_price,
         |  ${dsumSql("o_totalprice")} / COUNT(*) AS avg_price,
         |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         |FROM orders GROUP BY 1 ORDER BY o_custkey""".stripMargin,
    "q_table_checksum" ->
      """WITH r AS (
        |  SELECT md5(concat_ws('|',
        |    CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |    l_returnflag, l_linestatus,
        |    strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'))) AS dg
        |  FROM lineitem)
        |SELECT substr(dg, 1, 2) AS bucket, COUNT(*) AS n,
        |  bit_xor(('0x' || substr(dg, 3, 15))::BIGINT) AS xor_sig,
        |  min(dg) AS min_digest, max(dg) AS max_digest
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,
    // The served state after old-snapshot publish + delta publish must
    // equal the NEW snapshot — the incremental publish is the
    // implementation, this is the specification.
    "q_kv_cdc" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS key,
        |  o_orderstatus || '|' ||
        |    (CASE WHEN o_orderkey % 7 = 0 THEN 'X-' || o_orderpriority
        |          ELSE o_orderpriority END) AS value
        |FROM orders WHERE o_orderkey % 13 <> 0
        |ORDER BY key""".stripMargin,
    "q_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
        |old AS (
        |  SELECT o_orderkey AS k_old,
        |    md5(concat_ws('|', o_orderstatus, o_orderpriority)) AS h_old
        |  FROM base WHERE o_orderkey % 11 <> 0),
        |new AS (
        |  SELECT o_orderkey AS k_new,
        |    md5(concat_ws('|', o_orderstatus,
        |      CASE WHEN o_orderkey % 7 = 0 THEN 'X-' || o_orderpriority
        |           ELSE o_orderpriority END)) AS h_new
        |  FROM base WHERE o_orderkey % 13 <> 0),
        |diff AS (
        |  SELECT coalesce(k_old, k_new) AS key,
        |    CASE WHEN h_old IS NULL THEN 'insert'
        |         WHEN h_new IS NULL THEN 'delete'
        |         WHEN h_old <> h_new THEN 'update' END AS change_type
        |  FROM old FULL OUTER JOIN new ON k_old = k_new)
        |SELECT change_type, COUNT(*) AS n, bit_xor(key) AS key_sig,
        |  min(key) AS min_key, max(key) AS max_key
        |FROM diff WHERE change_type IS NOT NULL
        |GROUP BY 1 ORDER BY change_type""".stripMargin,
    "q_join_pit" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts, event_id FROM events
        |  WHERE user_id % 20 = 0),
        |c AS (
        |  SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM e),
        |chg AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type),
        |dim AS (
        |  SELECT user_id, event_type AS dim_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to,
        |    CAST(row_number() OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
        |      AS version
        |  FROM chg)
        |SELECT v.user_id, v.version, v.dim_type, count(*) AS n_events
        |FROM (SELECT user_id, ts FROM events WHERE user_id % 20 = 0) f
        |JOIN dim v ON f.user_id = v.user_id
        |  AND f.ts >= v.valid_from
        |  AND (v.valid_to IS NULL OR f.ts < v.valid_to)
        |GROUP BY v.user_id, v.version, v.dim_type
        |ORDER BY v.user_id, v.version""".stripMargin,
    "q_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts, event_id FROM events
        |  WHERE user_id % 20 = 0),
        |c AS (
        |  SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM e),
        |chg AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to,
        |  CAST(row_number() OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
        |    AS version,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL) AS is_current
        |FROM chg ORDER BY user_id, version""".stripMargin,
    "q_profile_stats" -> ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  COUNT(*) - COUNT($c) AS n_null,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_v,
         |  CAST(max($c) AS DOUBLE) AS max_v
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "q_profile_joinsize" ->
      """WITH ol AS (
        |  SELECT count(*) AS n_keys,
        |    CAST(sum(prod) AS BIGINT) AS join_rows,
        |    CAST(max(prod) AS BIGINT) AS max_key_rows
        |  FROM (
        |    SELECT a.n * b.n AS prod
        |    FROM (SELECT o_orderkey AS k, count(*) AS n
        |          FROM orders GROUP BY 1) a
        |    JOIN (SELECT l_orderkey AS k, count(*) AS n
        |          FROM lineitem GROUP BY 1) b USING (k))),
        |co AS (
        |  SELECT count(*) AS n_keys,
        |    CAST(sum(prod) AS BIGINT) AS join_rows,
        |    CAST(max(prod) AS BIGINT) AS max_key_rows
        |  FROM (
        |    SELECT a.n * b.n AS prod
        |    FROM (SELECT c_custkey AS k, count(*) AS n
        |          FROM customer GROUP BY 1) a
        |    JOIN (SELECT o_custkey AS k, count(*) AS n
        |          FROM orders GROUP BY 1) b USING (k)))
        |SELECT * FROM (
        |  SELECT 'orders_lineitem' AS join_name, n_keys, join_rows,
        |    max_key_rows, max_key_rows * n_keys * 1000 // join_rows
        |      AS skew_fp
        |  FROM ol
        |  UNION ALL
        |  SELECT 'customer_orders', n_keys, join_rows, max_key_rows,
        |    max_key_rows * n_keys * 1000 // join_rows
        |  FROM co)
        |ORDER BY join_name""".stripMargin,
    "q_audit_integrity" ->
      """SELECT * FROM (
        |  SELECT 'pk_orders' AS check_name, count(*) AS n_rows,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |      AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'pk_customer', count(*),
        |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'pk_lineitem', count(*),
        |    -- CASE nulls out partially-NULL keys: a bare (a, b) struct
        |    -- with a NULL field is non-NULL and would be counted as a
        |    -- legitimate distinct key, diverging from the single-column
        |    -- checks' NULL-is-a-violation semantics.
        |    CAST(count(*) - count(DISTINCT CASE
        |      WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        |      THEN (l_orderkey, l_linenumber) END)
        |         AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'fk_orders_customer', count(*),
        |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders', count(*),
        |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT)
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'fk_lineitem_part', count(*),
        |    CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT)
        |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey)
        |ORDER BY check_name""".stripMargin,
  )
}
