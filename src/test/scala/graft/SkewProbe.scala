package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew probe: measures the engine's answers to the classic 100 TB
  * join-skew shape — one hot key owning most of the fact table — on a
  * derived corpus, with result equality pinned across all plans.
  *
  * Real corpora are Zipfian; the uniform ScaleProbe decades never stress
  * the skew machinery the brief calls out ("skewed keys → salting or AQE
  * skew-join"), and AqeSpec pins only that the runtime SPLITS a skewed
  * partition at toy scale — not what that split is worth in wall-clock.
  * This probe derives a skewed lineitem (a deterministic 60% of rows
  * rewritten to ONE hot l_orderkey — the matching orders row exists, so
  * join semantics stay valid), then times the fact⋈orders aggregate
  * under:
  *
  *   aqe_default — AQE with stock skew thresholds (256 MB): at probe
  *                 scale the hot partition sits UNDER the threshold, so
  *                 the split never engages — the thresholds exist so
  *                 ordinary skew doesn't trigger re-planning churn
  *   aqe_tuned   — skew thresholds scaled so hot/advisory ≈ the ratio a
  *                 100 TB hot key produces (threshold 16 MB, advisory
  *                 8 MB): the split engages and erases the straggler
  *   no_split    — spark.sql.adaptive.skewJoin.enabled=false, same
  *                 advisory sizing as aqe_tuned (the straggler plan a
  *                 non-adaptive engine runs at any threshold)
  *   salted      — [[graft.operators.SkewJoin.saltedJoin]], the blanket
  *                 manual fallback (pays WHOLE-dim replication × salts)
  *   salted_hot  — [[graft.operators.SkewJoin.saltedJoinHotKeys]]: only
  *                 the hot keys salt/replicate — the manual form to use
  *                 when adaptive splitting is unavailable (e.g.
  *                 stream-static joins)
  *
  * All row-counts and value hashes must be IDENTICAL (salting and
  * splitting change partitioning, never matching) — a divergence fails
  * the probe before any timing is reported.
  *
  * Usage: Test/runMain graft.SkewProbe [srcDir] [runs] [configCsv]
  *        (defaults: /tmp/graft_scale/x10  3  all-configs; pass a
  *        config subset to time one plan per fresh JVM — the ×100
  *        corpus showed heavy within-JVM position effects)
  * Prints one JSON line:
  *   {"rows":N,"hot_rows":H,"configs":{"aqe_tuned":sec,...}}
  */
object SkewProbe {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/tmp/graft_scale/x10"
    val runs = if (args.length > 1) args(1).toInt else 3
    // Derived-corpus path keyed by source: x10 and x100 probes must not
    // silently reuse each other's skewed lineitem.
    val out = "/tmp/graft_skew/lineitem_hot_" +
      src.replaceAll("[^A-Za-z0-9._-]", "_") + ".parquet"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // The skew corpus exists to exercise the SHUFFLE join machinery:
    // pin orders off the broadcast path so every config runs the same
    // sort-merge/shuffle shape it would at a scale where the dim side
    // no longer fits a broadcast.
    val spark = graft.core.Sessions.local(cpus.toInt,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    import spark.implicits._

    // Derive once: hot key = the smallest orderkey (exists in orders);
    // hot membership is a deterministic row hash, so the corpus is
    // reproducible bit-for-bit.
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val hot = li.agg(min($"l_orderkey")).head().getLong(0)
      // 60% of the fact table on ONE key: the shape where a missing
      // split is a straggler, not a ripple.
      li.withColumn("l_orderkey",
          when(pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(5)) < 3,
            lit(hot)).otherwise($"l_orderkey"))
        .write.mode("overwrite").parquet(out)
    }
    val li = spark.read.parquet(out)
    val orders = spark.read.parquet(s"$src/orders.parquet")
      .select($"o_orderkey", $"o_orderpriority")
    val hotKey = li.agg(min($"l_orderkey")).head().getLong(0)
    val nRows = li.count()
    val nHot = li.filter($"l_orderkey" === hotKey).count()

    def agg(joined: DataFrame): DataFrame =
      joined.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast("long")).as("sq"))

    def plain(): DataFrame =
      agg(li.join(orders, $"l_orderkey" === $"o_orderkey"))
    def salted(): DataFrame =
      agg(graft.operators.SkewJoin.saltedJoin(
        li, orders, col("l_orderkey"), col("o_orderkey"), salts = 32))
    def saltedHot(): DataFrame =
      agg(graft.operators.SkewJoin.saltedJoinHotKeys(
        li, orders, col("l_orderkey"), col("o_orderkey"),
        hotKeys = Seq(hotKey), salts = 32))

    /** Stable value hash over the full result (order-independent). */
    def sig(df: DataFrame): Long = {
      val h = xxhash64(df.columns.map(col): _*)
      df.select(h.as("h")).agg(expr("bit_xor(h)")).head().getLong(0)
    }

    val Tuned = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB")
    def setConf(split: Boolean, tuned: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", split)
      Tuned.keys.foreach(spark.conf.unset)
      if (tuned) Tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    val onlyConfigs = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val allConfigs: Seq[(String, () => DataFrame, Boolean, Boolean)] = Seq(
      ("aqe_default", () => plain(), true, false),
      ("aqe_tuned", () => plain(), true, true),
      ("no_split", () => plain(), false, true),
      ("salted", () => salted(), true, false),
      ("salted_hot", () => saltedHot(), true, false))
    onlyConfigs.foreach { names =>
      val unknown = names -- allConfigs.map(_._1).toSet
      require(unknown.isEmpty, s"unknown configs: $unknown")
    }
    val configs = allConfigs
      .filter { case (n, _, _, _) => onlyConfigs.forall(_.contains(n)) }

    // Equality gate first (one execution each), then timings.
    val sigs = configs.map { case (name, mk, split, tuned) =>
      setConf(split, tuned)
      val v = sig(mk()); Bench.quiesce(spark); name -> v
    }
    require(sigs.map(_._2).distinct.size == 1,
      s"skew configs disagree on values: $sigs")

    val timed = configs.map { case (name, mk, split, tuned) =>
      setConf(split, tuned)
      sig(mk()) // warm
      val ts = (1 to runs).map { _ =>
        Bench.quiesce(spark)
        val t0 = System.nanoTime(); sig(mk()); (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> ts(ts.length / 2)
    }
    val body = timed.map { case (n, t) =>
      f""""$n":$t%.3f""" }.mkString(",")
    println(s"""{"rows":$nRows,"hot_rows":$nHot,"runs":$runs,"src":"$src","configs":{$body}}""")
    spark.stop()
  }
}
