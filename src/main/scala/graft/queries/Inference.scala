package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables
import graft.core.Checkpoints.MaterializeOps
import graft.functions.TextFunctions.{tokens, Stopwords}
import Catalog._

/** Model-INFERENCE operators: applying a trained model to the corpus at
  * scale — the missing half of the quality story. `q_text_quality`
  * (heuristic gates) and `q_sample_weighted` (acceptance sampling) filter
  * by hand-written rules; real pretraining pipelines (GPT-3's LR
  * quality classifier, CCNet, fastText language/quality filters) score
  * every document with a TRAINED linear model and threshold the margin.
  *
  * The model here is the exported artifact of such a training run: a
  * (feature-index, name, weight) relation plus a bias — data, not code.
  * Inference is the canonical Spark shape for batch scoring with a small
  * model: fold the weight relation into ONE ordered coefficient array,
  * broadcast it (a lazy 1-row crossJoin, the same move as tfidf's corpus
  * count), and compute the dot product row-locally with codegen'd
  * `zip_with`/`aggregate` — the corpus is scanned once, nothing shuffles
  * but the output sort, and swapping in a retrained model touches zero
  * query code. Integer weights on integer features keep the margin exact,
  * so the keep/drop decision is bit-identical in both engines — no
  * sigmoid needed (monotone in the margin; thresholding the margin IS
  * thresholding the probability).
  */
object Inference extends QueryGroup {

  /** Exported linear quality model: bias + (index, feature, weight) rows.
    * The index pins each weight to its position in the per-document
    * feature vector below. */
  private[queries] val ModelBias = 80L
  private[queries] val ModelWeights: Seq[(Int, String, Long)] = Seq(
    (0, "n_tok", 3L),       // reward substance ...
    (1, "n_stop", -40L),    // ... punish stopword stuffing
    (2, "n_distinct", 8L),  // reward lexical diversity
    (3, "n_chars", -1L))    // punish verbosity at equal token mass

  /** (doc_id, margin) scores for the whole corpus — shared by the
    * classifier query and the keep-best dedup policy below. */
  private[queries] def margins(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val model = ModelWeights.toDF("idx", "feature", "weight")
    // (idx, weight) rows -> one index-ordered coefficient array.
    val wvec = model.agg(
      transform(array_sort(collect_list(struct($"idx", $"weight"))),
        x => x.getField("weight")).as("w"))
    val toks = tokens($"text")
    val feats = Tables.documents(s, d)
      .select($"doc_id",
        array(
          size(toks).cast("long"),
          size(filter(toks, t => t.isin(Stopwords: _*))).cast("long"),
          size(array_distinct(toks)).cast("long"),
          $"n_chars").as("f"))
    feats.crossJoin(broadcast(wvec))
      .select($"doc_id",
        (lit(ModelBias) +
          aggregate(zip_with($"f", $"w", (f, wt) => f * wt),
            lit(0L), _ + _)).as("margin"))
  }

  private def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    margins(s, d)
      .withColumn("keep", $"margin" > 0)
      .orderBy($"doc_id")
  }

  /** Keep-BEST duplicate resolution: near-dup clusters don't want an
    * arbitrary representative (q_dedup_cluster's min-id is a stand-in) —
    * a real pipeline keeps the highest-QUALITY member of each cluster
    * and drops the rest. Composition of two standing operators: the
    * converged min-label cluster relation ([[Dedup.clusterLabels]],
    * O(duplicates) rows) joined to the model margins, then one rank
    * window per cluster (margin DESC, id ASC — fully deterministic).
    * The window partitions the skinny cluster relation, never the
    * corpus; margins for non-clustered docs are never materialized
    * because the join side is the cluster membership. */
  private def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val labels = Dedup.clusterLabels(s, d)
      .select($"id".as("doc_id"), $"lab".as("rep_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"rep_id").orderBy($"margin".desc, $"doc_id")
    labels.join(margins(s, d), "doc_id")
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"rep_id")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"rep_id", $"doc_id".as("best_doc"),
        $"margin".as("best_margin"), $"cluster_size")
      .orderBy($"rep_id")
  }

  /** Per-source corpus RELEASE REPORT — the dashboard a data team ships
    * with every corpus drop, as one query composing standing operators:
    * document/token mass, the trained classifier's keep rate and margin
    * mass, and the train/val/test split distribution (same salted hash
    * as q_split_assign, so the numbers agree with the actual split).
    * One corpus scan feeds the token/split features; the margin relation
    * joins on doc_id (id-partitioned SMJ at scale); the output is
    * |sources| rows from a map-side-combined agg. */
  private def profileCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", $"source",
        size(tokens($"text")).cast("long").as("n_tok"),
        TextAnalysis.splitOf($"doc_id").as("split"))
    base.join(margins(s, d), "doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        count(when($"margin" > 0, 1)).as("n_keep"),
        sum($"margin").as("sum_margin"),
        count(when($"split" === "train", 1)).as("n_train"),
        count(when($"split" === "val", 1)).as("n_val"),
        count(when($"split" === "test", 1)).as("n_test"))
      .orderBy($"source")
  }

  /** Model-evaluation confusion matrix: the trained linear model's keep
    * decision (margin > 0) scored against the independent rule-based
    * quality gate (`q_text_quality`'s length/stopword thresholds) as
    * reference labels — the model-vs-rules agreement audit run before
    * swapping a heuristic filter for a learned one. TP/FP/FN/TN from
    * one conditional fold; precision/recall/accuracy/F1 in exact
    * integer fixed-point (×1e6, `nullif` guards the empty-class edge
    * identically in both engines). Two doc-level scans joined on
    * doc_id, one 1-row fold — nothing wider than the corpus scan. */
  /** (doc_id, gold) rule-based reference labels — the independent quality
    * gate the model is audited against (length band + stopword ratio),
    * shared by the confusion matrix and the ranking metrics below. */
  private[queries] def goldLabels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    Tables.documents(s, d)
      .select($"doc_id", size(toks).cast("long").as("n_tok"),
        size(filter(toks, t => t.isin(Stopwords: _*))).cast("long")
          .as("n_stop"))
      .select($"doc_id",
        ($"n_tok" >= 20 && $"n_tok" <= 1000 &&
          $"n_stop".cast("double") / $"n_tok".cast("double") < 0.2)
          .as("gold"))
  }

  private def evalConfusion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pred = margins(s, d).select($"doc_id", ($"margin" > 0).as("pred"))
    pred.join(goldLabels(s, d), "doc_id")
      .agg(
        sum(($"pred" && $"gold").cast("long")).as("tp"),
        sum(($"pred" && !$"gold").cast("long")).as("fp"),
        sum((!$"pred" && $"gold").cast("long")).as("fn"),
        sum((!$"pred" && !$"gold").cast("long")).as("tn"))
      .select($"tp", $"fp", $"fn", $"tn",
        expr("tp * 1000000 div nullif(tp + fp, 0)").as("precision_fp"),
        expr("tp * 1000000 div nullif(tp + fn, 0)").as("recall_fp"),
        expr("(tp + tn) * 1000000 div nullif(tp + fp + fn + tn, 0)")
          .as("accuracy_fp"),
        expr("2 * tp * 1000000 div nullif(2*tp + fp + fn, 0)").as("f1_fp"))
  }

  /** Threshold-free ranking quality of the linear model: exact ROC AUC of
    * the margin against the rule-based gold labels — Mann-Whitney U with
    * tie-aware ½ credit, AUC = P(m⁺ > m⁻) + ½·P(m⁺ = m⁻) over all
    * (positive, negative) document pairs.
    *
    * No global sort and no partitionless rank window: the corpus
    * collapses to per-margin (pos, neg) counts first (map-side combined;
    * |distinct margins| rows, bounded by the margin's integer range, not
    * the corpus), cumulative negatives-strictly-below come from a
    * broadcast non-equi self-join over that skinny relation (the
    * q_quantile_global move), and the DOUBLED pair credit
    * 2U = Σ_m pos_m · (2·negBelow_m + neg_m) rides DECIMAL(38,0) —
    * pair counts are Θ(n²) and clear int64 long before 100 TB.
    * auc_fp = 1e6·2U div (2·P·N): integer fixed-point end to end. */
  private def evalAuc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val byM = margins(s, d).join(goldLabels(s, d), "doc_id")
      .groupBy($"margin")
      .agg(sum($"gold".cast("long")).as("pos"),
        sum((!$"gold").cast("long")).as("neg"))
    val cum = byM.as("a")
      .join(broadcast(byM.as("b")), $"b.margin" < $"a.margin", "left")
      .groupBy($"a.margin", $"a.pos", $"a.neg")
      .agg(coalesce(sum($"b.neg"), lit(0L)).as("neg_below"))
    val tot = byM.agg(sum($"pos").as("n_pos"), sum($"neg").as("n_neg"))
    // pos is cast to DECIMAL(38,0) BEFORE the multiply (not after): a
    // single margin bucket's pair term pos·(2·negBelow+neg) is itself
    // Θ(n²) and would abort in int64 under ANSI long before the sum did
    // — the whole pair-count chain rides DECIMAL(38,0), not just the
    // final fold.
    cum.agg(sum($"pos".cast(d38) * (lit(2L) * $"neg_below" + $"neg"))
        .as("u2"))
      .crossJoin(broadcast(tot))
      .select($"n_pos", $"n_neg", $"u2".cast("long").as("pairs2"),
        expr("CAST((u2 * 1000000) div nullif(2 * n_pos * n_neg, 0) AS BIGINT)")
          .as("auc_fp"))
  }

  /** Reliability diagram for the linear model: fixed-width margin bins
    * (floor(margin / 100) via ONE correctly-rounded IEEE divide + floor,
    * identical cross-engine; margins ≪ 2^53) vs the observed gold rate
    * per bin — a calibrated ranker's gold rate rises with the bin. One
    * map-side-combined aggregation to a |bins|-sized output; rates and
    * means in ×1e6 integer fixed-point (div truncation is identical in
    * both engines, negative sums included). */
  private def evalCalibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    margins(s, d).join(goldLabels(s, d), "doc_id")
      .groupBy(floor($"margin" / 100.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum($"gold".cast("long")).as("n_gold"),
        sum($"margin").as("sum_margin"))
      .select($"bin", $"n", $"n_gold",
        expr("n_gold * 1000000 div n").as("gold_rate_fp"),
        expr("sum_margin * 1000000 div n").as("mean_margin_fp"))
      .orderBy($"bin")
  }

  private[queries] val NdcgK = 10
  /** Fixed-point DCG discounts w(i) = round(1e6 / log2(i+1)): ONE Scala
    * constant inlined into BOTH engine texts, so the libm log runs once
    * here at class init and never on an oracle path (the determinism
    * header's no-libm rule). */
  private[queries] val NdcgW: Seq[(Int, Long)] = (1 to NdcgK)
    .map(i => i -> math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
  /** Margin tiers for graded relevance (3 / 2 / 1 / 0). */
  private[queries] val RelHi = 100L
  private[queries] val RelMid = 0L
  private[queries] val RelLo = -100L

  /** NDCG@k (k = 1..[[NdcgK]]) of the BM25 ranking (its top-K=25
    * candidate list — positions beyond [[NdcgK]] never pass the
    * pos ≤ k gate, so this IS NDCG over the top-10) against graded
    * relevance from the quality margin — "does lexical retrieval surface
    * high-quality documents?", the eval counterpart to q_text_bm25 the
    * way q_eval_confusion audits q_quality_classifier.
    *
    * Every piece is K-bounded algebra over skinny relations: positions
    * via the collect_list → sort_array → posexplode fold on the ONE-row
    * K-bounded candidate list (as in searchRrf: a broadcast rank-count
    * self-join re-executes the ENTIRE bm25 subtree for both sides, so
    * the whole bm25 pass (0.44 s) is paid twice, and the fold itself is
    * cheaper than the self-join, 0.50 vs 0.61 s; sorting ascending on
    * (-bm25, doc_id) is the same total order as the rank-count
    * predicate), gains = rel ×
    * the fixed-point discount table, cumulative-k and the ideal list
    * from ≤10×10-row broadcast joins; the ideal relevances come from
    * global grade counts (4 rows), never a sorted corpus. The graded
    * relevance relation is CHECKPOINTED once: it has three consumers
    * (retrieved gains + both sides of the grade-count self-join), each
    * of which would re-run the classifier-inference scan (0.29 s × 3
    * uncheckpointed). ndcg_fp = 1e6·DCG@k div IDCG@k — exact integers end
    * to end. */
  private def evalNdcg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hits = Indexing.bm25(s, d).select($"doc_id", $"bm25")
    val pos = hits
      .agg(sort_array(collect_list(
        struct((-$"bm25").as("ns"), $"doc_id".as("id")))).as("xs"))
      .select(posexplode($"xs").as(Seq("i", "x")))
      .select($"x.id".as("doc_id"), ($"i" + 1).cast("int").as("pos"))
    val rels = margins(s, d).select($"doc_id",
      when($"margin" > RelHi, 3L).when($"margin" > RelMid, 2L)
        .when($"margin" > RelLo, 1L).otherwise(0L).as("rel"))
      .materialized
    val w = NdcgW.toDF("pos", "w")
    val gains = rels.join(broadcast(pos), "doc_id")
      .join(broadcast(w), "pos")
      .select($"pos", ($"rel" * $"w").as("g"))
    val ks = (1 to NdcgK).map(_.toLong).toDF("k")
    val dcg = ks.join(broadcast(gains), $"pos" <= $"k")
      .groupBy($"k").agg(sum($"g").as("dcg_fp"))
    val gcnt = rels.groupBy($"rel").agg(count(lit(1)).as("c"))
    val cntGe = gcnt.as("a")
      .join(broadcast(gcnt.as("b")), $"b.rel" >= $"a.rel")
      .groupBy($"a.rel").agg(sum($"b.c").as("c_ge"))
      .select($"rel", $"c_ge")
    val irel = ks.select($"k".cast("int").as("pos"))
      .join(broadcast(cntGe), $"c_ge" >= $"pos")
      .groupBy($"pos").agg(max($"rel").as("irel"))
    val idcg = ks.join(
        broadcast(irel.join(broadcast(w), "pos")
          .select($"pos", ($"irel" * $"w").as("g"))),
        $"pos" <= $"k")
      .groupBy($"k").agg(sum($"g").as("idcg_fp"))
    dcg.join(idcg, "k")
      .select($"k", $"dcg_fp", $"idcg_fp",
        expr("dcg_fp * 1000000 div nullif(idcg_fp, 0)").as("ndcg_fp"))
      .orderBy($"k")
  }

  private val HitK = 3 // prediction list depth for hit-rate@k

  /** Sequence-model evaluation: next-event prediction hit-rate@1/@3 —
    * the eval counterpart to `q_events_transitions`' Markov counts. The
    * "model" is the top-[[HitK]] next types per current type, trained on
    * every user transition EXCEPT each user's last one; that held-out
    * last transition is the eval set (leave-last-out, the sequence
    * analogue of the split-hygiene family — the eval target never
    * contributes to the counts that predict it). Hits are exact integer
    * counts per from-type; model rank ties break (count desc, type asc)
    * so the prediction list is total-ordered.
    *
    * Scale shape: ONE user-partitioned window pass builds all
    * transitions + the leave-out flag (the eval transition is the user's
    * last ⇔ the SECOND lead is null — same ordered frame, no extra count
    * window), and the pass is consumed ONCE: transitions collapse
    * immediately to per-(from, to) {train, eval} counts, so the model
    * ranking and the eval scoring both read the tiny |types|² relation
    * downstream of a reused exchange. Filtering the transition relation
    * twice (model side / eval side) instead would share only the
    * exchange BELOW the window, so the window's sort would run twice
    * (measured: the whole query ≈ 2× the window pass). Every user
    * contributes exactly one eval transition, so counting by (from, to)
    * is equivalent to a per-eval-row max over a join. */
  private def evalHitrate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ordered = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val counts = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("to_type", lead($"event_type", 1).over(ordered))
      // lead of a CONSTANT: null ⟺ past the partition end, NEVER a
      // present-but-NULL value — lead(event_type, 2) would misread a
      // user whose 3rd-from-last event has a NULL type as already at
      // the end and mislabel the eval transition (the generated corpora
      // are null-free, so only this form stays positionally identical
      // to the oracle's rn = n−1 on any data).
      .withColumn("is_eval", lead(lit(1), 2).over(ordered).isNull)
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(when(!$"is_eval", 1)).as("cnt"),
        count(when($"is_eval", 1)).as("n_eval"))
    val wRank = Window.partitionBy($"from_type")
      .orderBy($"cnt".desc, $"to_type".asc)
    // Rank ALL pairs in one window over the tiny counts relation — a
    // model-vs-eval split into two branches would consume `counts` twice
    // with different column pruning, duplicating the window pass's
    // exchange. Pairs seen only as someone's held-out last transition
    // (cnt = 0) sort after every trained pair, so "in the model's top-K"
    // is rk <= K AND cnt > 0 — a 0-count pair can hold a rank slot only
    // when fewer than K trained pairs exist, where it excludes itself
    // via the cnt guard and displaces nothing.
    counts
      .withColumn("rk", row_number().over(wRank))
      .filter($"n_eval" > 0)
      .groupBy($"from_type")
      .agg(sum($"n_eval").cast("long").as("n_eval"),
        sum(when($"rk" === 1 && $"cnt" > 0, $"n_eval").otherwise(0L))
          .cast("long").as("hits_at1"),
        sum(when($"rk" <= HitK && $"cnt" > 0, $"n_eval").otherwise(0L))
          .cast("long").as("hits_at3"))
      .orderBy($"from_type")
  }

  val queries: Map[String, Q] = Map(
    "q_eval_hitrate" -> evalHitrate,
    "q_quality_classifier" -> qualityClassifier,
    "q_dedup_keep_best" -> dedupKeepBest,
    "q_profile_corpus" -> profileCorpus,
    "q_eval_confusion" -> evalConfusion,
    "q_eval_auc" -> evalAuc,
    "q_eval_calibration" -> evalCalibration,
    "q_eval_ndcg" -> evalNdcg,
  )

  /** DuckDB fragment continuing after [[duckMarginCtes]]' `qm`: the gold
    * labels joined to the margin, ending in `lbl(doc_id, margin, gold)`. */
  private lazy val duckLabelCtes: String = {
    val stopList = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""gg AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(string_split(lower(text), ' '),
       |         t -> t IN $stopList)) AS BIGINT) AS n_stop
       |  FROM documents),
       |lbl AS (
       |  SELECT qm.doc_id, qm.margin,
       |    (gg.n_tok >= 20 AND gg.n_tok <= 1000 AND
       |     CAST(gg.n_stop AS DOUBLE) / CAST(gg.n_tok AS DOUBLE) < 0.2)
       |      AS gold
       |  FROM gg JOIN qm ON gg.doc_id = qm.doc_id)""".stripMargin
  }

  /** DuckDB fragment ending in `qm(doc_id, margin)` — the margin twin,
    * CTE names prefixed so it composes after [[Dedup.duckClusterCcCte]]
    * (which owns t/s/p/e/r/cc). */
  private[queries] lazy val duckMarginCtes: String = {
    val stopList = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    // Same model, weights inlined from the same ModelWeights constant.
    val wsum = ModelWeights
      .map { case (_, f, w) => s"($w)*$f" }.mkString(" + ")
    s"""qf AS (
       |  SELECT doc_id, n_chars, string_split(lower(text), ' ') toks
       |  FROM documents
       |), qc AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tok,
       |    CAST(len(list_filter(toks, t -> t IN $stopList)) AS BIGINT)
       |      AS n_stop,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |    n_chars
       |  FROM qf
       |), qm AS (
       |  SELECT doc_id, CAST($ModelBias + $wsum AS BIGINT) AS margin
       |  FROM qc)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_eval_hitrate" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER w AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n,
         |    lead(event_type) OVER w AS to_type
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |tr AS (
         |  SELECT user_id, event_type AS from_type, to_type,
         |    rn = n - 1 AS is_eval
         |  FROM e WHERE to_type IS NOT NULL),
         |model AS (
         |  SELECT from_type, pred_type, rk FROM (
         |    SELECT from_type, to_type AS pred_type,
         |      row_number() OVER (PARTITION BY from_type
         |        ORDER BY cnt DESC, to_type) AS rk
         |    FROM (SELECT from_type, to_type, COUNT(*) AS cnt FROM tr
         |          WHERE NOT is_eval GROUP BY 1, 2))
         |  WHERE rk <= $HitK),
         |j AS (
         |  SELECT ev.from_type, ev.user_id,
         |    MAX(CASE WHEN m.pred_type = ev.to_type AND m.rk = 1
         |      THEN 1 ELSE 0 END) AS h1,
         |    MAX(CASE WHEN m.pred_type = ev.to_type THEN 1 ELSE 0 END) AS h3
         |  FROM (SELECT user_id, from_type, to_type FROM tr WHERE is_eval) ev
         |  LEFT JOIN model m USING (from_type)
         |  GROUP BY 1, 2)
         |SELECT from_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(h1) AS BIGINT) AS hits_at1,
         |  CAST(SUM(h3) AS BIGINT) AS hits_at3
         |FROM j GROUP BY from_type ORDER BY from_type""".stripMargin,
    "q_quality_classifier" ->
      s"""WITH $duckMarginCtes
         |SELECT doc_id, margin, margin > 0 AS keep
         |FROM qm ORDER BY doc_id""".stripMargin,
    "q_profile_corpus" ->
      s"""WITH $duckMarginCtes,
         |b AS (
         |  SELECT d.doc_id, d.source,
         |    CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS n_tok,
         |    CASE WHEN ${TextAnalysis.duckSplitH} < ${TextAnalysis.TrainCut}
         |           THEN 'train'
         |         WHEN ${TextAnalysis.duckSplitH} < ${TextAnalysis.ValCut}
         |           THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents d)
         |SELECT b.source, COUNT(*) AS n_docs,
         |  CAST(SUM(b.n_tok) AS BIGINT) AS n_tokens,
         |  COUNT(*) FILTER (qm.margin > 0) AS n_keep,
         |  CAST(SUM(qm.margin) AS BIGINT) AS sum_margin,
         |  COUNT(*) FILTER (b.split = 'train') AS n_train,
         |  COUNT(*) FILTER (b.split = 'val') AS n_val,
         |  COUNT(*) FILTER (b.split = 'test') AS n_test
         |FROM b JOIN qm ON qm.doc_id = b.doc_id
         |GROUP BY b.source ORDER BY b.source""".stripMargin,
    "q_dedup_keep_best" ->
      s"""${Dedup.duckClusterCcCte},
         |$duckMarginCtes,
         |ranked AS (
         |  SELECT cc.rep_id, cc.id AS doc_id, qm.margin,
         |    COUNT(*) OVER (PARTITION BY cc.rep_id) AS cluster_size,
         |    ROW_NUMBER() OVER (PARTITION BY cc.rep_id
         |      ORDER BY qm.margin DESC, cc.id) AS rn
         |  FROM cc JOIN qm ON qm.doc_id = cc.id)
         |SELECT rep_id, doc_id AS best_doc, margin AS best_margin,
         |  cluster_size
         |FROM ranked WHERE rn = 1 ORDER BY rep_id""".stripMargin,
    "q_eval_auc" ->
      s"""WITH $duckMarginCtes,
         |$duckLabelCtes,
         |bym AS (
         |  SELECT margin,
         |    CAST(SUM(CAST(gold AS BIGINT)) AS BIGINT) AS pos,
         |    CAST(SUM(CAST(NOT gold AS BIGINT)) AS BIGINT) AS neg
         |  FROM lbl GROUP BY margin),
         |cum AS (
         |  SELECT a.margin, a.pos, a.neg,
         |    COALESCE(CAST(SUM(b.neg) AS BIGINT), 0) AS neg_below
         |  FROM bym a LEFT JOIN bym b ON b.margin < a.margin
         |  GROUP BY a.margin, a.pos, a.neg),
         |tot AS (
         |  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         |    CAST(SUM(neg) AS BIGINT) AS n_neg FROM bym),
         |u AS (
         |  SELECT SUM(CAST(pos AS HUGEINT) * (2 * neg_below + neg)) AS u2
         |  FROM cum)
         |SELECT tot.n_pos, tot.n_neg, CAST(u.u2 AS BIGINT) AS pairs2,
         |  CAST((u.u2 * 1000000) // nullif(2 * tot.n_pos * tot.n_neg, 0)
         |    AS BIGINT) AS auc_fp
         |FROM u CROSS JOIN tot""".stripMargin,
    "q_eval_calibration" ->
      s"""WITH $duckMarginCtes,
         |$duckLabelCtes,
         |b AS (
         |  SELECT CAST(floor(margin / 100.0) AS BIGINT) AS bin,
         |    COUNT(*) AS n,
         |    CAST(SUM(CAST(gold AS BIGINT)) AS BIGINT) AS n_gold,
         |    CAST(SUM(margin) AS BIGINT) AS sum_margin
         |  FROM lbl GROUP BY 1)
         |SELECT bin, n, n_gold,
         |  n_gold * 1000000 // n AS gold_rate_fp,
         |  sum_margin * 1000000 // n AS mean_margin_fp
         |FROM b ORDER BY bin""".stripMargin,
    "q_eval_ndcg" -> {
      val wVals = NdcgW.map { case (i, wv) => s"($i, ${wv}::BIGINT)" }
        .mkString(", ")
      s"""${Indexing.bm25ScoredCtes},
         |$duckMarginCtes,
         |top10 AS (
         |  SELECT doc_id, ${graft.queries.Catalog.dsumSql("addend")} AS bm25
         |  FROM scored GROUP BY doc_id
         |  ORDER BY bm25 DESC, doc_id LIMIT $NdcgK),
         |pos AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
         |      AS pos
         |  FROM top10),
         |rels AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN margin > $RelHi THEN 3
         |              WHEN margin > $RelMid THEN 2
         |              WHEN margin > $RelLo THEN 1 ELSE 0 END AS BIGINT)
         |      AS rel
         |  FROM qm),
         |w(pos, w) AS (VALUES $wVals),
         |gains AS (
         |  SELECT p.pos, r.rel * w.w AS g
         |  FROM pos p JOIN rels r USING (doc_id) JOIN w ON w.pos = p.pos),
         |ks AS (SELECT CAST(unnest(range(1, ${NdcgK + 1})) AS BIGINT) AS k),
         |dcg AS (
         |  SELECT k, CAST(SUM(g) AS BIGINT) AS dcg_fp
         |  FROM ks JOIN gains ON gains.pos <= ks.k GROUP BY k),
         |gcnt AS (SELECT rel, COUNT(*) AS c FROM rels GROUP BY rel),
         |cntge AS (
         |  SELECT a.rel, CAST(SUM(b.c) AS BIGINT) AS c_ge
         |  FROM gcnt a JOIN gcnt b ON b.rel >= a.rel GROUP BY a.rel),
         |irel AS (
         |  SELECT k AS pos, MAX(rel) AS irel
         |  FROM ks JOIN cntge ON c_ge >= k GROUP BY k),
         |idcg AS (
         |  SELECT k, CAST(SUM(i.irel * w.w) AS BIGINT) AS idcg_fp
         |  FROM ks JOIN irel i ON i.pos <= ks.k JOIN w ON w.pos = i.pos
         |  GROUP BY k)
         |SELECT dcg.k, dcg_fp, idcg_fp,
         |  dcg_fp * 1000000 // nullif(idcg_fp, 0) AS ndcg_fp
         |FROM dcg JOIN idcg USING (k) ORDER BY k""".stripMargin
    },
    "q_eval_confusion" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH $duckMarginCtes,
         |g AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |         t -> t IN $stopList)) AS BIGINT) AS n_stop
         |  FROM documents),
         |lbl AS (
         |  SELECT g.doc_id, qm.margin > 0 AS pred,
         |    (g.n_tok >= 20 AND g.n_tok <= 1000 AND
         |     CAST(g.n_stop AS DOUBLE) / CAST(g.n_tok AS DOUBLE) < 0.2)
         |      AS gold
         |  FROM g JOIN qm ON g.doc_id = qm.doc_id),
         |m AS (
         |  SELECT
         |    CAST(SUM(CAST(pred AND gold AS BIGINT)) AS BIGINT) AS tp,
         |    CAST(SUM(CAST(pred AND NOT gold AS BIGINT)) AS BIGINT) AS fp,
         |    CAST(SUM(CAST(NOT pred AND gold AS BIGINT)) AS BIGINT) AS fn,
         |    CAST(SUM(CAST(NOT pred AND NOT gold AS BIGINT)) AS BIGINT)
         |      AS tn
         |  FROM lbl)
         |SELECT tp, fp, fn, tn,
         |  tp * 1000000 // nullif(tp + fp, 0) AS precision_fp,
         |  tp * 1000000 // nullif(tp + fn, 0) AS recall_fp,
         |  (tp + tn) * 1000000 // nullif(tp + fp + fn + tn, 0)
         |    AS accuracy_fp,
         |  2 * tp * 1000000 // nullif(2*tp + fp + fn, 0) AS f1_fp
         |FROM m""".stripMargin
    },
  )
}
