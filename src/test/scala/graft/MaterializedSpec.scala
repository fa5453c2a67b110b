package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.queries.{Dedup, Materialized}

/** The precomputed-artifact paths must return byte-identical results to
  * their from-scratch twins, and their plans must actually use the
  * artifact: candidate generation off the band parquet with a single
  * corpus scan (verify only), and the IVF probe against the
  * cell-partitioned inverted file. */
class MaterializedSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def q(name: String) =
    SparkEntry.queries(name)(spark, Sf0001)

  /** Root paths of every file scan in the executed plan, subqueries
    * included. Matched as paths, not in the plan string, which Spark
    * cuts at `spark.sql.maxMetadataStringLength` characters. A cached
    * relation counts with the scans of its cached plan: a disk-mode
    * checkpoint left in the shared session's cache by another suite
    * can stand in for a whole subplan. */
  private def scanRoots(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      case m: InMemoryTableScanExec => scanRoots(m.relation.cachedPlan)
    }.flatten

  private def scanRoots(df: DataFrame): Seq[String] =
    scanRoots(df.queryExecution.executedPlan)

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    // Force a fresh build of the four artifacts, so the twins below
    // check the current build code, not a directory an earlier build
    // left under the same key (the key covers the logic descriptor and
    // the input, not the builder's code).
    Seq("minhash_bands_", "ivf_cells_", "sym_edges_", "oriented_adj_")
      .foreach(deleteArtifacts)
  }

  private val twins = Seq(
    "q_dedup_jaccard_pre" -> "q_dedup_jaccard",
    "q_ann_ivf_pre" -> "q_ann_ivf",
    "q_graph_pagerank_pre" -> "q_graph_pagerank",
    "q_graph_reachability_pre" -> "q_graph_reachability",
    "q_graph_triangles_pre" -> "q_graph_triangles")

  for ((pre, fresh) <- twins)
    test(s"$pre equals the from-scratch query") {
      val want = q(fresh).collect().map(_.toSeq).toSeq
      val got = q(pre).collect().map(_.toSeq).toSeq
      assert(got == want)
      assert(got.nonEmpty)
    }

  test("precomputed dedup plan drops the signature-building corpus scan") {
    // The candidate stream is checkpointed inside verifyJaccard, so the
    // FINAL executed plan of both twins starts at a Scan ExistingRDD;
    // the artifact-vs-re-derive distinction lives in the candidate
    // pipeline's own plan, which is what this pin inspects.
    val preRoots = scanRoots(Dedup.bandCandidates(
      spark.read.parquet(Materialized.buildMinhashBands(spark, Sf0001))))
    assert(preRoots.exists(_.contains("minhash_bands")),
      s"candidates must read the artifact: $preRoots")
    assert(!preRoots.exists(_.contains("documents.parquet")),
      "precomputed candidates must not scan the corpus (no re-shingle, " +
        s"no re-hash): $preRoots")
    val freshRoots =
      scanRoots(Dedup.bandCandidates(Dedup.bandTable(spark, Sf0001)))
    assert(freshRoots.exists(_.contains("documents.parquet")),
      "from-scratch candidates pay the signature corpus scan the " +
        s"artifact path drops: $freshRoots")
  }

  test("IVF artifact is cell-partitioned and the probe prunes it") {
    // Build (or reuse) the artifact first: run in isolation, beforeAll has
    // just deleted it and listFiles() on the bare path would NPE.
    val root = new java.io.File(Materialized.buildIvfCells(spark, Sf0001))
    val cellDirs = root.listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "inverted file must be partitioned by cell")
    val df = q("q_ann_ivf_pre")
    assert(scanRoots(df).exists(_.contains("ivf_cells")),
      "probe must read the artifact")
    // Broadcast probe side => dynamic partition pruning on the cell dirs.
    assert(df.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "expected dynamic partition pruning of unprobed cells")
  }
}
