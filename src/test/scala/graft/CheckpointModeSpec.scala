package graft

import graft.core.{Checkpoints, Sessions}

/** The `graft.checkpoint.mode` session flag (core/Checkpoints.scala):
  * `local` (default, eager localCheckpoint — lineage truncated, the
  * single-JVM choice) vs `disk` (eager persist(DISK_ONLY) — lineage
  * preserved, so a lost executor's blocks recompute; the cluster
  * fault-tolerance default) vs `reliable` (checkpoint() to the
  * checkpoint dir — blocks survive executor AND node loss).
  *
  * The contract under test: the mode changes WHERE the materialized
  * blocks live and whether lineage survives, never the result — the
  * heaviest checkpoint-consuming queries must be byte-identical across
  * modes. */
class CheckpointModeSpec extends SparkTestBase {

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, Sf0001).collect().toSeq.map(_.toString)

  private def withMode[A](mode: String)(body: => A): A = {
    spark.conf.set(Checkpoints.ModeKey, mode)
    try body finally spark.conf.unset(Checkpoints.ModeKey)
  }

  test("disk mode: heaviest graph queries byte-identical to local mode") {
    // q_graph_triangles materializes the oriented edge set 4-way reused;
    // q_dedup_cluster runs the driver-coordinated CC loop over
    // checkpointed rounds — the two shapes most entangled with
    // materialization semantics (eagerness, partitioning preservation).
    val local = Seq("q_graph_triangles", "q_dedup_cluster").map(rows)
    val disk = withMode("disk") {
      Seq("q_graph_triangles", "q_dedup_cluster").map(rows)
    }
    assert(disk == local, "disk checkpoint mode changed query results")
    // Drop the disk blocks and their cache-manager entries, or later
    // suites' plans read these relations in place of their own.
    Sessions.release(spark)
  }

  test("Sessions.release leaves no disk-mode entry in the cache manager") {
    withMode("disk") { rows("q_graph_triangles") }
    assert(!spark.sharedState.cacheManager.isEmpty,
      "disk mode should persist through the cache manager")
    Sessions.release(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("reliable mode: checkpointed pagerank byte-identical to local") {
    val local = rows("q_graph_pagerank")
    val reliable = withMode("reliable") { rows("q_graph_pagerank") }
    assert(reliable == local, "reliable checkpoint mode changed results")
    assert(spark.sparkContext.getCheckpointDir.isDefined,
      "reliable mode must establish a checkpoint dir")
  }

  test("unknown mode fails loudly") {
    val e = intercept[IllegalArgumentException] {
      withMode("ramdisk") { rows("q_graph_pagerank") }
    }
    assert(e.getMessage.contains(Checkpoints.ModeKey))
  }
}
