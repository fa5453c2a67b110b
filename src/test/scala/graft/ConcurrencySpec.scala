package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Determinism under concurrent execution — the production property the
  * per-query gates can't see: many catalog queries sharing ONE
  * SparkSession (a multi-tenant driver, a notebook server, the HTTP
  * shim's thread pool) must each return exactly what they return when
  * run alone. Hash-determinism is already engineered per query (salted
  * content hashes, total orders, exact arithmetic); this pins that no
  * shared-session state — registry init, broadcast reuse, AQE stats,
  * the fixture caches in Sources — leaks across concurrently planning
  * and executing queries. */
class ConcurrencySpec extends SparkTestBase {

  // A cross-section of plan shapes: windows, joins, iterative graph
  // fold, mapPartitions codec stage, KV connector, SQL-registered
  // native expressions, and the memoized partitioned-mirror fixture.
  private val names = Seq(
    "q_agg_pricing", "q_topk_per_group", "q_dedup_exact",
    "q_multimodal_audio", "q_curriculum_order", "q_compact_plan",
    "q_backfill_plan", "q_text_dupspans", "q_sql_extensions",
    "q_latest_partition", "q_graph_pagerank_pre", "q_kv_lookup")

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, Sf0001).collect().toSeq.map(_.toString)

  test("12 concurrent catalog queries equal their sequential runs") {
    val sequential = names.map(n => n -> rows(n)).toMap
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(names.size))
    val concurrent = Await.result(
      Future.sequence(names.map(n => Future(n -> rows(n)))), 5.minutes)
    concurrent.foreach { case (n, got) =>
      assert(got == sequential(n), s"$n diverged under concurrency")
    }
  }

  test("triangles interleaved with q_join_bloom: no session-conf delta") {
    // r12 finding: q_graph_triangles raised the session-wide runtime
    // bloom caps and never restored them — a cross-query side effect on
    // any shared session. Now the triangle bloom is graft's conf-free
    // bloom_agg_exact; pin (a) the interleaving is value-stable and (b)
    // NO session conf differs after the pair runs, in either order.
    val confKeys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    def confSnapshot(): Map[String, String] =
      confKeys.map(k => k -> spark.conf.getOption(k).getOrElse("<unset>")).toMap
    val before = confSnapshot()
    val bloomAlone = rows("q_join_bloom")
    val triAlone = rows("q_graph_triangles")
    assert(confSnapshot() == before,
      "sequential triangles/bloom run mutated session conf")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val interleaved = Await.result(Future.sequence(Seq(
      Future(rows("q_graph_triangles")), Future(rows("q_join_bloom")),
      Future(rows("q_graph_triangles")), Future(rows("q_join_bloom")))),
      5.minutes)
    assert(interleaved(0) == triAlone && interleaved(2) == triAlone,
      "q_graph_triangles diverged when interleaved with q_join_bloom")
    assert(interleaved(1) == bloomAlone && interleaved(3) == bloomAlone,
      "q_join_bloom diverged when interleaved with q_graph_triangles")
    assert(confSnapshot() == before,
      "interleaved triangles/bloom run left a session-conf delta")
  }

  test("graph twins racing on a missing sym_edges artifact build it once") {
    // q_graph_pagerank_pre and q_graph_reachability_pre read ONE
    // artifact; two first calls must not both overwrite its directory.
    val twins = Seq("q_graph_pagerank_pre", "q_graph_reachability_pre")
    val sequential = twins.map(n => n -> rows(n)).toMap
    deleteArtifacts("sym_edges_")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val concurrent = Await.result(
      Future.sequence((twins ++ twins).map(n => Future(n -> rows(n)))),
      5.minutes)
    concurrent.foreach { case (n, got) =>
      assert(got == sequential(n), s"$n diverged under a racing build")
    }
  }

  test("the same query racing itself 8-ways stays deterministic") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val racers = Await.result(
      Future.sequence((1 to 8).map(_ => Future(rows("q_sample_stratified")))),
      5.minutes)
    assert(racers.distinct.size == 1,
      "q_sample_stratified returned different results across racing runs")
  }
}
