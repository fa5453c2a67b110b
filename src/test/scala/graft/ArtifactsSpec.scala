package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.core.Artifacts

/** Artifacts and Sources fixtures are keyed on their input tables: a
  * table rewritten at the same path rebuilds what was derived from it, so
  * every `_pre` query keeps returning its from-scratch twin's rows, and an
  * unchanged input keeps reusing its directory. */
class ArtifactsSpec extends SparkTestBase {

  private def rows(name: String, d: String): Seq[Seq[Any]] =
    SparkEntry.queries(name)(spark, d).collect().map(_.toSeq).toSeq

  private def dirs(d: String, name: String): Seq[File] =
    Option(new File(Artifacts.sfRoot(d)).listFiles()).toSeq.flatten
      .filter(_.getName.matches(s"${name}_[0-9a-f]{8}"))

  test("tables rewritten in place rebuild the artifacts derived from them") {
    val twins = Seq(
      "q_graph_pagerank_pre" -> "q_graph_pagerank",
      "q_dedup_jaccard_pre" -> "q_dedup_jaccard")
    val d = Files.createTempDirectory("graft_regen").toString
    def checkTwins(when: String): Seq[Seq[Seq[Any]]] = twins.map {
      case (pre, fresh) =>
        val want = rows(fresh, d)
        assert(rows(pre, d) == want, s"$pre differs from $fresh $when")
        want
    }
    try {
      Seq("lineitem", "documents").foreach { t =>
        Files.copy(Paths.get(Sf0001, s"$t.parquet"), Paths.get(d, s"$t.parquet"))
      }
      val before = checkTwins("on the copied tables")

      // Drop a third of the orders.
      spark.read.parquet(s"$Sf0001/lineitem.parquet")
        .filter(col("l_orderkey") % 3 =!= 0)
        .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      // Copy the longest document's text onto the first other document:
      // an exact duplicate pair that did not exist before.
      val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      val longest = docs.orderBy(length(col("text")).desc, col("doc_id")).head
      val target = docs.filter(col("doc_id") =!= longest.getAs[Any]("doc_id"))
        .orderBy(col("doc_id")).head.getAs[Any]("doc_id")
      docs.withColumn("text", when(col("doc_id") === lit(target),
          lit(longest.getAs[String]("text"))).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$d/documents.parquet")

      val after = checkTwins("after the rewrite")
      twins.zip(before.zip(after)).foreach { case ((_, fresh), (b, a)) =>
        assert(a != b, s"the rewrite left $fresh unchanged")
      }
      // The superseded keys were pruned when their replacements built.
      Seq("sym_edges", "minhash_bands").foreach { name =>
        assert(dirs(d, name).size == 1, s"$name: ${dirs(d, name)}")
      }
    } finally {
      FileUtils.deleteQuietly(new File(d))
      FileUtils.deleteQuietly(new File(Artifacts.sfRoot(d)))
    }
  }

  test("an unchanged input reuses its Sources fixture directory") {
    def fixtures() = dirs(Sf0001, "orders_nested")
      .map(f => f.getName -> new File(f, "_SUCCESS").lastModified)
    val want = rows("q_nested_pruning", Sf0001)
    val first = fixtures()
    assert(first.size == 1, s"fixtures: $first")
    assert(rows("q_nested_pruning", Sf0001) == want)
    assert(fixtures() == first, "the fixture was laid out again")
  }
}
