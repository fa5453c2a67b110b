package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two pure halves of [[Bench]]'s output contract: how a full
  * run reads a child JVM's detail line, and the bounded summary line. No
  * SparkSession needed. */
class BenchSpec extends AnyFunSuite {

  private val chunk = Seq("q_a", "q_b", "q_c")

  // The shape a filtered run writes to SPARK_GRAFT_BENCH_DETAIL_OUT.
  private def childLine(queries: String, errors: String): String =
    s"""{"metric":"total","value":1.5,"unit":"sec","queries":{$queries},"errors":{$errors},"runs":3,"selection":"median-of-3-runs","floor_sec":0.0625,"chunk_floors":[],"sentinel":{"anchor":"q_agg_corr","floor_start":-1.0,"anchor_start":-1.0,"floor_end":0.0625,"anchor_end":-1.0},"sf":"/data/sf0.001"}"""

  test("a child line with timings and an error parses into both maps") {
    val line = childLine(""""q_a":0.5,"q_c":1.0E-3""",
      """"q_b":"[TABLE_OR_VIEW_NOT_FOUND] documents.parquet {path}"""")
    val r = Bench.parseChild(line, chunk)
    assert(r.isDefined, "an errors entry must count as reported, not missing")
    assert(r.get.times == Map("q_a" -> 0.5, "q_c" -> 0.001))
    assert(r.get.errors ==
      Map("q_b" -> "[TABLE_OR_VIEW_NOT_FOUND] documents.parquet {path}"))
    assert(r.get.floorSec == 0.0625)
  }

  test("a child line missing a chunk member without an error for it is None") {
    val line = childLine(""""q_a":0.5,"q_c":1.0""", "")
    assert(Bench.parseChild(line, chunk).isEmpty)
    assert(Bench.parseChild(childLine(""""q_a":0.5""", """"q_c":"boom""""),
      chunk).isEmpty)
  }

  test("the summary line for 225 queries is valid JSON within 1.7 kB") {
    val results = (1 to 225).map(i => f"q_synthetic_query_$i%03d" -> i * 0.137)
    val line = Bench.summaryLine(results, Seq("q_x" -> "boom"), 3, "/data/sf0.1")
    assert(line.getBytes("UTF-8").length <= 1700, s"${line.length} bytes")
    val json = new ObjectMapper().readTree(line)
    val kept = json.get("queries").size
    assert(kept > 0 && kept < 225, s"kept $kept")
    assert(json.get("n_queries").asInt == 225)
    assert(kept + json.get("omitted").asInt == json.get("n_queries").asInt)
    assert(json.get("errors").get("q_x").asText == "boom")
    // Slowest first: the largest synthetic time is among the kept entries.
    assert(json.get("queries").has("q_synthetic_query_225"))
  }

  test("63 long errors still leave the summary line within 1.7 kB") {
    val results = (1 to 225).map(i => f"q_synthetic_query_$i%03d" -> i * 0.137)
    // A failed query leaves the results; its error takes up to 120 chars.
    val errors = (1 to 63).map(i => f"q_failed_query_$i%03d" ->
      ("[PATH_NOT_FOUND] Path does not exist: file:/data/sf0.1/documents" +
        ".parquet " + "x" * 60).take(120))
    val line = Bench.summaryLine(results.drop(63), errors, 3, "/data/sf0.1")
    assert(line.getBytes("UTF-8").length <= 1700, s"${line.length} bytes")
    val json = new ObjectMapper().readTree(line)
    val keptQ = json.get("queries").size
    val keptE = json.get("errors").size
    assert(keptQ > 0 && keptE > 0, s"kept $keptQ queries, $keptE errors")
    assert(keptQ + json.get("omitted").asInt == 162)
    assert(json.get("n_queries").asInt == 162)
    assert(keptE + json.get("errors_omitted").asInt == 63)
  }
}
