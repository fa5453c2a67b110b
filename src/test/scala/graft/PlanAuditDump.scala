package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan tool for [[PlanAuditSpec]], in the spec's own session settings
  * (local[4], 4 shuffle partitions, AQE off).
  *
  *  - No arguments: the budget diff, at sf0.001 like the spec. Prints
  *    every catalog query whose OBSERVED static-plan exchange count sits
  *    below its audited budget (candidates for tightening) or above it
  *    (regressions the spec will fail).
  *    `sbt "Test/runMain graft.PlanAuditDump"`
  *  - Query names: prints their formatted physical plans over the sf dir
  *    in `SPARK_GRAFT_SF_DIR` (default sf0.001); broadcast and join
  *    choices depend on scale, so set it to the scale under study.
  *    `SPARK_GRAFT_SF_DIR=<sf dir> sbt "Test/runMain graft.PlanAuditDump q_join_star q_join_dpp"`
  */
object PlanAuditDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(4, "spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val sf0001 = "/root/testdata/sf0.001"
    def plan(name: String, d: String) =
      SparkEntry.queries(name)(spark, d).queryExecution
    if (args.nonEmpty) {
      val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sf0001)
      args.foreach { name =>
        println(s"\n================ $name @ $d ================")
        println(plan(name, d).explainString(ExplainMode.fromString("formatted")))
      }
    } else {
      val budgets = PlanAuditSpec.baseline
      SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
        val observed = plan(name, sf0001).executedPlan
          .collectWithSubqueries { case e: ShuffleExchangeExec => e }.size
        val b = budgets.getOrElse(name, -1)
        if (observed != b) println(s"AUDIT $name observed=$observed budget=$b")
      }
      println("AUDIT done")
    }
    spark.stop()
  }
}
