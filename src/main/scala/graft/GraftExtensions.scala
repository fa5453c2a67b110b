package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.GraftSqlFunctions

/** Session-extension entry point: registers the native graft expressions
  * under SQL names ([[org.apache.spark.sql.graft.GraftSqlFunctions]]),
  * the [[graft.plans.LevenshteinThresholdRule]] optimizer rewrite
  * (literal edit-distance bounds push into the banded DP form), and the
  * [[org.apache.spark.sql.graft.AsOfJoinStrategy]] planner strategy for
  * the native as-of join operator.
  *
  * Cluster usage — no driver code required:
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  * or programmatically through [[graft.core.Sessions.local]], which also
  * sets the conf the oracle gate runs under.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSqlFunctions.descriptions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsOfJoinStrategy)
  }
}
