package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The session library code plans in when it needs settings or optimizer
  * rules its caller did not choose: a clone of the caller's session
  * (`cloneSession`, so the caller's runtime settings, temp views, functions
  * and rules carry over, on the same SparkContext) with `conf` set and
  * `rules` added to its user-provided optimizer batch, where a rule added
  * through `experimental` runs (one the clone already carries is not added
  * again). A frame built on the returned session plans there, whoever runs
  * it. The caller's session is never written, so two overlapping calls
  * cannot restore each other's values the way two save/set/restore scopes
  * on one shared session do.
  */
object IsolatedSession {
  def apply(spark: SparkSession, conf: Map[String, String] = Map.empty,
      rules: Seq[Rule[LogicalPlan]] = Nil): SparkSession = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s.experimental.extraOptimizations ++=
      rules.filterNot(s.experimental.extraOptimizations.contains)
    s
  }
}
