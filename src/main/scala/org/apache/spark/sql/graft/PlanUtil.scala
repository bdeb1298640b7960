package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `org.apache.spark`-private session and plan wiring.
  *
  * `Dataset.ofRows` and `SparkSession.cloneSession` are `private[sql]`
  * in Spark 4, and the listener bus is `private[spark]`; a custom plan
  * transform (graft.plans.AggRewrite) needs the first, per-query conf
  * overrides (graft.Sessions.withConf) the second, and the probe main
  * (graft.tools.Probe) the third. The standard extension-library
  * pattern: one accessor each in the sql namespace, nothing else lives
  * here.
  */
object PlanUtil {
  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** A session over the same SparkContext and shared state that starts
    * from a copy of the caller's runtime conf, temp views and
    * query-execution listeners; conf set on it never reaches the
    * caller. */
  def cloneSession(spark: SparkSession): SparkSession = classic(spark).cloneSession()

  /** Block until every event posted so far has reached the listeners. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
