package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Narrow bridge into `private[sql]` plan constructors.
  *
  * Building a DataFrame from a hand-constructed LogicalPlan requires
  * `Dataset.ofRows`, which Spark scopes to its own `sql` package — the
  * same access pattern every plan-extending library uses (Delta, Sedona,
  * Pathling's SqlStrategy setup). Everything else in graft goes through
  * the public API; only plan-node construction and the listener-bus
  * drain pass through here.
  */
object PlanBridge {

  /** Wrap an (already resolved) logical plan as a DataFrame; runs the
    * full analyzer/optimizer/planner on collection, so injected
    * strategies see the node.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed (pre-optimizer) plan of a DataFrame — stable
    * attributes for stitching into a custom node.
    */
  def analyzed(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Block until every listener has seen every event posted so far:
    * Spark delivers listener events asynchronously and scopes the
    * drain to its own package.
    */
  def settleListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
