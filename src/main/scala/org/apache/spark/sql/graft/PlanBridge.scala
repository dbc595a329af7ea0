package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution

/** Narrow bridge into `private[sql]` plan constructors.
  *
  * Building a DataFrame from a hand-constructed LogicalPlan requires
  * `Dataset.ofRows`, which Spark scopes to its own `sql` package — the
  * same access pattern every plan-extending library uses (Delta, Sedona,
  * Pathling's SqlStrategy setup). Everything else in graft goes through
  * the public API; only plan-node construction, running a frame's
  * already-built plan and the listener-bus drain pass through here.
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

  /** Plan a DataFrame without running it: optimizes it and builds its
    * physical plan, which [[foreachPartition]] then runs as is. Starts
    * no Spark job.
    */
  def plan(df: org.apache.spark.sql.DataFrame): Unit = {
    df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan: Unit
  }

  /** Run `f` over every partition of the DataFrame's own physical plan,
    * as one SQL execution. `Dataset.foreachPartition` instead analyzes,
    * optimizes and plans a second, deserializing query; this one runs
    * the plan [[plan]] may already have built and hands `f` the
    * internal rows.
    */
  def foreachPartition(df: org.apache.spark.sql.DataFrame,
      f: Iterator[InternalRow] => Unit): Unit = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition")) {
      qe.toRdd.foreachPartition(f)
    }
  }

  /** Block until every listener has seen every event posted so far:
    * Spark delivers listener events asynchronously and scopes the
    * drain to its own package.
    */
  def settleListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
