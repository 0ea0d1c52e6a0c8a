package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to Spark's private surface. Lives in
  * org.apache.spark.sql by design — the standard extension-jar technique.
  * It touches three things: the Dataset constructor, so graft's custom
  * logical operators (e.g. TopKPerKey) can surface as DataFrames; the
  * Column-to-Expression resolver; and Spark's shutdown-delete registry,
  * for [[graft.Engine.tempDir]]. Nothing else is touched. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Resolve a user-facing Column to its catalyst Expression. */
  def expression(spark: SparkSession, c: Column): catalyst.expressions.Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Deletes `dir` when the JVM exits, from Spark's temp-dir shutdown hook.
    * That hook runs after Spark's SparkContext-stop hook, so every stream
    * and task has stopped writing into `dir` when it goes; a plain JVM
    * shutdown hook would run concurrently with that stop. */
  def deleteAtExit(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)
}
