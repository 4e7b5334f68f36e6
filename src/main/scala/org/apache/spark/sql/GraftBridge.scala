package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Dataset factory so graft's custom
  * logical plans (graft.plans.DistinctOnPlan et al.) can be wrapped
  * back into a DataFrame. This is the standard extension-library
  * pattern for plugging custom Catalyst nodes into the public API
  * surface — the only member accessed is Dataset.ofRows.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A child of `spark` that starts from its conf, temp views and
    * query listeners but owns its conf (`StreamExecution` isolates
    * every running query this way). The caller's streaming listeners
    * are attached too, so queries started in the child stay
    * observable. A session's streaming listener bus joins the
    * SparkContext's bus for good; it leaves with the child through
    * the ContextCleaner, as Spark's own execution listener bus does. */
  def cloneSession(spark: SparkSession): SparkSession = {
    val child = spark.asInstanceOf[classic.SparkSession].cloneSession()
    val streams = child.streams
    val bus = classOf[classic.StreamingQueryManager]
      .getDeclaredField("listenerBus")
    bus.setAccessible(true)
    child.sparkContext.cleaner.foreach(_.registerSparkListenerForCleanup(
      streams, bus.get(streams)
        .asInstanceOf[org.apache.spark.scheduler.SparkListener]))
    spark.streams.listListeners().foreach(streams.addListener)
    child
  }

  /** Explain `plan` WITHOUT executing it: Dataset.ofRows runs
    * command nodes eagerly (CommandExecutionMode.ALL), so explaining
    * a side-effecting statement (GRAFT NATIVE, INDEX, ...) through it
    * would execute the side effect just to print the plan. SKIP mode
    * renders the command node instead. */
  def explainString(spark: SparkSession, plan: LogicalPlan,
      mode: org.apache.spark.sql.execution.ExplainMode): String =
    new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[classic.SparkSession], plan,
      new org.apache.spark.sql.catalyst.QueryPlanningTracker(None),
      org.apache.spark.sql.execution.CommandExecutionMode.SKIP,
      org.apache.spark.sql.execution.DoNotCleanup, false)
      .explainString(mode)
}
