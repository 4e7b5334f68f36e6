package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSession

/** Action-scoped persist() for operator paths.
  *
  * Query builders persist shared subtrees (baskets read three ways,
  * the BM25 tf projection, the PPJoin prefix table) so ONE action
  * computes them once. But the builders return LAZY frames — they
  * cannot unpersist before the caller's action runs, and a naked
  * persist() leaks into the LRU store, piling up across a 230-query
  * session. `scoped` closes the leak: the frame is persisted now and
  * unpersisted automatically when the next Spark action on this
  * session COMPLETES — exactly the consume-once lifecycle of a
  * Verify/Bench query. (If a caller runs several actions on one
  * result, later actions recompute the subtree — correct, just not
  * cached; the scope trades that corner for a leak-free steady
  * state.)
  */
object CacheScope {

  /** Persist `df` until the next action on its session completes. */
  def scoped(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val gs = GraftSession(spark)
    df.persist()
    if (gs.scopeListener.compareAndSet(false, true))
      spark.listenerManager.register(Unpersist)
    gs.scoped.add(df)
    df
  }

  /** One listener for every session, reading the session from the
    * finished query: it holds no session, so registering it on one
    * keeps that session collectable. */
  private object Unpersist extends QueryExecutionListener {
    override def onSuccess(
        funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      drain(qe.sparkSession)
    override def onFailure(
        funcName: String, qe: QueryExecution, error: Exception): Unit =
      drain(qe.sparkSession)
  }

  private def drain(spark: SparkSession): Unit = {
    val q = GraftSession(spark).scoped
    var df = q.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = q.poll()
    }
  }

  /** True iff nothing is awaiting unpersist for `spark` (test hook). */
  def pendingEmpty(spark: SparkSession): Boolean =
    GraftSession(spark).scoped.isEmpty
}
