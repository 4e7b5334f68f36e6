package org.apache.spark

/** The one `private[spark]` hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so per-layer numbers
  * are read only after the listeners have seen the work they describe. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
