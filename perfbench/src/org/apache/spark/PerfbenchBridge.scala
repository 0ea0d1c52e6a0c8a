package org.apache.spark

/** The one private Spark call the benchmark needs: wait until every
  * posted listener event has been delivered, so the listener totals read
  * at the end of a run are complete. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
