package org.apache.spark

/** Waits until every queued listener event has been delivered. The
  * benchmark reads its listener's counters right after an action
  * returns, and Spark posts job, stage and task events asynchronously;
  * the bus's drain is package-private, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
