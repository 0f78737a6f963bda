package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * Spark delivers listener events on its own threads, so counters kept by
  * a listener are only complete for a finished action after this returns.
  * It lives in Spark's package because the listener bus is not public. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
