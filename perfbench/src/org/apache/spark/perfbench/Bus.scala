package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener, so
  * counters read after a run are complete. The listener bus is only
  * reachable from inside the `org.apache.spark` package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
