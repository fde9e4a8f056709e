package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * A span reads its counters only after every event posted before its end
  * has been delivered, so no task of the span is missed and none is
  * waited for by sleeping. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
