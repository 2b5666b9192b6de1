package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Blocks until every listener has processed every event posted so far,
    * so a listener's view of an operation is complete once it returns. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
