package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private; counts read before it drains
  * miss the last jobs' task-end events. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
