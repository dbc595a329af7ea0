package org.apache.spark

/** Listener-bus access for the benchmark: Spark delivers listener events
  * asynchronously and exposes the drain only inside its own package.
  */
object PerfbenchBus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
