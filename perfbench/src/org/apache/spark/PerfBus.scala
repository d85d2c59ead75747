package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * per-query counters are only complete once every event is delivered. */
object PerfBus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
