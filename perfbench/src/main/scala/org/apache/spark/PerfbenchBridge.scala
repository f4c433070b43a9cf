package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * listener counters are complete only after queued events are delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
