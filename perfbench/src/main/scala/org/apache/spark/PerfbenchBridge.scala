package org.apache.spark

/** The one scheduler internal the traced run needs: listener events are
  * delivered asynchronously, so spans are read only after the bus has
  * handed every event to the benchmark's listener. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
