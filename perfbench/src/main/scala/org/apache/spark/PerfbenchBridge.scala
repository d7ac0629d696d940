package org.apache.spark

/** The listener bus delivers events asynchronously; the trace is read only
  * after every posted event has reached the benchmark's listener. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
