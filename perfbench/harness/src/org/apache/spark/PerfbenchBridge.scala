package org.apache.spark

/** The one non-public call the traced run needs: wait until the listener
  * bus has delivered every event posted so far, so a span's counters are
  * complete when the harness reads them. Only the traced run calls it.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
