package org.apache.spark

/** Exposes the listener bus drain (`private[spark]`) so the traced run reads
  * its listener counts only after every queued event has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
