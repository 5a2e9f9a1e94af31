package org.apache.spark

/** The listener bus's drain is `private[spark]`; the harness needs it
  * so the last triggers' progress events are recorded before it reads
  * them back. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
