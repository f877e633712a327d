package org.apache.spark

/** Reaches the one `private[spark]` call the trace needs: block until the
  * listener bus has delivered every posted event, so a traced run's spans
  * are complete before they are written out.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
