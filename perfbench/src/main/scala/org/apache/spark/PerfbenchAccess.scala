package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting until the
  * listener bus has delivered all events, so traced task metrics are
  * complete before they are summed. Lives in Spark's package because
  * the bus is `private[spark]`. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
