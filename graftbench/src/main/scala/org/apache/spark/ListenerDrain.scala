package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's task metrics are complete when a span closes. The bus is
  * package-private to Spark; this one-line bridge is the only reason the
  * file lives in Spark's package.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
