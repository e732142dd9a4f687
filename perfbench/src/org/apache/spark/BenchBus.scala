package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * per-layer figures read after a pass include that pass's last tasks.
  * The listener bus is `private[spark]`, hence the package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
