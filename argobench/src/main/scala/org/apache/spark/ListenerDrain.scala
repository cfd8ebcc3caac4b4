package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * per-span counters only after every event posted so far has been
  * handled. The bus is `private[spark]`, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
