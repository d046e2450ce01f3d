package org.apache.spark

/** Listener events are delivered asynchronously; a traced run reads the
  * listener's totals only after every event posted so far has been
  * handled. The bus is package-private, hence this accessor. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
