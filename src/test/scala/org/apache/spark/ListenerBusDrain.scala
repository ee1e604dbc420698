package org.apache.spark

/** Listener events arrive asynchronously; specs that read what a
  * listener saw first wait for every event posted so far (the bus's
  * drain is package-private). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
