package org.apache.spark

/** Blocks until every event posted so far has reached every listener,
  * so a listener's counts are complete when a test reads them.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
