package org.apache.spark

/** The listener bus's drain is package-private; the traced run waits on it
  * so that every event of a window has been delivered before it is read.
  */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
