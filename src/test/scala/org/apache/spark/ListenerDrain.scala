package org.apache.spark

/** Specs that read a listener's events wait for the asynchronous listener
  * bus first (`listenerBus` is private to Spark). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
