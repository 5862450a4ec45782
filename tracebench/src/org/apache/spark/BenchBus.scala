package org.apache.spark

/** The benchmark's one reach into Spark internals: the listener bus is
  * asynchronous, and a traced measurement must see every event of the
  * execution it just timed before it reads its totals. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
