package org.apache.spark

/** The listener bus is private to Spark; a traced run needs to wait for
  * it to drain before it attributes jobs to ops. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
