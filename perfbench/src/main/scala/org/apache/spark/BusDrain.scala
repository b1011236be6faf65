package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * recorder detached afterwards has seen all of the work before it.
  * (The bus is package-private to Spark, hence this file's package.)
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
