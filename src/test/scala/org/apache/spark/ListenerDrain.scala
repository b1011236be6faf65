package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * spec's listener has seen all of an action's jobs and plans when it
  * asserts (`listenerBus` is private to the spark package).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
