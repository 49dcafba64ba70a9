package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * counts read after a pass include all of that pass's tasks. The bus
  * is only visible inside Spark's own package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
