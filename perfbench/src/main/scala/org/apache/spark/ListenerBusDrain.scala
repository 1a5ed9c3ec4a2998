package org.apache.spark

/** Waits until the live listener bus has delivered every queued event, so a
  * listener's counters read right after an action include all of that
  * action's task and query events. The bus is private to Spark, hence the
  * package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
