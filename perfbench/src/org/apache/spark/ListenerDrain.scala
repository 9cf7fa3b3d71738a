package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * counters read after an action include that action's tasks and stages.
  * Lives in this package because `SparkContext.listenerBus` is
  * `private[spark]`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
