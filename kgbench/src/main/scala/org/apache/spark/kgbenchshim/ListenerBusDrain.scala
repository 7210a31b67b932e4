package org.apache.spark.kgbenchshim

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so counters
  * read right after an action include all of that action's tasks.
  * `SparkContext.listenerBus` is package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
