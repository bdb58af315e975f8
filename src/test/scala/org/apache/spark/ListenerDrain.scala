package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * spec's job records are complete before it asserts on them.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
