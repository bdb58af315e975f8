package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so the traced run's job records are complete before they
  * are written out. `listenerBus` is package-private to Spark, hence the
  * package of this one-line shim.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
