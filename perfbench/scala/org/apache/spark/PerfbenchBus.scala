package org.apache.spark

/** Waits until every listener queue of `sc` has delivered its pending
  * events, so a traced step's listener records are complete before the
  * next step starts. (`listenerBus` is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
