package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a spec's listener has seen all jobs its action started.
  * (`listenerBus` is package-private to Spark.) */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
