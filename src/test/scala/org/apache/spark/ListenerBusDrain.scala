package org.apache.spark

/** Specs that count Spark jobs with a `SparkListener` wait here until
  * every posted event has reached the listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
