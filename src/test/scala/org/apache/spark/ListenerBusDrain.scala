package org.apache.spark

/** Blocks until every event posted to the listener bus so far has been
  * delivered, so a test's listener has seen all jobs of the work that
  * just finished. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
