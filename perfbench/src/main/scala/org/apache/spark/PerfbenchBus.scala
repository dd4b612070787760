package org.apache.spark

/** Blocks until every event posted to the listener bus so far has been
  * delivered, so the benchmark's listeners have seen all jobs, tasks and
  * query-execution callbacks of the work that just finished. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
