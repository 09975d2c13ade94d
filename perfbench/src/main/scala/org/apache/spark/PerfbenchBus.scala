package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can wait for every queued event of a finished phase before it
  * attributes the phase's jobs, tasks and query executions. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
