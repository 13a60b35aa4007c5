package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's span boundaries see all the jobs, stages and query
  * executions that ran inside them. Lives in this package because the
  * listener bus is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
