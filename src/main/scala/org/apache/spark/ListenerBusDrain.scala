package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener has seen every query execution that ran before the call.
  * Lives in this package because the listener bus is package-private.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
