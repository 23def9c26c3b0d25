package org.apache.spark

/** Waits until every queued listener event has been delivered, so that a
  * traced op's jobs, tasks and query executions are all recorded before
  * the next op starts. The listener bus is private to the spark package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
