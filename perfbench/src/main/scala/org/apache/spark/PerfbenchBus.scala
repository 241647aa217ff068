package org.apache.spark

/** Blocks until the SparkContext's listener bus has delivered every queued
  * event, so a request's job, task and SQL events are attributed before its
  * ledger is read. The bus is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
