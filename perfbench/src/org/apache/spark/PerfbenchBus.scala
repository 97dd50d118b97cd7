package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read after a call include the task-end events of that call. The bus is
  * `private[spark]`, hence this one-method bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
