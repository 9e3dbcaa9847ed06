package org.apache.spark

/** Lets the benchmark wait until every queued scheduler event has reached
  * its listeners, so job, stage and task counts are complete when an op's
  * span closes. `SparkContext.listenerBus` is `private[spark]`, hence the
  * package.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
