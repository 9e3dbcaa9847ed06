package org.apache.spark

/** Waits until every queued scheduler event has reached its listeners,
  * so a job count read afterwards is complete. `SparkContext.listenerBus`
  * is `private[spark]`, hence the package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
