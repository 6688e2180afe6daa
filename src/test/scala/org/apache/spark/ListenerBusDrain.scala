package org.apache.spark

/** Test-only access to the private listener bus: job-count assertions read
  * the status store, which the bus fills asynchronously, so a spec drains
  * the bus before it reads. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
