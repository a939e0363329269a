package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced gate's jobs, stages and micro-batches are all recorded before
  * the next gate starts. `waitUntilEmpty` is package-private to Spark. */
object GatebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
