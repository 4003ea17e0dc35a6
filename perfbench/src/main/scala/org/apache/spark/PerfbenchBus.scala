/*
 * Lives under org.apache.spark so the private[spark] listener bus
 * resolves. The benchmark's traced run calls it once, after its last
 * pass, so every job and stage event has reached the listener before the
 * spans are attributed. Keep this file free of any other logic.
 */
package org.apache.spark

object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
