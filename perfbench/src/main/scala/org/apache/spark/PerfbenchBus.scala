package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the tracer needs
  * it so that a pass's last task, job and query events are delivered
  * before the pass's per-layer numbers are read. Throws if the bus does
  * not empty within 30 s, so a stuck bus fails the run instead of
  * under-counting.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
