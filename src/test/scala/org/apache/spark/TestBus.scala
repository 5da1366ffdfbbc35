package org.apache.spark

/** Test access to the listener bus: waits until every posted event has
  * reached the listeners, so a listener's counts cover the jobs already
  * run. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
