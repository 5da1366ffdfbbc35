package org.apache.spark

/** Listener-bus access for the benchmark: counts read from a
  * [[org.apache.spark.scheduler.SparkListener]] are only complete once
  * every posted event has been delivered, and the bus drain is
  * `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
