package org.apache.spark

/** Drains Spark's asynchronous listener bus (a `private[spark]` call), so
  * that every event of an action has reached the benchmark's listener
  * before its counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
