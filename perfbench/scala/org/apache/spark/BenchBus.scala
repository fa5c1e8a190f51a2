package org.apache.spark

/** Drains the listener bus, so every event posted so far (task ends,
  * job ends, block updates) has reached the benchmark's listeners
  * before it reads their counters. The bus is package-private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
