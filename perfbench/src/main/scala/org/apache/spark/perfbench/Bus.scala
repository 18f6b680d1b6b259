package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The live listener bus is `private[spark]`; the benchmark's collector
  * waits on it so every event of a traced phase is counted before the
  * counters are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
