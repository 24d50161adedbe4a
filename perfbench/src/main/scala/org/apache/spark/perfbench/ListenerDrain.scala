package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers scheduler events asynchronously; the benchmark
  * drains it before it reads its listener's counters. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
