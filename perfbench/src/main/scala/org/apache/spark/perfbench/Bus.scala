package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark's listener bus drain is package-private; the traced run needs
  * it so that every event of a pass has reached the benchmark's
  * listeners before the pass's counters are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
