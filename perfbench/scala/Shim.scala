package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the scheduler's listener bus, which Spark keeps package
  * private: the traced run drains it before reading counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
