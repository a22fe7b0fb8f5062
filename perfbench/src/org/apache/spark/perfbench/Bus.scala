package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark's listener bus is package-private; the traced run drains it so
  * every event of a call has been delivered before the next call starts.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
