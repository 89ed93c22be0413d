package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the traced run: listeners are called
  * asynchronously, so a span or counter is read only after the bus has
  * delivered every event posted before it. `waitUntilEmpty` is
  * package-private to Spark, hence this file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
