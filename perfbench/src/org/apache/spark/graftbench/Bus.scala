package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: a span may only read the counters of
  * the work inside it once every event that work posted has been
  * delivered. `waitUntilEmpty` is Spark-internal, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
