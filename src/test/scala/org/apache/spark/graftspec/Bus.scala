package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: a spec may only read a listener's
  * counts once every event the measured work posted has been delivered.
  * `waitUntilEmpty` is Spark-internal, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
