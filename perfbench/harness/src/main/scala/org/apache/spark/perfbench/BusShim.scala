package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the listener bus's `private[spark]` drain, so a span can wait
  * until every event its actions posted has been delivered.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
