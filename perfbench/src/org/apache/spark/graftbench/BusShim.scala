package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]`: a span may only
  * close once every task event of its jobs has reached the benchmark's
  * listener, otherwise late events would be charged to the next span.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
