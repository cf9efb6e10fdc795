package org.apache.spark.emibench

import org.apache.spark.SparkContext

/** Blocks until every event already posted to the listener bus has
  * been delivered. The bus is `private[spark]`, hence this package;
  * nothing here sleeps or polls a counter.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
