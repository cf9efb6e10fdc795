package org.apache.spark

/** Blocks until every event already posted to the listener bus has
  * been delivered, so a job-counting listener reads a settled count
  * without sleeping. The bus is `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
