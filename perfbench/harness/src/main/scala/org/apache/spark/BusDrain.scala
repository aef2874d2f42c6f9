package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listeners are complete at a query boundary. Lives in
  * this package because the listener bus is Spark-internal. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
