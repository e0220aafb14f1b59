package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, which is
  * private to it: the traced run drains the bus before reading its
  * listener, so no job, stage or task event of a measured call is lost.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
