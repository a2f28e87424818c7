package org.apache.spark

/** The listener bus is package-private to Spark; the traced run waits on
  * it so listener counters cover every event of the window they close. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
