package org.apache.spark

/** The listener bus flush is package-private to Spark; the traced run
  * needs it so every job, task and SQL event is counted before the
  * per-span totals are read.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
