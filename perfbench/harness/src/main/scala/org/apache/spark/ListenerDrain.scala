package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so a trace read right after a request sees all of its jobs. The
  * bus's `waitUntilEmpty` is package-private to Spark.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
