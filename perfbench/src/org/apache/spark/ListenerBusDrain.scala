package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so a span's
  * counters are complete before the next span starts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
