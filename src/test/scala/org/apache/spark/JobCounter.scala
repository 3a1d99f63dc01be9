package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code launches. Only jobs in
  * a job group of their own are counted, so jobs other threads start
  * meanwhile do not, and the listener bus is drained before the count
  * is read, so no job start is still in flight. */
object JobCounter {
  def apply[A](sc: SparkContext)(body: => A): (Int, A) = {
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (jobs.get, r)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
