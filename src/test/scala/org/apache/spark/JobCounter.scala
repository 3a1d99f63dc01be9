package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code launches. Only jobs in
  * a job group of their own are counted, so jobs other threads start
  * meanwhile do not, and the listener bus is drained before the count
  * is read, so no job start is still in flight. */
object JobCounter {
  def apply[A](sc: SparkContext)(body: => A): (Int, A) = {
    val jobs = new AtomicInteger
    val r = CountedGroup(sc)(group => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (CountedGroup.in(group, e.properties)) jobs.incrementAndGet()
    })(body)
    (jobs.get, r)
  }
}

/** Runs `body` in a job group of its own with `listener(group)` attached,
  * and drains the listener bus before returning. */
private[spark] object CountedGroup {
  def apply[A](sc: SparkContext)(listener: String => SparkListener)(body: => A): A = {
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val l = listener(group)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted")
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      r
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  def in(group: String, props: java.util.Properties): Boolean =
    props != null && props.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group
}
