package org.apache.spark

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** The shuffles a block of driver code runs, counted as [[JobCounter]]
  * counts jobs: the bytes its stages write to shuffle files and the
  * number of shuffle-map stages that run. A map stage whose output a
  * later job reuses runs, and counts, once. */
object ShuffleCounter {
  def apply[A](sc: SparkContext)(body: => A): (Long, Int, A) = {
    val stages = TrieMap.empty[Int, Unit]
    val bytes = new AtomicLong
    val mapStages = new AtomicInteger
    val r = CountedGroup(sc)(group => new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (CountedGroup.in(group, e.properties)) {
          stages.put(e.stageInfo.stageId, ())
          if (e.stageInfo.shuffleDepId.isDefined) mapStages.incrementAndGet()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })(body)
    (bytes.get, mapStages.get, r)
  }
}
