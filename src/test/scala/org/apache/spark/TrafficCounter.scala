package org.apache.spark

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.storage.BroadcastBlockId

/** What a block of driver code moves between the driver and its tasks,
  * counted as [[JobCounter]] counts jobs: the broadcasts of a `cls`
  * value it creates, and the bytes its tasks return to the driver, in
  * all and from the largest task. A task's result is its serialized
  * value plus its accumulator updates, about 1 KB on its own. A
  * broadcast counts when the driver stores its first piece, its value
  * looked up in the driver's block manager then: one destroyed before
  * the listener sees that piece is missed. */
object TrafficCounter {
  final case class Traffic(broadcasts: Int, resultBytes: Long, maxTaskResultBytes: Long)

  def apply[A](sc: SparkContext, cls: Class[_])(body: => A): (Traffic, A) = {
    val stages = TrieMap.empty[Int, Unit]
    val broadcasts = new AtomicInteger
    val resultBytes = new AtomicLong
    val maxTask = new AtomicLong
    val bm = sc.env.blockManager
    val r = CountedGroup(sc)(group => new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (CountedGroup.in(group, e.properties)) stages.put(e.stageInfo.stageId, ())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          resultBytes.addAndGet(e.taskMetrics.resultSize)
          maxTask.accumulateAndGet(e.taskMetrics.resultSize, math.max)
        }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = e.blockUpdatedInfo.blockId match {
        case BroadcastBlockId(id, "piece0") if e.blockUpdatedInfo.storageLevel.isValid &&
            bm.memoryStore.getValues(BroadcastBlockId(id)).exists(_.exists(cls.isInstance)) =>
          broadcasts.incrementAndGet()
        case _ =>
      }
    })(body)
    (Traffic(broadcasts.get, resultBytes.get, maxTask.get), r)
  }
}
