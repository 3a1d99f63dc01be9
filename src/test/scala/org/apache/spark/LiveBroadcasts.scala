package org.apache.spark

import scala.reflect.ClassTag
import org.apache.spark.storage.BroadcastBlockId

/** Ids of the broadcasts whose value of type T the driver's block
  * manager still holds. In local mode the driver's block manager is the
  * only one, so a broadcast missing here has been released everywhere. */
object LiveBroadcasts {
  def apply[T](sc: SparkContext)(implicit ct: ClassTag[T]): Set[Long] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.collect {
      case id @ BroadcastBlockId(bid, _)
          if bm.memoryStore.getValues(id).exists(_.exists(ct.runtimeClass.isInstance)) => bid
    }.toSet
  }
}
