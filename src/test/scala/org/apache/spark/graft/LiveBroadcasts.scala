package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

/** The broadcast values the local block manager of `sc` still holds,
  * by broadcast id. `BlockManager` is private[spark]; this test subpackage
  * is how the specs read it. */
object LiveBroadcasts {
  def values(sc: SparkContext): Map[Long, Any] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap {
      case id @ BroadcastBlockId(bid, _) =>
        // draining the iterator releases the block's read lock
        bm.getLocalValues(id).flatMap(_.data.toList.headOption).map(bid -> _)
      case _ => None
    }.toMap
  }
}
