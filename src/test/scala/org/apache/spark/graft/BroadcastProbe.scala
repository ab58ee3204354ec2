package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.{BlockId, BroadcastBlockId}

/** Test-only bridge into private[spark] block-manager state: lists the
  * storage blocks a broadcast still occupies anywhere in the app, so specs
  * can assert that `release()` really removed the data (not just invalidated
  * the driver handle).
  */
object BroadcastProbe {
  def broadcastBlocks(broadcastId: Long): Seq[String] = {
    val filter: BlockId => Boolean = {
      case BroadcastBlockId(`broadcastId`, _) => true
      case _                                  => false
    }
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(filter, askStorageEndpoints = true)
      .map(_.toString)
  }

  /** The deserialized broadcast values the driver's block manager holds. */
  def driverValues(): Seq[Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _                       => false
    }.flatMap(id => bm.getLocalValues(id).toSeq.flatMap(_.data.toList)) // toList releases the read lock
  }
}
