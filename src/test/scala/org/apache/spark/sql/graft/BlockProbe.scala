package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.{BlockId, BroadcastBlockId}

/** Test view of the block manager, whose master is `private[spark]`. */
object BlockProbe {
  /** Blocks any block manager still holds for broadcast `id`. */
  def broadcastBlocks(id: Long): Seq[BlockId] =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case BroadcastBlockId(`id`, _) => true
      case _ => false
    }, askStorageEndpoints = true)
}
