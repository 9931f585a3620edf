package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Reads the driver's broadcast blocks (`SparkContext.env` and the block
  * manager are `private[spark]`). */
object BroadcastProbe {
  /** Ids of the broadcast variables whose blocks the driver's block
    * manager holds. */
  def broadcastIds(sc: SparkContext): Set[Long] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet
}
