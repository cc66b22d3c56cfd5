package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.storage.BlockId

/** Test-only window on the driver's storage status. `BlockManagerMaster`
  * is `private[spark]`; exposing it from inside the spark package is the
  * same idiom as `org.apache.spark.sql.graftbridge.Bridge`. */
object TestBridge {

  /** The RDD blocks that the executors' block managers hold right now,
    * asked of each storage endpoint rather than read from the listener
    * bus: an `unpersist` removes blocks without posting an update. */
  def storedRddBlocks(sc: SparkContext): Set[BlockId] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).toSet
}
