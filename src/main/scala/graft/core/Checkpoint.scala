package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

object Checkpoint {

  /** Free the storage blocks behind a localCheckpoint'd frame.
    * `Dataset.unpersist()` only clears CacheManager entries; a local
    * checkpoint lives as RDD blocks under a `LogicalRDD` leaf, so the
    * blocks must be unpersisted on the RDD itself. Safe only once no
    * consumer of the frame will run again (recompute is impossible —
    * the lineage was truncated). */
  def free(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
}
