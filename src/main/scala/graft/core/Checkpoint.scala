package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

object Checkpoint {

  /** Materialize a freshly persisted frame in one Spark job (plus one
    * per shuffle map stage inside the cached plan) and return its row
    * count. `Dataset.count()` plans a partial/final aggregate over the
    * cache: under AQE it runs the cache fill, the aggregate's map
    * stage and the final sum as separate jobs. */
  def fill(ds: Dataset[_]): Long = ds.queryExecution.toRdd.count()

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
