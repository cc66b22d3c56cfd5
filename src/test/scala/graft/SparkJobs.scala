package graft

import org.apache.spark.graftbridge.TestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BlockId
import scala.jdk.CollectionConverters._

/** The Spark jobs a body starts and the RDD blocks it stores or leaves
  * stored, for the job-budget and leak tests. */
object SparkJobs {

  /** Runs `body` with `listener` installed and returns once the listener
    * has seen every event `body` caused. The listener bus is asynchronous
    * but ordered: once a marker job submitted after `body` is seen, every
    * earlier event has been seen too. The marker job's start is not
    * passed on. */
  private def observed(spark: SparkSession, listener: SparkListener)(body: => Unit): Unit = {
    val marker = "job-budget-marker"
    @volatile var flushed = false
    val flush = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description", "") == marker)) {
          flushed = true
        } else listener.onJobStart(e)
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = listener.onBlockUpdated(e)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(flush)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      while (!flushed) Thread.sleep(20)
    } finally sc.removeSparkListener(flush)
  }

  /** Start times (epoch ms) of the Spark jobs `body` runs. */
  def startsOf(spark: SparkSession)(body: => Unit): Seq[Long] = {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    observed(spark, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e.time)
    })(body)
    starts.asScala.toSeq
  }

  /** The number of Spark jobs `body` runs. */
  def of(spark: SparkSession)(body: => Unit): Int = startsOf(spark)(body).size

  /** The RDD blocks that `body` stored, from the block managers' own
    * reports: a block stored with a valid level counts until an update
    * reports it gone. `unpersist` and `Checkpoint.free` post no such
    * update, so a block that `body` stored and then freed still counts:
    * this measures what `body` stored, not what it left. */
  def rddBlocksStoredBy(spark: SparkSession)(body: => Unit): Set[BlockId] = {
    val stored = java.util.concurrent.ConcurrentHashMap.newKeySet[BlockId]()
    observed(spark, new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          if (info.storageLevel.isValid) stored.add(info.blockId) else stored.remove(info.blockId)
        }
      }
    })(body)
    stored.asScala.toSet
  }

  /** The RDD blocks that `body` left stored, from the storage status:
    * the blocks held after `body` that were not held before it. A free
    * that does not block (`Checkpoint.free`) removes its blocks
    * asynchronously, so the status is polled until the new blocks are
    * gone or `timeoutMs` passes. A persist or a checkpoint that is never
    * freed leaves its blocks here, whether or not its RDD is still
    * reachable (`SparkContext.getPersistentRDDs` holds its RDDs weakly,
    * so it cannot tell). */
  def rddBlocksLeftBy(spark: SparkSession, timeoutMs: Long = 10000L)(body: => Unit): Set[BlockId] = {
    def stored() = TestBridge.storedRddBlocks(spark.sparkContext)
    val before = stored()
    body
    val deadline = System.currentTimeMillis() + timeoutMs
    var left = stored() -- before
    while (left.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      left = stored() -- before
    }
    left
  }
}
