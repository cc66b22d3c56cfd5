package graft.crawl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** T3: the post-fetch article processing cycle — successful fetches
  * progress `extracted → cleaned → labeled` in bounded oldest-first
  * batches, one batch per stage per cycle (reference:
  * orchestration/continuous_processor.py:362-412, which drains each
  * stage's queue in batch_size chunks per loop iteration). Every
  * transition is computed from the PRE-cycle state, so a row advances
  * at most one stage per cycle — exactly the reference's
  * queue-per-stage semantics.
  *
  * Scale shape: each cycle is one window rank per stage + a set-based
  * status rewrite (no driver state, no collect). The global
  * oldest-first window is a single-partition sort of METADATA columns
  * only (norm_url + ord + status — payload bytes are projected away);
  * at 10^10-row scale the same dataflow runs the rank per
  * (bucket-range) partition, trading strict global FIFO for per-range
  * FIFO the way any sharded queue does. */
object Processing {

  /** Run `cycles` processing cycles over the fetched results; returns
    * (norm_url, ord, article_status). `ord` is the processing order
    * (crawl order: wave, host, rank — the reference drains oldest
    * first). */
  def runCycles(results: DataFrame, batchSize: Int, cycles: Int): DataFrame = {
    val base = results
      .filter(col("http_status") === 200)
      .withColumn("ord",
        row_number().over(Window.orderBy("wave", "host", "rank")) - 1)
      .select(col("norm_url"), col("ord"),
        lit("extracted").as("article_status"))
    (1 to cycles).foldLeft(base) { (state, _) =>
      val ranked = state.withColumn("rn",
        row_number().over(Window.partitionBy("article_status").orderBy("ord")))
      ranked.withColumn("article_status",
        when(col("article_status") === "extracted" && col("rn") <= batchSize,
          lit("cleaned"))
          .when(col("article_status") === "cleaned" && col("rn") <= batchSize,
            lit("labeled"))
          .otherwise(col("article_status")))
        .drop("rn")
    }
  }

  /** The 10^10-row form of [[runCycles]]: the oldest-first rank runs
    * per SHARD (host_bucket mod nShards) with the batch budget split
    * evenly, so no stage ever sorts in a single partition — strict
    * global FIFO relaxes to per-shard FIFO exactly the way any sharded
    * work queue does (the reference's processor instances drain
    * per-queue batches the same way,
    * orchestration/continuous_processor.py:362-412). Each cycle is a
    * partitionBy(shard, …) window: the plan carries hash-partitioned
    * exchanges only (PlanSpec asserts no SinglePartition exchange). */
  def runCyclesSharded(results: DataFrame, batchSize: Int, cycles: Int,
                       nShards: Int): DataFrame = {
    require(nShards > 0 && batchSize % nShards == 0,
      s"batch budget $batchSize must split evenly across $nShards shards")
    val perShard = batchSize / nShards
    val base = results
      .filter(col("http_status") === 200)
      .withColumn("shard", pmod(col("host_bucket"), lit(nShards)))
      .withColumn("ord",
        row_number().over(
          Window.partitionBy("shard").orderBy("wave", "host", "rank")) - 1)
      .select(col("norm_url"), col("shard"), col("ord"),
        lit("extracted").as("article_status"))
    (1 to cycles).foldLeft(base) { (state, _) =>
      val ranked = state.withColumn("rn",
        row_number().over(
          Window.partitionBy("shard", "article_status").orderBy("ord")))
      ranked.withColumn("article_status",
        when(col("article_status") === "extracted" && col("rn") <= perShard,
          lit("cleaned"))
          .when(col("article_status") === "cleaned" && col("rn") <= perShard,
            lit("labeled"))
          .otherwise(col("article_status")))
        .drop("rn")
    }
  }

  /** M2 companion over the PROCESSING state machine: rows still short
    * of `labeled` after the cycles that should have drained them —
    * the 4-state analogue of Maintenance.stuckStates
    * (housekeeping.py:341-486 monitors the same chain). */
  def stuckProcessing(processed: DataFrame, batchSize: Int, cycles: Int): DataFrame =
    processed
      .filter(col("article_status") =!= "labeled" &&
        col("ord") < lit((cycles.toLong - 1) * batchSize))
      .groupBy("article_status")
      .agg(count(lit(1)).as("n_stuck"), min("ord").as("oldest_ord"))
      .orderBy("article_status")
}
