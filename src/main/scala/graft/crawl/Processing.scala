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
  * oldest-first rank is, by design, one single-partition sort of
  * METADATA columns only (norm_url + ord + status — payload bytes are
  * projected away): strict FIFO over all fetched rows is the
  * reference's queue order. */
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
}
