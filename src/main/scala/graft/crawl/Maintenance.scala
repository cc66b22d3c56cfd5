package graft.crawl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frontier maintenance operators (SURVEY.md §2.11): two reports over
  * the frontier and one pure snapshot rewrite, which applies to the
  * current frontier snapshot and commits the result — never in-place
  * mutation. */
object Maintenance {

  /** M1/A11: per-source breakdown of the stale candidates, `article`
    * rows discovered more than `maxAgeWaves` ago (reference:
    * cleanup_candidates.py:38-128, housekeeping.py:300-316). */
  def staleBreakdown(frontier: DataFrame, currentWave: Int, maxAgeWaves: Int): DataFrame =
    frontier.filter(col("status") === "article" &&
        col("discovered_wave") < lit(currentWave - maxAgeWaves))
      .groupBy("source_id")
      .agg(count(lit(1)).as("n_stale"), min(col("discovered_wave")).as("oldest_wave"))
      .orderBy("source_id")

  /** M2: stuck-state detector — frontier rows sitting in a
    * non-terminal status beyond `stallWaves`
    * (reference: housekeeping.py:341-486). */
  def stuckStates(frontier: DataFrame, currentWave: Int, stallWaves: Int): DataFrame =
    frontier.filter(col("status").isin("discovered", "article") &&
        col("discovered_wave") <= lit(currentWave - stallWaves))
      .groupBy("status")
      .agg(count(lit(1)).as("n_stuck"), min(col("discovered_wave")).as("oldest_wave"))
      .orderBy("status")

  /** M3: null-payload repair — fetched rows with empty payloads reset
    * to `article` for re-fetch (reference: housekeeping.py:194-250,
    * null-text article repair). Joins the results log to find empty
    * payload bytes. */
  def repairNullPayloads(frontier: DataFrame, results: DataFrame): DataFrame = {
    val bad = results.filter(col("status") === "extracted" &&
        (col("bytes").isNull || length(col("bytes")) === 0))
      .select(col("norm_url").as("bad_url")).distinct()
    frontier.join(bad, frontier("norm_url") === col("bad_url"), "left")
      .withColumn("status",
        when(col("bad_url").isNotNull && col("status") === "extracted", lit("article"))
          .otherwise(col("status")))
      .drop("bad_url")
  }
}
