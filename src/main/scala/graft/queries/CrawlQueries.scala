package graft.queries

import graft.crawl.CrawlEngine
import graft.store.SnapshotStore
import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** The crawl engine exposed through the driver contract. These entries
  * run the full frontier→verify→robots→politeness→fetch pipeline on the
  * deterministic synthetic world (scaled by the sf dir) and return its
  * state tables. Not SQL-expressible → no oracleSql (the driver records
  * a rows-only check); full semantic equality vs the reference-rules
  * oracle is enforced by graft.CrawlEngineSpec. */
object CrawlQueries {

  /** Crawl world size by testdata scale factor. */
  def cfgFor(dir: String): Synth.Config = {
    val sf = dir.split("/").reverse.find(_.startsWith("sf")).map(_.stripPrefix("sf"))
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.001)
    if (sf >= 0.1) Synth.Config(nHosts = 2000, urlsPerHostPerWave = 100, nWaves = 3,
      // derived, not the spec-world 32: volume-scaled with a 2×cores
      // parallelism floor (local[32] box → 64)
      nBuckets = Synth.bucketsFor(2000L * 100 * 3, minParallel = 64))
    else if (sf >= 0.01) Synth.Config(nHosts = 60, urlsPerHostPerWave = 30, nWaves = 3)
    else Synth.Config(nHosts = 20, urlsPerHostPerWave = 20, nWaves = 2)
  }

  /** Dataset label the scoped-run gate crawls under (J1 N:M scoping —
    * reference src/models/__init__.py:492-630: a run restricted to one
    * dataset's seed list; state rewrites still carry EVERY source). */
  val ScopedDataset = "ds-regional"

  // one crawl per (sfDir, scope) per session — all q_crawl_* read its
  // tables; the scoped run is its own (smaller) crawl: same world, due
  // scan semi-joined to the scope's sources. Opening for reads compacts
  // the frontier log ONCE (outside the crawl headline), so per-query
  // merge-on-read cost is an empty update fold, not a full raw-log merge.
  private val stores = TrieMap.empty[(String, Option[String]), SnapshotStore]
  private def storeFor(spark: SparkSession, dir: String,
                       scope: Option[String] = None): SnapshotStore =
    stores.getOrElseUpdate((dir, scope), {
      val store = new SnapshotStore(
        java.nio.file.Files.createTempDirectory("graft-crawl").toString)
      val cfg = cfgFor(dir).copy(datasetScope = scope.orNull)
      new CrawlEngine(spark, cfg, store).run()
      CrawlEngine.compactForRead(spark, store, cfg.nBuckets)
      store
    })
  private def scopedStoreFor(spark: SparkSession, dir: String): SnapshotStore =
    storeFor(spark, dir, Some(ScopedDataset))

  /** Adopt an already-run store for `dir` (Bench reuses its timed crawl
    * instead of running a third). Compacts for reading like storeFor. */
  def register(spark: SparkSession, dir: String, store: SnapshotStore): Unit =
    stores.getOrElseUpdate((dir, None), {
      CrawlEngine.compactForRead(spark, store, cfgFor(dir).nBuckets)
      store
    })

  /** Build the scoped store now (idempotent) and return the engine-run
    * seconds, so Bench can disclose the scoped CRAWL as its own field
    * instead of silently billing it to whichever q_crawl_scoped_* row
    * happens to run first. 0.0 when the store already exists. */
  def ensureScopedStore(spark: SparkSession, dir: String): Double =
    if (stores.contains((dir, Some(ScopedDataset)))) 0.0
    else {
      val t0 = System.nanoTime()
      scopedStoreFor(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }

  type Q = (SparkSession, String) => DataFrame

  private def resultsOf(store: SnapshotStore, s: SparkSession): DataFrame =
    store.readAll(s, "results")
      .select("wave", "host", "rank", "norm_url", "status", "image_id",
        "fmt", "w", "h", "caption", "phash", "content_hash")
      .orderBy("wave", "host", "rank")

  /** Flagship: the fetched image+caption results with crawl order. */
  val qCrawlResults: Q = (s, dir) => resultsOf(storeFor(s, dir), s)

  /** The same crawl restricted to one dataset's seed list (J1 N:M
    * scoping): only the scope's sources are due, so the fetched set —
    * and every downstream state table — must match the scoped oracle. */
  val qCrawlScopedResults: Q = (s, dir) => resultsOf(scopedStoreFor(s, dir), s)

  /** Frontier status histogram (A2 over the real state machine) —
    * merge-on-read current view over the delta log. */
  val qCrawlStatusCounts: Q = (s, dir) =>
    CrawlEngine.frontierCurrent(s, storeFor(s, dir))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")

  /** URL-seen set cardinality per host bucket (J6/X5 surface) — the
    * frontier log's immutable discovery rows ARE the seen key layer
    * (exactly one non-update row per admitted URL). */
  val qCrawlSeenByBucket: Q = (s, dir) =>
    storeFor(s, dir).read(s, "frontier")
      .filter(!col("is_update"))
      .groupBy("host_bucket").agg(count(lit(1)).as("n_seen"))
      .orderBy("host_bucket")

  private def politenessOf(store: SnapshotStore, s: SparkSession): DataFrame =
    store.read(s, "politeness")
      .select("host", "bot_sensitivity", "tokens_per_wave",
        "consecutive_failures", "bot_encounters", "forbidden_count")
      .orderBy("host")

  /** Politeness end-state: the sensitivity ladder + cooldowns after the
    * fault schedule has run (T5/T6). */
  val qCrawlPoliteness: Q = (s, dir) => politenessOf(storeFor(s, dir), s)

  /** Scoped-run politeness: only the scope's hosts accumulate fault
    * history, so the table proves the due scan (not the state rewrite)
    * is what scoping restricts. */
  val qCrawlScopedPoliteness: Q = (s, dir) =>
    politenessOf(scopedStoreFor(s, dir), s)

  private def sourceStateOf(store: SnapshotStore, s: SparkSession): DataFrame =
    store.read(s, "source_state")
      .select(col("source_id"), col("last_wave"), col("rss_consecutive_failures"),
        array_join(transform(array_sort(col("rss_failure_waves")),
          x => x.cast("string")), ",").as("rss_failure_waves"),
        col("rss_missing_wave"), col("no_effective_consecutive"),
        col("paused_auto"), col("last_successful_method"),
        array_join(col("discovered_sections"), ",").as("discovered_sections"),
        col("rss_attempts"), col("rss_successes"),
        col("homepage_attempts"), col("homepage_successes"))
      .orderBy("source_id")

  /** Per-source discovery state (F12/F13/M4 surface): ledger, pause
    * counter, sections. Arrays exported as sorted CSV strings so the
    * DuckDB hash compare is representation-stable. */
  val qCrawlSourceState: Q = (s, dir) => sourceStateOf(storeFor(s, dir), s)

  /** Scoped-run source state: the rewrite keeps EVERY source's row
    * (out-of-scope sources stay last_wave = -1) while in-scope sources
    * advance — the exact N:M scoping semantics of the reference's
    * datasets ⋈ dataset_sources join. */
  val qCrawlScopedSourceState: Q = (s, dir) =>
    sourceStateOf(scopedStoreFor(s, dir), s)

  /** X4 as a standalone relational operator: classify every fetched
    * payload's caption with the DB-driven content_patterns table —
    * broadcast one-row pattern arrays + tiered any-match HOFs (the same
    * shape as the F9 wire gate). The DuckDB oracle recomputes the
    * classification independently from the expected results' captions. */
  val qX4ContentType: Q = (s, dir) => {
    val store = storeFor(s, dir)
    // each tier's patterns as (kind, pattern) structs so the HOF
    // branches on the ROW's kind column exactly like ContentType.detect
    // — a pattern row with any kind stays query/engine-consistent
    def tier(t: String) =
      collect_list(when(col("ptype") === t,
        struct(col("kind"), col("pattern")))).as(s"${t}_p")
    val pats = broadcast(store.read(s, "content_patterns")
      .agg(tier("wire"), tier("obituary"), tier("opinion")))
    def hit(arr: org.apache.spark.sql.Column) = exists(arr, r =>
      when(r.getField("kind") === "prefix",
        startswith(lower(col("caption")), r.getField("pattern")))
        .otherwise(contains(lower(col("caption")), r.getField("pattern"))))
    store.readAll(s, "results").filter(col("http_status") === 200)
      .crossJoin(pats)
      .withColumn("content_type",
        when(hit(col("wire_p")), lit("wire"))
          .when(hit(col("obituary_p")), lit("obituary"))
          .when(hit(col("opinion_p")), lit("opinion"))
          .otherwise(lit("extracted")))
      .select("norm_url", "content_type")
      .orderBy("norm_url")
  }

  /** T3 processing chain: the fetched articles after 3 bounded
    * processing cycles (extracted → cleaned → labeled, 100 oldest per
    * stage per cycle). The DuckDB oracle derives the same end state in
    * closed form from the processing-order rank. */
  val T3BatchSize = 100
  val T3Cycles = 3
  val qT3Processing: Q = (s, dir) =>
    graft.crawl.Processing.runCycles(
      storeFor(s, dir).readAll(s, "results"), T3BatchSize, T3Cycles)
      .select("norm_url", "article_status")
      .orderBy("norm_url")

  /** T3 with per-stage PAYLOAD transforms: the `cleaned` stage runs the
    * real X3 byline-clean pass (graft.ops.Bylines — the reference's
    * continuous processor invokes the byline cleaner at this stage,
    * orchestration/continuous_processor.py:362-412 →
    * utils/byline_cleaner.py) over a byline synthesized
    * deterministically from the fetched caption + processing order, and
    * the `labeled` stage exposes the X4 content-type label the fetch
    * computed from the payload (ml classifier analogue). The DuckDB
    * oracle recomputes the stage chain in closed form, the byline synth
    * from the same caption words, and the whole X3 rule chain
    * (PipelineOps.bylineChainCtes — one definition for both gates). */
  val qT3Payload: Q = (s, dir) => {
    val results = storeFor(s, dir).readAll(s, "results")
    val processed = graft.crawl.Processing.runCycles(results, T3BatchSize, T3Cycles)
    val w = split(col("caption"), " ")
    // two-word pseudo-name from caption words 1 and 3 (word 2 is the
    // vocabulary's literal "and" — a byline separator token in X3)
    val n1 = concat_ws(" ", initcap(element_at(w, 1)), initcap(element_at(w, 3)))
    val joined = processed.join(
      results.filter(col("http_status") === 200)
        .select(col("norm_url"), col("caption"), col("status")), "norm_url")
      .withColumn("byline",
        when(pmod(col("ord"), lit(4)) === 0, concat(lit("By "), n1))
          .when(pmod(col("ord"), lit(4)) === 1, concat(n1, lit(", Staff Writer")))
          .when(pmod(col("ord"), lit(4)) === 2, lit("Associated Press"))
          .otherwise(concat(n1, lit(" USA TODAY"))))
    joined
      .join(graft.ops.Bylines.clean(joined, "norm_url", "byline")
        .select(col("norm_url"), col("authors")), "norm_url")
      .select(col("norm_url"), col("article_status"),
        when(col("article_status").isin("cleaned", "labeled"),
          array_join(col("authors"), "; ")).otherwise(lit("")).as("authors_csv"),
        when(col("article_status") === "labeled", col("status"))
          .otherwise(lit("")).as("label"))
      .orderBy("norm_url")
  }

  /** Per-(wave, host, http_status) fetch-outcome telemetry (the
    * reference's HTTP status-tracking ops table). The DuckDB oracle
    * recomputes it from the expected results' status column. */
  val qTelemetryHttp: Q = (s, dir) =>
    storeFor(s, dir).readAll(s, "telemetry_http")
      .orderBy("wave", "host", "http_status")

  /** M1 over the real crawl store: per-source breakdown of the article
    * backlog stale-expiry would touch (reference
    * cleanup_candidates.py:38-128 / housekeeping.py:300-316). The
    * DuckDB oracle recomputes the same filter+agg from the independent
    * expected_crawl_frontier dump. currentWave = nWaves (the wave after
    * the run), maxAgeWaves = 1. */
  val qM1StaleBreakdown: Q = (s, dir) =>
    graft.crawl.Maintenance.staleBreakdown(
      CrawlEngine.frontierCurrent(s, storeFor(s, dir)),
      currentWave = cfgFor(dir).nWaves, maxAgeWaves = 1)

  /** M2 over the real crawl store: non-terminal rows stalled beyond
    * stallWaves = 2 (reference housekeeping.py:341-486). */
  val qM2StuckStates: Q = (s, dir) =>
    graft.crawl.Maintenance.stuckStates(
      CrawlEngine.frontierCurrent(s, storeFor(s, dir)),
      currentWave = cfgFor(dir).nWaves, stallWaves = 2)

  /** M3 over the real crawl store: null-payload repair (reference
    * housekeeping.py:194-250). The synth world never produces an
    * extracted row with empty bytes, so the gate corrupts a
    * DETERMINISTIC subset first (payloads of rows with phash % 7 == 0
    * blanked) — the repair must flip exactly those frontier rows back
    * to `article`; the DuckDB oracle recomputes the same rule from the
    * independent expected frontier + results dumps. */
  val qM3NullRepair: Q = (s, dir) => {
    val store = storeFor(s, dir)
    val corrupted = store.readAll(s, "results")
      .withColumn("bytes",
        when(col("phash") % 7 === 0, lit(Array.empty[Byte]))
          .otherwise(col("bytes")))
    graft.crawl.Maintenance.repairNullPayloads(
        CrawlEngine.frontierCurrent(s, store), corrupted)
      .select("norm_url", "status")
      .orderBy("norm_url")
  }

  // decode-ONCE pass shared by q_image_decode and q_image_thumbs: one
  // ImageIO decode per image feeds both feature sets (running the two
  // single-output operators separately would decode everything twice);
  // cached per sf dir, so whichever query runs first materializes it
  private val decodedStore = TrieMap.empty[String, DataFrame]
  private def decodedFor(s: SparkSession, dir: String): DataFrame =
    decodedStore.getOrElseUpdate(dir, {
      graft.ops.ImageOps.decodeFused(
        storeFor(s, dir).readAll(s, "results").filter(col("http_status") === 200))
        .toDF().cache()
    })

  /** Multimodal decode/feature pass over the fetched binary payloads
    * (every HTTP-200 content type carries one). */
  val qImageDecode: Q = (s, dir) =>
    decodedFor(s, dir)
      .select("image_id", "w", "h", "fmt", "mean_luma", "phash")
      .orderBy("image_id")

  /** Thumbnail + perceptual-hash extraction (resize path). */
  val qImageThumbs: Q = (s, dir) =>
    decodedFor(s, dir)
      .select("image_id", "thumb_w", "thumb_h", "thumb_phash")
      .orderBy("image_id")

  val queries: Map[String, Q] = Map(
    "q_crawl_results" -> qCrawlResults,
    "q_crawl_status_counts" -> qCrawlStatusCounts,
    "q_crawl_seen_by_bucket" -> qCrawlSeenByBucket,
    "q_crawl_politeness" -> qCrawlPoliteness,
    "q_crawl_source_state" -> qCrawlSourceState,
    "q_crawl_scoped_results" -> qCrawlScopedResults,
    "q_crawl_scoped_politeness" -> qCrawlScopedPoliteness,
    "q_crawl_scoped_source_state" -> qCrawlScopedSourceState,
    "q_x4_content_type" -> qX4ContentType,
    "q_telemetry_http" -> qTelemetryHttp,
    "q_m1_stale_breakdown" -> qM1StaleBreakdown,
    "q_m2_stuck_states" -> qM2StuckStates,
    "q_m3_null_repair" -> qM3NullRepair,
    "q_t3_processing" -> qT3Processing,
    "q_t3_payload" -> qT3Payload,
    "q_image_decode" -> qImageDecode,
    "q_image_thumbs" -> qImageThumbs)
}
