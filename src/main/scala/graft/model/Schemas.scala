package graft.model

/** Typed row models for the crawl engine (SURVEY.md §1.2/§1.3).
  * Time is logical: the engine replaces wall-clock sleeps with wave
  * numbers and logical seconds (`waveSeconds` per wave), which is what
  * makes runs bit-reproducible across parallelism levels. */

/** Publisher/seed registry row (reference: sources,
  * src/models/__init__.py:533-593). */
case class Source(
    source_id: String,
    host: String,
    host_norm: String,
    canonical_name: String,
    frequency: String, // parse_frequency_to_days vocabulary
    bot_sensitivity: Int, // 1..10 ladder
    status: String, // active | paused
    base_url: String,
    // verification HTTP-precheck opt-in (url_verification.py run_http_precheck):
    // precheck errors are terminal verification_failed; without it they
    // stay non-terminal verification_uncertain
    http_precheck: Boolean = false)

/** Frontier row (reference: candidate_links,
  * src/models/__init__.py:67-125). `norm_url` is the dedup key
  * (unique in the merged view); `host_bucket` the partition key.
  *
  * The frontier is stored as an Iceberg-style merge-on-read DELTA LOG:
  * each wave appends its discovered rows (`is_update = false`,
  * `seq = 2·wave`) and the fetch-outcome update rows
  * (`is_update = true`, `seq = 2·wave+1`); the current state of a URL
  * is its max-`seq` row. Periodic compaction rewrites the log to one
  * row per URL. Per-wave write I/O is O(delta), never O(frontier). */
case class FrontierRow(
    url: String,
    norm_url: String,
    host: String,
    host_bucket: Int,
    source_id: String,
    status: String, // §1.4 state machine
    priority: Int,
    crawl_depth: Int,
    discovered_by: String, // lineage label (M5): method[host/wave#slot]
    discovered_wave: Int,
    processed_wave: Int, // -1 until fetched/terminal
    http_status: Int, // 0 until fetched
    publish_day: Int, // synthetic publish date as day ordinal; -1 = null
    content_hash: String, // sha-256 of payload; "" until fetched
    error_message: String,
    seq: Long, // version for merge-on-read (2·wave / 2·wave+1)
    is_update: Boolean) // false = discovery row, true = outcome update

/** Per-source discovery state (reference: typed columns on sources —
  * rss_consecutive_failures / rss_transient_failures / rss_missing_at /
  * no_effective_methods_consecutive / paused_* / last_successful_method /
  * discovered_sections, src/models/__init__.py:533-593). Rewritten
  * set-based each wave (S11). Logical time: 1 wave ≙ 1 day. */
case class SourceState(
    source_id: String,
    host: String,
    last_wave: Int, // -1 = never processed (F11 due predicate)
    rss_consecutive_failures: Int, // F13 streak rule
    rss_failure_waves: Seq[Int], // F13 sliding-window ledger (pruned)
    rss_missing_wave: Int, // -1 = feed healthy; else wave it was declared missing
    no_effective_consecutive: Int, // F12 counter
    paused_auto: Boolean, // F12 adaptive-threshold auto-pause
    last_successful_method: String, // "" until a method yields new URLs
    discovered_sections: Seq[String], // M4 inference output, drives S13
    // A5 method-effectiveness telemetry, CONSUMED for method selection
    // (attempts = waves the method actually ran; success = it yielded
    // new URLs that wave; reference telemetry.py:1777-1910)
    rss_attempts: Int,
    rss_successes: Int,
    homepage_attempts: Int,
    homepage_successes: Int)

/** Per-(wave, source, method) discovery telemetry row (reference:
  * telemetry.py:1777-1910 method-effectiveness tables). */
case class TelemetryRow(
    wave: Int,
    source_id: String,
    method: String, // rss | homepage | section_crawl
    attempted: Boolean,
    links_yielded: Long, // raw links the method produced
    new_urls: Long) // survived filters + dedup + seen check

/** Per-(wave, host, http_status) fetch-outcome telemetry row
  * (reference: HTTP status tracking tables,
  * src/models/telemetry_orm.py:33-277) — the ops surface the
  * reference's dashboards aggregate over. */
case class HttpTelemetryRow(
    wave: Int,
    host: String,
    http_status: Int,
    n: Long)

/** Fetched payload row — the graft's image+caption analogue of
  * `articles` (BASELINE.json input_hint). */
case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String, // png | jpeg
    caption: String,
    phash: Long)

/** Result row: frontier URL resolved to a payload. */
case class FetchResult(
    norm_url: String,
    host: String,
    host_bucket: Int,
    source_id: String,
    wave: Int,
    rank: Int, // within-wave per-host fetch position (crawl order)
    http_status: Int,
    status: String, // extracted | 404 | 403 | 429 | timeout | captcha
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    content_hash: String)

/** Per-host politeness state, carried wave-to-wave (reference:
  * in-memory maps, src/crawler/__init__.py:459-513 +
  * work_queue.py:119-129, made an explicit table). */
case class PolitenessState(
    host: String,
    bot_sensitivity: Int,
    tokens_per_wave: Int,
    cooldown_until_s: Double, // logical seconds
    consecutive_failures: Int,
    paused_until_s: Double,
    bot_encounters: Int,
    forbidden_count: Int) // 403 tracker (auto-pause at 2, extraction.py:1419-1450)

/** Per-wave metrics row (reference telemetry analogue). */
case class WaveMetrics(
    wave: Int,
    discovered: Long,
    duplicates: Long,
    out_of_scope: Long,
    filtered: Long,
    expired: Long,
    planned: Long,
    fetched: Long, // HTTP-200 fetches (any content type)
    failed: Long,
    robots_blocked: Long,
    rss_failures: Long, // F13 ledger events this wave
    section_links: Long, // raw links from the supplemental section crawl
    paused_sources: Long) // cumulative F12 auto-paused sources
