package graft.crawl

import graft.core.{Checkpoint, functions => gf}
import graft.model._
import graft.ops.ImageKernels
import graft.store.SnapshotStore
import graft.synth.{Synth, SynthFunctions}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The Spark-native URL-frontier + fetch scheduler (BASELINE.json
  * north rule). One wave =
  *
  *   sources⋈state(due) → per-source method cascade (RSS → homepage →
  *     section crawl, ≥max/2 short-circuit) → normalize → scope/skip/
  *     recency → order-preserving batch dedup (W2/U1, one bucket
  *     shuffle) → exact seen screen against the touched buckets
  *   → verification + robots gate applied to the DELTA (per-row rules)
  *   → merge-on-read plan view → per-host bounded top-k token ranking
  *   → fetch (mapPartitions resolver) → X4 content typing
  *   → delta-only state commits (frontier/results/telemetry appends;
  *     host-cardinality rewrites for politeness/state)
  *
  * Scale design (10^10-URL frontier):
  *  - The frontier is an append-only DELTA LOG partitioned by
  *    `host_bucket`: each wave writes O(|delta|) bytes (discovered rows
  *    + fetch-outcome updates), never a frontier rewrite; the current
  *    row of a URL is its max-seq version (merge-on-read), and the log
  *    is compacted to one row per URL every `compactEvery` waves, so
  *    read amplification is bounded and amortized.
  *  - The URL-seen set is the frontier log's immutable discovery rows
  *    (one per admitted URL), screened exactly: the deduped batch is
  *    semi-joined against the `norm_url` column of the wave's touched
  *    buckets only (manifest file pruning + column pruning), then
  *    anti-joined out — the seen side is scanned, never shuffled, and
  *    nothing is carried across waves. At 10^10 URLs in 10^4 buckets a
  *    bucket holds ~10^6 keys of ~50 B, so a touched bucket's scan reads
  *    ~50 MB raw (less after parquet encoding) and a wave that touches
  *    every bucket reads ≤ ~500 GB across 10^4 tasks. The deleted Bloom
  *    bank (1% fpp, 2× capacity: ~9.6 bits × 2×10^10 keys) held ~24 GB
  *    in executor memory and shuffled each touched bucket's ~2.4 MB
  *    filter through two cogroups per wave, yet pruned none of those
  *    scan bytes: the screen read the same touched buckets whatever the
  *    filter said.
  *  - Robots rules and politeness tokens are host-cardinality tables
  *    joined in by broadcast; longest-match is a pre-sorted-array HOF
  *    expression, not a driver map.
  *  - Per-host ranking uses a 64-bit xxhash mix key (not md5 hex) and a
  *    bounded top-k `flatMapGroups` (O(tokens) memory, no per-host
  *    sort), so hot hosts cannot skew or OOM a task.
  *  - All "time" is logical (wave number; 1 wave ≙ 1 day for ledger/TTL
  *    rules), which makes runs bit-identical at any parallelism — the
  *    two-cluster-size equivalence the north rule demands.
  *
  * Reference semantics: discovery cascade source_processing.py:624-677;
  * section discovery/crawl discovery.py:647-997; RSS ledger
  * discovery.py:1158-1515; dead-URL TTL crawler/__init__.py:509-513;
  * adaptive pause source_processing.py:301-380; content types
  * extraction.py:1085-1105; frontier upsert database.py:797-828. */
final class CrawlEngine(spark: SparkSession, cfg: Synth.Config, store: SnapshotStore) {
  import spark.implicits._
  import CrawlEngine._

  /** Every state table a wave commit pins (crash recovery rolls each
    * back to the last commit's pin). The URL-seen KEY layer is not a
    * separate table: the frontier log's immutable discovery rows ARE
    * the seen set (one row per admitted URL), and the seen screen
    * reads just their `norm_url` column (parquet column pruning) from
    * the wave's touched buckets. */
  val AllTables: Seq[String] = Seq("sources", "robots", "politeness",
    "source_state", "frontier", "results", "telemetry",
    "telemetry_http", "wire_patterns", "content_patterns", "datasets",
    "dataset_sources")

  /** Host-cardinality tables: write a bounded number of files, scaling
    * with host count (not 1, not #shuffle-partitions). */
  private def hostFiles: Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, cfg.nHosts / 10000 + 1))

  def init(): Unit = {
    if (store.lastCommittedWave() >= 0) return // resume — keep state
    // append-only tables initialize as pure driver-side metadata (no
    // Spark job: schema pin + empty manifest); the remaining snapshots
    // are tiny host-cardinality writes run as concurrent Spark jobs
    // (sequential, their fixed per-job latency dominates startup)
    store.writeEmpty(Encoders.product[FrontierRow].schema, "frontier", wave = -1)
    store.writeEmpty(Encoders.product[FetchResult].schema, "results", wave = -1)
    store.writeEmpty(Encoders.product[TelemetryRow].schema, "telemetry", wave = -1)
    store.writeEmpty(Encoders.product[HttpTelemetryRow].schema, "telemetry_http", wave = -1)
    val ws = cfg.waveSeconds
    // S12: a publisher CSV can seed the registry (load-sources CLI,
    // src/cli/commands/load_sources.py); default is the synth world
    val seed = Option(cfg.sourcesCsv) match {
      case Some(path) => graft.sources.SourceCsv.load(spark, path)
      case None => Synth.sources(spark, cfg)
    }
    val robots = spark.range(cfg.nHosts).map { i =>
      val idx = i.toInt
      RobotsHost(Synth.hostName(idx), Synth.crawlDelayOf(idx),
        Synth.robotsRulesOf(idx).map { case (p, a) => RulePrefix(p, a) })
    }
    val pol = spark.range(cfg.nHosts).map { i =>
      val idx = i.toInt
      Politeness.initial(Synth.hostName(idx), Synth.sensitivityOf(idx),
        Synth.crawlDelayOf(idx), ws)
    }
    val state = spark.range(cfg.nHosts).map { i =>
      val idx = i.toInt
      SourceRules.initial(f"src-$idx%04d", Synth.hostName(idx))
    }
    import graft.store.SnapshotStore.FusedPart
    val parts = Seq(
      FusedPart("sources", seed.toDF().coalesce(hostFiles), append = false,
        lineage = Option(cfg.sourcesCsv).map(p => s"csv seed: $p")
          .getOrElse("synth seed registry")),
      FusedPart("robots", robots.toDF().coalesce(hostFiles), append = false,
        lineage = "synth robots, longest-match-sorted (allow wins ties)"),
      FusedPart("politeness", pol.toDF().coalesce(hostFiles), append = false,
        lineage = "sensitivity ladder init"),
      FusedPart("source_state", state.toDF().coalesce(hostFiles), append = false,
        lineage = "discovery state init"),
      // F9 wire patterns as DB-driven rows (models/__init__.py:351-403),
      // not code constants — the verify gate broadcast-joins this table
      FusedPart("wire_patterns",
        Synth.WirePatterns.zipWithIndex
          .map { case (p, i) => (i, p, "wire") }
          .toDF("pattern_order", "pattern", "pattern_type").coalesce(1),
        append = false, lineage = "seeded wire-service patterns"),
      // X4 content-classification patterns as DB-driven rows
      // (content_type_detector.py:237-260 loads these from tables) —
      // the fetch stage broadcasts them; no keyword set in engine code
      FusedPart("content_patterns",
        Synth.ContentPatterns.zipWithIndex
          .map { case ((t, k, p), i) => (i, t, k, p) }
          .toDF("pattern_order", "ptype", "kind", "pattern").coalesce(1),
        append = false, lineage = "seeded content-type patterns"),
      // dataset dims (models/__init__.py:492-630): datasets + the N:M
      // dataset_sources scope table the due-source scan semi-joins
      FusedPart("datasets",
        Synth.DatasetLabels.map(l => (l, s"Dataset $l"))
          .toDF("dataset_id", "canonical_name").coalesce(1),
        append = false, lineage = "seeded dataset registry"),
      FusedPart("dataset_sources",
        spark.range(cfg.nHosts).flatMap { i =>
          val idx = i.toInt
          Synth.datasetsOf(idx).map(ds => (ds, f"src-$idx%04d"))
        }.toDF("dataset_id", "source_id").coalesce(hostFiles),
        append = false, lineage = "seeded N:M scope table"))
    // ONE Spark job seeds all eight snapshots (tagged union, one parquet
    // pass): per-job launch latency is the driver-serial part of init,
    // so 8 concurrent jobs → 1 job attacks the north-rule serial term.
    // This first write pins each table's schema.
    store.writeFused(parts, wave = -1)
  }

  /** X4 pattern rows, loaded from the content_patterns TABLE once per
    * engine (tiny: pattern-cardinality) and broadcast into the fetch
    * stage — the DB-driven shape of the reference's detector. */
  private lazy val contentPatsB = spark.sparkContext.broadcast(
    store.read(spark, "content_patterns")
      .select("pattern_order", "ptype", "kind", "pattern")
      .collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
      .toSeq)

  // ---------------------------------------------------------------- waves

  /** One wave as a composition of named stages. `carry` is what the
    * previous wave left in executor memory ([[WaveCarry.cold]] for the
    * first wave of a run); the returned carry feeds the next wave. */
  def runWave(wave: Int, carry: WaveCarry): (WaveMetrics, WaveCarry) = {
    val in = waveIn(wave, carry)
    val (due, availHosts) = dueSources(in)
    val (candidates, discObs) = discover(in, due)
    val (batch, newLinks) = screen(candidates, carry.dueBuckets)
    val (gatedDelta, discovered) = verify(in, newLinks)
    val plannedWide = plan(in, discovered, availHosts, carry.availBuckets)
    val fetched = fetch(in, plannedWide)
    val (metrics, next) =
      persistWave(in, due, gatedDelta, discovered, plannedWide, fetched, discObs)
    due.unpersist(); batch.unpersist()
    // checkpointed frames hold RDD blocks, not CacheManager entries —
    // Dataset.unpersist() would be a no-op on them; free the blocks,
    // including the previous carry's frames, which `next` replaced
    // (safe only now: every consumer of them has run)
    (Seq(gatedDelta, plannedWide, fetched._1) ++ carry.frames)
      .foreach(Checkpoint.free)
    (metrics, next)
  }

  private def waveIn(wave: Int, carry: WaveCarry): WaveIn = {
    // wave-varying values enter the PLAN as a one-row parameter table,
    // never as literals: literals bake into whole-stage-codegen source,
    // so per-wave constants would force a Janino recompile of every
    // stage every wave (a serial, lock-guarded driver+executor cost
    // measured at ~40% of task runtime); with parameter columns the
    // generated code is byte-identical across waves and the codegen
    // cache hits.
    // n_buckets rides the parameter table too: it was the one remaining
    // codegen-visible constant that DIFFERS between the (frozen) Bench
    // warm-up world and the measured world (32 vs 64), so the warm-up
    // primed the wrong generated code and run 1's first wave re-paid
    // Janino for every bucket-keyed stage.
    val params = broadcast(Seq((wave, 2L * wave, cfg.seed + wave, cfg.nBuckets.toLong))
      .toDF("cur_wave", "cur_seq", "mix_seed", "n_buckets"))
    WaveIn(wave, spark.sparkContext.broadcast(cfg), params,
      store.read(spark, "sources").as[Source], store.read(spark, "robots"),
      carry.politeness.getOrElse(store.read(spark, "politeness").as[PolitenessState]),
      carry.state.getOrElse(store.read(spark, "source_state").as[SourceState]))
  }

  /** Stage 1 — due sources (F11 + F12 gates, join-based — no driver
    * map) and the politeness-available hosts with their tokens. The A5
    * method order is decided here from the per-source effectiveness
    * telemetry carried in source_state. */
  private def dueSources(in: WaveIn): (Dataset[DueSource], DataFrame) = {
    val wave = in.wave
    // dataset scoping (J1 engine-side): a scoped run semi-joins the seed
    // registry against the N:M dataset_sources rows of the scope label
    // (broadcast — the scope table is dataset×source cardinality).
    // Only the DUE scan is scoped; state rewrites keep every source's
    // row (allSources), so out-of-scope state is preserved untouched.
    val sources = (Option(cfg.datasetScope) match {
      case None => in.allSources.toDF()
      case Some(scope) =>
        in.allSources.toDF().join(
          broadcast(store.read(spark, "dataset_sources")
            .filter(col("dataset_id") === scope).select("source_id")),
          Seq("source_id"), "left_semi")
    }).as[Source]
    val state = in.state
    val due = sources
      .joinWith(state, sources("source_id") === state("source_id"), "inner")
      .filter((t: (Source, SourceState)) =>
        SourceRules.due(t._2, t._1.status, t._1.frequency, wave))
      .map { (t: (Source, SourceState)) =>
        val s = t._1; val st = t._2
        DueSource(s.source_id, s.host_norm, s.frequency,
          s.source_id.stripPrefix("src-").toInt,
          SourceRules.rssSkipped(st, s.frequency, wave),
          SourceRules.effectiveMethods(st),
          st.discovered_sections)
      }.cache()
    val waveSec = cfg.waveSeconds
    val availHosts = in.politeness
      .filter(st => Politeness.available(st, wave, waveSec))
      .map(st => (st.host, st.tokens_per_wave))
      .toDF("p_host", "tokens")
    (due, availHosts)
  }

  /** Stage 2 — discovery: per-source method cascade (S5/S6/S13 + U1 +
    * A5) and the F-chain. Methods run in the effectiveness-gated attempt
    * order carried on DueSource; a healthy RSS yield ≥ max/2 short-
    * circuits methods not yet attempted (source_processing.py:624-677);
    * the supplemental section crawl runs for every source with
    * discovered sections. The cascade itself is the SHARED
    * SourceRules.cascade kernel (engine flatMap + oracle — one
    * definition; the state leg reads its facts via cascadeFacts). */
  private def discover(in: WaveIn, due: Dataset[DueSource]): (Dataset[CandRow], Observation) = {
    val wave = in.wave
    val cfgB = in.cfgB
    // lineage strings (M5) are NOT built here: the expansion carries
    // (method_rank, attempt, slot, section) ints and the discovered_by
    // label is assembled by a codegen concat only for rows that survive
    // the F-chain + dedup + seen check — deferred formatting keeps ~50
    // bytes/row out of the hottest shuffle.
    val raw = due.repartition(spark.sparkContext.defaultParallelism).flatMap { d =>
      SourceRules.cascade(cfgB.value)(d.host_idx, wave, d.methods,
        d.rss_skip, d.sections).links.map { l =>
        RawLink(d.source_id, d.host_norm, l.url, l.methodRank, l.attempt,
          l.slot, l.section)
      }
    }.toDF()

    // F-chain with a single outcome tag; metrics ride the first action
    // via observe() — no separate counting job (A7)
    val discObs = Observation()
    val normalized = raw
      .withColumn("norm_url", gf.normalize_url(col("url")))
      .withColumn("host", gf.canonical_host(col("url")))
      .withColumn("pub_day", SynthFunctions.publish_day(col("norm_url"), cfg))
      .withColumn("outcome",
        when(!gf.is_valid_url(col("url")), lit("invalid"))
          .when(col("host") =!= col("src_host"), lit("out_of_scope")) // F7
          .when(!gf.passes_skip_patterns(col("url")), lit("filtered")) // F4
          .when(col("pub_day") =!= -1 &&
            col("pub_day") < lit(cfg.nowDay - cfg.recencyDays), lit("expired")) // F8
          .otherwise(lit("ok")))
      .observe(discObs,
        count(when(col("outcome") === "out_of_scope", 1)).as("out_of_scope"),
        count(when(col("outcome") === "filtered", 1)).as("filtered"),
        count(when(col("outcome") === "expired", 1)).as("expired"),
        count(when(col("outcome") === "ok", 1)).as("ok"))

    val candidates = normalized
      .filter(col("outcome") === "ok")
      .select(col("norm_url"), col("method_rank"), col("attempt"), col("url"),
        col("source_id"), col("host"), col("pub_day"), col("slot"), col("section"))
      .crossJoin(in.params)
      .withColumn("host_bucket",
        pmod(xxhash64(col("host")), col("n_buckets")).cast("int"))
      .drop("cur_wave", "cur_seq", "mix_seed", "n_buckets")
      .as[CandRow]
    (candidates, discObs)
  }

  /** Stage 3 — W2/U1 + J6/X5: the batch dedup (keep the min (attempt,
    * url) occurrence per norm_url — this wave's A5 attempt order) in ONE
    * bucket shuffle (norm_url → host → bucket is functional), then the
    * exact seen screen of the deduped batch against the touched
    * buckets. Returns the cached deduped batch (freed by the caller) and
    * the new links. */
  private def screen(candidates: Dataset[CandRow],
                     touched: Seq[Int]): (Dataset[CandRow], DataFrame) = {
    val touchedSet = touched.toSet
    // F7 invariant the bucket pruning DEPENDS on: every candidate's host
    // equals a due source's host, so its bucket is in `touched`. If a
    // scope rule ever admitted a cross-host link, the seen scan (touched
    // buckets only) would miss its bucket and silently re-admit an
    // already-seen URL as new — fail fast instead of corrupting the
    // seen layer.
    val batch = candidates
      .groupByKey(_.host_bucket)
      .flatMapGroups { (b, cs) =>
        require(touchedSet.contains(b),
          s"candidate bucket $b outside the wave's touched set $touchedSet")
        val best = new java.util.HashMap[String, CandRow]()
        cs.foreach { c =>
          val prev = best.get(c.norm_url)
          if (prev == null || c.attempt < prev.attempt ||
            (c.attempt == prev.attempt && c.url < prev.url))
            best.put(c.norm_url, c)
        }
        import scala.jdk.CollectionConverters._
        best.values().iterator().asScala
      }.cache() // two readers: the semi-join probe and the anti-join
    // exact screen: semi-join the (pruned) seen scan against the deduped
    // batch, then anti-join the hits out — hits ⊆ batch, so both joins
    // build on a batch-sized side; the seen layer is scanned (one
    // column, touched buckets only), never shuffled. The seen KEYS are the frontier
    // log's rows themselves (every admitted URL has exactly one
    // immutable discovery row; update rows only repeat a subset of
    // those keys, harmless under a semi-join) — parquet column pruning
    // makes this scan cost what a dedicated key table would, without a
    // second table write per wave.
    val seenScan = store.readBuckets(spark, "frontier", touched).select("norm_url")
    val hits = seenScan.join(batch.select("norm_url"), Seq("norm_url"), "left_semi")
    (batch, batch.toDF().join(hits, Seq("norm_url"), "left_anti"))
  }

  /** Stage 4 — verification (F5/F6/F9) + robots gate: pure per-row
    * rules applied to the DELTA only (old rows never re-verified).
    * Returns the checkpointed gated delta and its frontier discovery
    * rows. */
  private def verify(in: WaveIn, newLinks: DataFrame): (DataFrame, DataFrame) = {
    // F9 wire patterns come from the wire_patterns TABLE (DB-driven rows
    // like the reference, url_verification.py:372-393): collapsed to a
    // one-row array and broadcast-crossed in — an any-match HOF, the
    // same shape as the robots rule join, and the pattern list never
    // bakes into generated code.
    val wirePats = broadcast(store.read(spark, "wire_patterns")
      .agg(collect_list(col("pattern")).as("wire_pats")))
    // HTTP precheck stage (url_verification.py:218-347): candidates that
    // survive the wire + pattern tiers hit the HEAD/GET health check; an
    // exhausted precheck is terminal `verification_failed` when the
    // source opted into prechecks (run_http_precheck), else the
    // non-terminal `verification_uncertain` (statuses at :542-559).
    // The fault is a pure hash of the URL; the opt-in is a broadcast
    // column off the seed registry.
    val precheckFlag = broadcast(in.allSources.toDF()
      .select(col("source_id"), col("http_precheck")))
    val verified = newLinks
      .join(precheckFlag, Seq("source_id"), "left")
      .crossJoin(wirePats)
      .withColumn("pre_err",
        pmod(xxhash64(lit(cfg.seed + Synth.PrecheckSeed), col("norm_url")),
          lit(150L)) < 2)
      .withColumn("status",
        when(exists(col("wire_pats"),
          p => contains(lower(col("norm_url")), p)), lit("wire")) // F9
          .when(!gf.is_likely_article_path(pathOf(col("norm_url"))), lit("not_article")) // F5
          .when(col("pre_err") && col("http_precheck"), lit("verification_failed"))
          .when(col("pre_err"), lit("verification_uncertain"))
          .when(gf.check_is_article(col("norm_url")), lit("article")) // F6/X1
          .otherwise(lit("not_article")))
      .drop("wire_pats", "pre_err", "http_precheck")
    // robots: broadcast join + longest-match over the pre-sorted rule
    // array (RFC 9309; equal-length ties favor allow — sorted at build)
    val gatedDelta = verified
      .join(broadcast(in.robots.select(col("host").as("r_host"), col("rules"))),
        col("host") === col("r_host"), "left")
      .withColumn("u_path", pathOf(col("norm_url")))
      .withColumn("allowed", coalesce(
        element_at(filter(col("rules"),
          r => startswith(col("u_path"), r.getField("prefix"))), 1).getField("allow"),
        lit(true)))
      .withColumn("status",
        when(col("status") === "article" && !col("allowed"), lit("robots_blocked"))
          .otherwise(col("status")))
      .drop("r_host", "rules", "u_path", "allowed")
      // localCheckpoint, not cache: both dedupe the computation, but a
      // cache leaves the FULL cascade lineage in every downstream plan —
      // each of the wave's ~7 write/agg actions re-runs the analyzer/
      // optimizer (and janino codegen) over the whole discovery tree
      // before cache substitution kicks in, a parallelism-resistant
      // driver-serial cost. The checkpoint leaf truncates it.
      // EAGER, necessarily: this plan carries discObs's CollectMetrics
      // node (it counts rows the cascade DROPS, so it cannot ride any
      // later action), and Dataset.checkpoint wraps even the lazy case
      // in withAction — a lazy checkpoint posts a query-success event
      // whose plan holds the un-run metrics node, and with AQE off (the
      // scaling harness config) the Observation latches those zeros.
      // Eager materialization flows the rows first, so the event
      // carries the real counts. Downstream joins are unaffected: every
      // stats-sensitive join on this path carries an explicit
      // broadcast/dim hint (LogicalRDD has no static stats).
      .localCheckpoint(true)

    // M5 lineage label, assembled post-dedup (same format as the oracle)
    val waveTag = concat(lit("/w"), col("cur_wave").cast("string"), lit("#"))
    val discoveredBy =
      when(col("method_rank") === 0, concat(lit("rss["), col("host"),
        waveTag, col("slot").cast("string"), lit("]")))
        .when(col("method_rank") === 1, concat(lit("homepage["), col("host"),
          waveTag, col("slot").cast("string"), lit("]")))
        .otherwise(concat(lit("section_crawl["), col("host"), lit("/"),
          col("section"), waveTag, col("slot").cast("string"), lit("]")))
    val discovered = gatedDelta.crossJoin(in.params).select(
      col("url"), col("norm_url"), col("host"), col("host_bucket"),
      col("source_id"), col("status"),
      // O6: priority varies by discovering method (Synth.priorityOf)
      (lit(3) - col("method_rank")).as("priority"), lit(0).as("crawl_depth"),
      discoveredBy.as("discovered_by"), col("cur_wave").as("discovered_wave"),
      lit(-1).as("processed_wave"), lit(0).as("http_status"),
      col("pub_day").as("publish_day"), lit("").as("content_hash"),
      lit("").as("error_message"),
      col("cur_seq").as("seq"), lit(false).as("is_update"))
    (gatedDelta, discovered)
  }

  /** Stage 5 — plan: fold the (small) update log over the immutable
    * discovery rows, F10 TTL re-admission, politeness tokens, bounded
    * top-k. Returns the planned rows with ALL frontier columns (+ rank).
    *
    * The backlog side (discovery rows) is NEVER shuffled for the merge:
    * a URL's discovery row is immutable, only its latest update
    * (≤ planned rows per wave, reset by compaction) can supersede it,
    * and that update set is merged on its own (tiny) and joined in —
    * broadcast under AQE at working scales, plain join fallback beyond.
    * not_article/wire/robots_blocked rows are never updated and never
    * eligible, so they skip the plan path entirely. The scan is PRUNED
    * to the buckets of politeness-available hosts (manifest file
    * pruning, like the seen scan): only hosts with tokens this
    * wave can be planned, so no other bucket's backlog is read, and
    * nothing is cached — the only materialized plan product is the
    * (≤ tokens·hosts)-row planned set. (host, tokens) STAYS a DataFrame:
    * the ranking join takes it under AQE (broadcast at working scales,
    * shuffle join beyond — a 10^8-host politeness table must never
    * materialize on the driver). Only the BUCKET set reaches the driver
    * (observed on the previous wave's state write, see [[WaveCarry]]):
    * distinct host_bucket ints, ≤ nBuckets values regardless of host
    * count. */
  private def plan(in: WaveIn, discovered: DataFrame, availHosts: DataFrame,
                   availBuckets: Seq[Int]): DataFrame = {
    val log = store.readBuckets(spark, "frontier", availBuckets)
    val dRows = log
      .filter(!col("is_update") && col("status").isin("article", "404"))
      .unionByName(discovered.filter(col("status") === "article"))
    val eligible = foldUpdates(store, dRows, log)
      .crossJoin(in.params)
      .filter(col("status") === "article" ||
        (col("status") === "404" &&
          col("cur_wave") - col("processed_wave") >= lit(cfg.deadUrlTtlWaves)))
      .drop("cur_wave", "cur_seq")
    // planned rows keep ALL frontier columns (+ rank): the fetch maps a
    // narrow projection and the outcome updates join back against this
    // same small cached set — the backlog is scanned exactly once per
    // wave and never cached.
    // lazy localCheckpoint (lineage rationale as gatedDelta; lazy is
    // safe HERE because this plan carries no observation node — see
    // dedupObs placement in frontierDeltaOf): the frontier update leg
    // re-reads plannedWide after the fetch — the checkpoint keeps the
    // rank/merge subtree out of that plan's analysis
    rankPerHost(eligible, availHosts).localCheckpoint(false)
  }

  /** Stage 6 — fetch (X2 cascade executor; X4 content typing). Returns
    * the checkpointed results, the observed frame the results write
    * streams, and its observation. */
  private def fetch(in: WaveIn, plannedWide: DataFrame)
      : (Dataset[FetchResult], DataFrame, Observation) = {
    val wave = in.wave
    val cfgB = in.cfgB
    val planned = plannedWide
      .select(col("norm_url"), col("host"), col("host_bucket"),
        col("source_id"), col("rank"))
      // FETCH PARALLELISM: the planned set is tiny in bytes, so AQE
      // coalesces the ranking exchange to ONE partition — and the fetch
      // map inherits it, serializing every resolve (synth + encode +
      // decode + hash) into a single >1 s task per wave (r6 event log:
      // the results-write execution ran 2 stages / 1 task). An explicit
      // numPartitions repartition is exempt from AQE coalescing; hash on
      // host_bucket keeps the assignment deterministic (no round-robin
      // sort) and bucket-co-located like every other fetch-side shape.
      .repartition(spark.sparkContext.defaultParallelism, col("host_bucket"))
      .as[Planned]
    // the X4 detector's pattern TABLE rides into the fetch closure as a
    // broadcast (content-tier classification over the fetched caption —
    // the type comes from the payload, not from any id)
    val cpB = contentPatsB
    val results = planned.map { p =>
      CrawlEngine.resolve(cfgB.value, cpB.value, p.norm_url, p.host, p.host_bucket,
        p.source_id, wave, p.rank)
    }.localCheckpoint(false) // lineage leaf for the 4 post-fetch legs
    val resultsObs = Observation()
    val resultsToWrite = results.toDF().observe(resultsObs,
      count(lit(1)).as("planned"),
      count(when(col("http_status") === 200, 1)).as("fetched"))
    (results, resultsToWrite, resultsObs)
  }

  /** Stage 7 — delta state rewrites + commit: results, frontier and the
    * fused state write, then the wave commit and cadence compaction.
    * Returns the wave's metrics and the next wave's carry. */
  private def persistWave(in: WaveIn, due: Dataset[DueSource],
                          gatedDelta: DataFrame, discovered: DataFrame, plannedWide: DataFrame,
                          fetched: (Dataset[FetchResult], DataFrame, Observation),
                          discObs: Observation): (WaveMetrics, WaveCarry) = {
    val wave = in.wave
    val nb = cfg.nBuckets
    val (results, resultsToWrite, resultsObs) = fetched
    val (frontierDelta, dedupObs) = frontierDeltaOf(discovered, plannedWide, results)
    val politenessNext = nextPoliteness(in, results)
    val (stateNextCk, perSource) = nextState(in, due, gatedDelta)
    val stateObs = Observation()
    val stateToWrite = stateNextCk.crossJoin(in.params).observe(stateObs,
      count(when(array_contains(col("rss_failure_waves"), col("cur_wave")), 1))
        .as("rss_failures"),
      count(when(col("paused_auto"), 1)).as("paused_sources"),
      collect_set(when(col("__due_b") >= 0, col("__due_b"))).as("due_buckets"))
      .drop("cur_wave", "cur_seq", "mix_seed", "n_buckets", "__due_b")
    val (telemetry, telemObs, httpTelemetry) = telemetryOf(in, perSource, results)

    // the results write runs FIRST and alone: it materializes the whole
    // discovery→plan→fetch chain (and its caches), so every observation
    // completes in one action. The remaining writes only read caches and
    // run as concurrent Spark jobs.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    store.appendDelta(resultsToWrite, "results", wave, lineage = s"wave $wave delta")
    val fFrontier = Future(store.appendDelta(
      frontierDelta.repartition(writeParts(spark, nb), col("host_bucket")),
      "frontier", wave, bucketCol = Some("host_bucket"),
      lineage = s"wave $wave delta (discovered + outcomes)"))
    // the four host-or-less-cardinality state tables commit in ONE
    // fused Spark job (one tagged union, one parquet pass, per-table
    // manifest registration) — per-wave driver cost is one job launch
    // instead of four, the parallelism-resistant serial tail the
    // north-rule scaling bar is sensitive to. All four legs read only
    // this wave's caches (results/perSource/due) plus the tiny
    // politeness/state snapshots.
    import graft.store.SnapshotStore.FusedPart
    // lazy localCheckpoint, same deal as stateNextCk: materialized by
    // the fused write, reused as next wave's politeness (the carry)
    val politenessNextCk = politenessNext.localCheckpoint(false)
    val polObs = Observation()
    val fStateTables = Future(store.writeFused(Seq(
      FusedPart("politeness", politenessNextCk
        .observe(polObs, collect_set(when(col("__avail_b") >= 0,
          col("__avail_b"))).as("avail_buckets"))
        .drop("__avail_b").coalesce(hostFiles),
        append = false, lineage = s"wave $wave politeness"),
      FusedPart("source_state", stateToWrite.coalesce(hostFiles),
        append = false, lineage = s"wave $wave discovery state"),
      FusedPart("telemetry", telemetry.coalesce(hostFiles),
        append = true, lineage = s"wave $wave method telemetry"),
      FusedPart("telemetry_http", httpTelemetry.coalesce(hostFiles),
        append = true, lineage = s"wave $wave http outcomes")), wave))
    Seq(fFrontier, fStateTables).foreach(Await.result(_, Duration.Inf))

    // the fused write materialized both checkpoints: they become next
    // wave's state reads, and the next wave's bucket sets ride out of
    // its observations (see WaveCarry)
    def buckets(obs: Observation, key: String): Seq[Int] =
      obs.get(key).asInstanceOf[scala.collection.Seq[Int]].toSeq.sorted
    val next = WaveCarry(Some(politenessNextCk.drop("__avail_b").as[PolitenessState]),
      Some(stateNextCk.drop("__due_b").as[SourceState]),
      dueBuckets = buckets(stateObs, "due_buckets"),
      availBuckets = buckets(polObs, "avail_buckets"))
    val metrics = commit(wave, discObs, dedupObs, resultsObs, stateObs, telemObs)

    // amortized maintenance: compact the delta log back to one row per
    // URL so merge-on-read input stays bounded (Iceberg-style MoR
    // compaction). Runs after the commit (a crash before the next
    // commit rolls it back harmlessly) on the cadence only — NOT after
    // the final wave: an end-of-run rewrite would sit inside the
    // crawl's timed critical path. A store opened for REPEATED reads
    // compacts once via [[CrawlEngine.compactForRead]] instead, so the
    // read side never pays a full-log scan per query.
    val finalWave = wave + 1 == cfg.nWaves
    if (cfg.compactEvery > 0 && (wave + 1) % cfg.compactEvery == 0 && !finalWave)
      compactFrontier(spark, store, nb, wave, s"compaction after wave $wave")
    perSource.unpersist()
    (metrics, next)
  }

  /** This wave's frontier delta: its discovery rows plus the planned
    * rows folded with their fetch outcomes (§1.4 transitions); everything
    * else in the frontier is untouched and stays by manifest reference. */
  private def frontierDeltaOf(discovered: DataFrame, plannedWide: DataFrame,
                              results: Dataset[FetchResult]): (DataFrame, Observation) = {
    val out = results.toDF().select(col("norm_url").as("r_url"),
      col("status").as("r_status"), col("http_status").as("r_http"),
      col("wave").as("r_wave"))
    val updates = plannedWide.drop("rank")
      .join(broadcast(out), col("norm_url") === col("r_url"), "inner")
      .withColumn("status",
        when(col("r_status").isin("429", "timeout", "captcha"), col("status")) // stay retryable
          .otherwise(col("r_status")))
      .withColumn("http_status", col("r_http").cast("int"))
      .withColumn("processed_wave",
        when(col("r_status").isin(TerminalStatuses: _*), col("r_wave"))
          .otherwise(col("processed_wave")))
      .withColumn("error_message",
        when(col("r_http") =!= 200, col("r_status")).otherwise(lit("")))
      .withColumn("seq", col("r_wave").cast("long") * 2L + 1L)
      .withColumn("is_update", lit(true))
      .drop("r_url", "r_status", "r_http", "r_wave")
    // dedupObs rides ONLY the frontier-write branch (the one action
    // guaranteed to stream every discovered row): attaching it on
    // `discovered` itself would put the metrics node inside
    // plannedWide's lazy checkpoint plan, which posts an empty-metrics
    // query-success event at definition time (see gatedDelta in verify)
    val dedupObs = Observation()
    val frontierDelta = discovered
      .observe(dedupObs,
        count(lit(1)).as("n"),
        count(when(col("status") === "robots_blocked", 1)).as("robots_blocked"))
      .unionByName(updates.select(FrontierCols.map(col): _*))
    (frontierDelta, dedupObs)
  }

  // Host/source-DIMENSION frames in the state legs broadcast while
  // the dim is broadcast-sized (≤ ~1M hosts ≈ tens of MB): each such
  // join collapses from an exchange+sort pair into a map-side hash
  // probe, taking the fused state write from ~20 scheduled stages to
  // a handful — at host cardinality the stages are all scheduling
  // latency, the parallelism-resistant serial tail the north-rule
  // scaling bar is sensitive to. Past that size the hint is skipped
  // and Catalyst plans the same equi-joins as shuffles (the 100-TB
  // path: ten-million-host dims shuffle; AQE picks strategies from
  // runtime stats on real, skewed corpora).
  private def dim[T](ds: Dataset[T]): Dataset[T] =
    if (cfg.nHosts <= 1000000) broadcast(ds) else ds

  /** Politeness: per-host outcome aggregation → pure kernel update,
    * crawl delay joined from the robots table (no driver map). A
    * relational groupBy, NOT a typed mapGroups: column pruning keeps
    * the image payload bytes out of the exchange and the partial
    * aggregation ships one row per (partition, host). Each row carries
    * the host's next-wave plan-scan bucket (`__avail_b`, -1 when not
    * available). */
  private def nextPoliteness(in: WaveIn, results: Dataset[FetchResult]): DataFrame = {
    val wave = in.wave
    val nb = cfg.nBuckets
    val waveSec = cfg.waveSeconds
    def n(c: Column): Column = count(when(c, 1)).cast("int")
    val outcomes = results.toDF()
      .groupBy(col("host").as("o_host")).agg(struct(
        n(col("status").isin(OkStatuses: _*)).as("ok"),
        n(col("status") === "404").as("notFound"),
        n(col("status") === "403").as("forbidden"),
        n(col("status") === "429").as("rateLimited"),
        n(col("status") === "timeout").as("timeout"),
        n(col("status") === "captcha").as("captcha")))
      .as[(String, Politeness.HostOutcome)]
    val delays = in.robots.select(col("host").as("d_host"), col("crawl_delay_s"))
      .as[(String, Double)]
    val pol = in.politeness
    val withOutcome = pol.joinWith(dim(outcomes), pol("host") === outcomes("o_host"), "left")
    withOutcome
      .joinWith(dim(delays), withOutcome("_1.host") === delays("d_host"), "left")
      .map { case ((st, o), d) =>
        // a host without a fetch this wave keeps its state
        val next = Option(o).fold(st)(o =>
          Politeness.update(st, o._2, wave, waveSec, Option(d).fold(0.0)(_._2)))
        // next wave's plan-scan bucket, decided by the SAME kernel the
        // wave's availability filter uses — rides out on an observation
        val availB =
          if (Politeness.available(next, wave + 1, waveSec))
            gf.hostBucketJvm(next.host, nb)
          else -1
        (next, availB)
      }
      .select(col("_1.*"), col("_2").as("__avail_b"))
  }

  /** Source state: set-based S11 rewrite — ledger (F13), pause counter
    * (F12/C8), sections (M4), method telemetry; each source's state row
    * meets its registry row and (when due) its [[SourceFacts]], and
    * the shared pure kernel makes the transition. Each row carries the
    * source's next-wave seen-scan bucket (`__due_b`, -1 when not due).
    * Returns the lazily checkpointed rewrite and the cached per-source
    * facts (freed by the caller). */
  private def nextState(in: WaveIn, due: Dataset[DueSource],
                        gatedDelta: DataFrame): (DataFrame, Dataset[SourceFacts]) = {
    val wave = in.wave
    val nb = cfg.nBuckets
    val cfgB = in.cfgB
    // facts-only evaluation: no second URL expansion (the links
    // flatMap in discover is the only place cascade materializes URLs)
    val facts = due.map(d => (d.source_id, SourceRules.cascadeFacts(cfgB.value)(
      d.host_idx, wave, d.methods, d.rss_skip, d.sections)))
    // one agg for the per-method new counts (as the outcome's
    // newByMethod map) AND M4 section inference
    def newOf(m: Int): Column = count(when(col("method_rank") === m, 1))
    val newLinks = gatedDelta.groupBy("source_id").agg(
      map(lit(0), newOf(0), lit(1), newOf(1), lit(2), newOf(2)),
      collect_set(nullif(
        regexp_extract(col("norm_url"), "/sections/([a-z]+)$", 1), lit(""))))
      .as[NewLinks]
    val perSource = facts
      .joinWith(dim(newLinks), facts("_1") === newLinks("source_id"), "left")
      .cache()
    val registry = in.allSources.select(col("source_id"), col("frequency"), col("status"))
      .as[(String, String, String)]
    val st = in.state
    val withRegistry = st.joinWith(dim(registry), st("source_id") === registry("source_id"))
    val stateNext = withRegistry
      .joinWith(dim(perSource), withRegistry("_1.source_id") === perSource("_1._1"), "left")
      .map { case ((prev, (_, frequency, status)), ps) =>
        val out = Option(ps).fold(prev) { case ((_, f), nl) => // no facts: not due
          val (newByMethod, sectionsFound) = Option(nl).fold(NoNewLinks)(l => (l._2, l._3))
          SourceRules.update(prev, frequency,
            SourceRules.DiscoveryOutcome(f.ranRss, f.rssFailed, f.ranHomepage, newByMethod,
              // M4: URL-inferred (Strategy 2) ∪ nav-parsed (Strategy 1)
              sectionsFound ++ f.navSections),
            wave)
        }
        // next wave's seen-scan bucket, decided by the SAME due kernel
        // the wave's due scan uses — rides out on the observation
        val dueB =
          if (SourceRules.due(out, status, frequency, wave + 1))
            gf.hostBucketJvm(out.host, nb)
          else -1
        (out, dueB)
      }
      .select(col("_1.*"), col("_2").as("__due_b"))
    // lazy localCheckpoint: the fused state write is the action that
    // materializes it, and the blocks double as next wave's
    // source_state (the carry) — lineage truncated, no extra job
    (stateNext.localCheckpoint(false), perSource)
  }

  /** Per-(source, method) telemetry (A5 surface,
    * telemetry.py:1777-1910) with its observation, and per-(host,
    * http_status) outcome telemetry (telemetry_orm.py:33-277). */
  private def telemetryOf(in: WaveIn, perSource: Dataset[SourceFacts],
                          results: Dataset[FetchResult]): (DataFrame, Observation, DataFrame) = {
    val wave = in.wave
    val telemObs = Observation()
    val telemetry = perSource.flatMap { case ((sid, f), nl) =>
      val newOf = Option(nl).fold(NoNewLinks._1)(_._2)
      Seq(
        TelemetryRow(wave, sid, "rss", f.ranRss, f.rawRss, newOf(0)),
        TelemetryRow(wave, sid, "homepage", f.ranHomepage, f.rawHomepage, newOf(1)),
        TelemetryRow(wave, sid, "section_crawl", f.rawSection > 0, f.rawSection, newOf(2)))
    }.toDF().observe(telemObs,
      sum(when(col("method") === "section_crawl", col("links_yielded"))
        .otherwise(lit(0L))).as("section_links"))
    // a second projection of the already-cached results — column
    // pruning keeps the payload bytes out of this exchange too
    val httpTelemetry = results.toDF().groupBy(col("host"), col("http_status"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(in.params) // wave as a parameter column, not a literal
      .select(col("cur_wave").as("wave"), col("host"), col("http_status"), col("n"))
    (telemetry, telemObs, httpTelemetry)
  }

  /** Assemble the wave's counters — all from observations riding the
    * write actions — and commit the wave. */
  private def commit(wave: Int, discObs: Observation, dedupObs: Observation,
                     resultsObs: Observation, stateObs: Observation,
                     telemObs: Observation): WaveMetrics = {
    def n(obs: Observation, key: String): Long = obs.get(key).asInstanceOf[Long]
    val nDiscovered = n(dedupObs, "n")
    val nPlanned = n(resultsObs, "planned")
    val nFetched = n(resultsObs, "fetched")
    val metrics = WaveMetrics(wave,
      discovered = nDiscovered,
      duplicates = math.max(0, n(discObs, "ok") - nDiscovered),
      out_of_scope = n(discObs, "out_of_scope"),
      filtered = n(discObs, "filtered"),
      expired = n(discObs, "expired"),
      planned = nPlanned,
      fetched = nFetched,
      failed = nPlanned - nFetched,
      robots_blocked = n(dedupObs, "robots_blocked"),
      rss_failures = n(stateObs, "rss_failures"),
      section_links = n(telemObs, "section_links"),
      paused_sources = n(stateObs, "paused_sources"))
    store.commitWave(wave,
      AllTables.map(t => t -> store.currentSnapshot(t).getOrElse(-1)).toMap,
      // every counter field by name (the wave number keys the record)
      metrics.productElementNames.zip(metrics.productIterator)
        .collect { case (k, v: Long) => k -> v }.toMap)
    metrics
  }

  /** Run (or resume) the crawl to `nWaves`. Crash recovery first rolls
    * every table back to the last committed wave's pins (a crash
    * mid-wave leaves some tables ahead of the commit), then continues
    * from [[WaveCarry.cold]], folding each wave's carry into the next;
    * the last carry is freed, so a run leaves no blocks behind. */
  def run(): Seq[WaveMetrics] = {
    init()
    store.recoverToLastCommit(AllTables)
    val start = store.lastCommittedWave() + 1
    val (metrics, last) = (start until cfg.nWaves)
      .foldLeft((Vector.empty[WaveMetrics], WaveCarry.cold(cfg.nBuckets))) {
        case ((ms, carry), wave) =>
          val (m, next) = runWave(wave, carry)
          (ms :+ m, next)
      }
    last.frames.foreach(Checkpoint.free)
    metrics
  }

  // ------------------------------------------------------------- helpers

  private def pathOf(c: Column) = regexp_replace(c, "^[a-z]+://[^/]*", "")

}

object CrawlEngine {

  /** What one wave hands the next. The politeness / source-state
    * rewrites stay in executor memory as checkpointed frames (the fused
    * state write is the action that materializes them — no extra job),
    * so the next wave reads executor memory instead of re-reading what
    * this wave just wrote; the store copy remains the durable truth,
    * written every wave, and `None` means "read the store". The two
    * bucket sets prune the next wave's scans: `dueBuckets` (due hosts:
    * the seen scan) and `availBuckets` (politeness-available hosts: the
    * plan backlog scan). Both ride out of the fused state write as
    * collect_set observations, decided by the same Scala kernels as the
    * due scan and the politeness gate, so no wave-start driver action
    * runs. */
  final case class WaveCarry(politeness: Option[Dataset[PolitenessState]],
                             state: Option[Dataset[SourceState]],
                             dueBuckets: Seq[Int], availBuckets: Seq[Int]) {
    /** The checkpointed frames this carry pins in executor storage. */
    def frames: Seq[Dataset[_]] = politeness.toSeq ++ state
  }

  object WaveCarry {
    /** The first wave of every run, fresh or resumed: nothing in
      * executor memory, and every bucket in both sets. Both bucket sets
      * only PRUNE scans, so a superset is always correct — it prunes
      * less and never changes a row. On a fresh store it is exact anyway
      * (every active source is due at last_wave = -1, every host is
      * available in its initial state, and the frontier is empty). On a
      * resume the all-bucket seen scan reads the `norm_url` column of
      * the whole frontier once, and shuffles none of it. The observed
      * sets of a SCOPED run are supersets in the same way: the state
      * legs see every source, while the due scan itself stays
      * scope-restricted by the registry semi-join. */
    def cold(nBuckets: Int): WaveCarry = {
      val all = 0 until nBuckets
      WaveCarry(None, None, all, all)
    }
  }

  /** The read side of one wave, shared by its stages: the broadcast
    * config, the one-row parameter table, and the input tables —
    * politeness and source state come from the carry, or from the store
    * on a cold start. */
  private final case class WaveIn(wave: Int, cfgB: Broadcast[Synth.Config], params: DataFrame,
                                  allSources: Dataset[Source], robots: DataFrame,
                                  politeness: Dataset[PolitenessState],
                                  state: Dataset[SourceState])

  /** Robots rule row: rules pre-sorted (longest prefix first, allow
    * winning equal-length ties) so longest-match = first array hit. */
  final case class RulePrefix(prefix: String, allow: Boolean)
  final case class RobotsHost(host: String, crawl_delay_s: Double, rules: Seq[RulePrefix])

  final case class DueSource(source_id: String, host_norm: String, frequency: String,
                             host_idx: Int, rss_skip: Boolean,
                             methods: Seq[Int], // A5 attempt order
                             sections: Seq[String])
  final case class RawLink(source_id: String, src_host: String, url: String,
                           method_rank: Int, attempt: Int, slot: Int, section: String)
  // src_host deliberately absent: it dies at the scope check and would
  // otherwise ride the hottest shuffle (the bucket dedup) for nothing
  final case class CandRow(norm_url: String, method_rank: Int, attempt: Int,
                           url: String, source_id: String, host: String,
                           pub_day: Int, slot: Int, section: String, host_bucket: Int)
  final case class Planned(norm_url: String, host: String, host_bucket: Int,
                           source_id: String, rank: Int)
  /** One due source's new links this wave: per-method counts keyed by
    * method rank (the [[SourceRules.DiscoveryOutcome]] `newByMethod`
    * shape) and the section names its URLs revealed (M4 Strategy 2). */
  type NewLinks = (String, Map[Int, Long], Seq[String])
  /** What a source without a new link counts. */
  val NoNewLinks: (Map[Int, Long], Seq[String]) = (Map(0 -> 0L, 1 -> 0L, 2 -> 0L), Seq.empty)
  /** A due source's cascade facts and, when it found any, its new links
    * (null otherwise — the outer-join miss). */
  type SourceFacts = ((String, SourceRules.CascadeFacts), NewLinks)

  /** HTTP-200 post-fetch content types (X4) + hard failures — statuses
    * that end a URL's frontier lifecycle (404 until the TTL elapses). */
  val OkStatuses: Seq[String] = Seq("extracted", "obituary", "opinion", "wire")
  val TerminalStatuses: Seq[String] = OkStatuses ++ Seq("404", "403")

  val FrontierCols: Seq[String] = Encoders.product[FrontierRow].schema.fieldNames.toSeq

  /** Per-host token ranking (W1/W4/O1/O3/O6) with a CONSTANT rank bound
    * (= the global ≤3/host cap) so Catalyst plans a WindowGroupLimit:
    * each map task keeps only its partial top-3 per host BEFORE the
    * shuffle — the ranking exchange carries O(3·hosts·tasks) rows, not
    * the whole backlog, and hot-host skew is clipped at the source. The
    * per-host token budget (≤ cap) applies as a residual filter after
    * the window. Ordering: priority desc, discovery wave asc, seeded
    * 64-bit mix, URL as the total-order tiebreak. The per-wave seed
    * arrives as the `mix_seed` COLUMN (not a literal) so the window
    * stage's generated code is wave-invariant. PlanSpec asserts the
    * WindowGroupLimit shape. */
  def rankPerHost(eligible: DataFrame, availHosts: DataFrame): DataFrame = {
    eligible
      // no broadcast hint: AQE picks broadcast at working scales and a
      // shuffle join when the host table outgrows the driver (10^8
      // hosts) — the token side must never be pinned driver-resident
      .join(availHosts, col("host") === col("p_host"), "inner")
      .withColumn("mix", xxhash64(col("mix_seed"), col("norm_url")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("host")
          .orderBy(col("priority").desc, col("discovered_wave").asc,
            col("mix").asc, col("norm_url").asc)))
      .filter(col("rn") <= Politeness.MaxPerDomainPerWave && col("rn") <= col("tokens"))
      .drop("p_host", "tokens", "mix")
      .withColumnRenamed("rn", "rank") // all input columns preserved + rank
  }

  /** Merge-on-read: latest (max-seq) version of every URL in the log.
    * Only ever applied to the UPDATE partition of the log (bounded by
    * rows planned since the last compaction) — never to the full log,
    * whose bytes would all shuffle through the aggregation buffer. */
  def mergeLog(logDf: DataFrame): DataFrame = {
    logDf.groupBy("norm_url")
      .agg(max(struct((Seq("seq") ++ FrontierCols.filterNot(_ == "seq")).map(col): _*)).as("r"))
      .select(FrontierCols.map(c => col(s"r.$c")): _*)
  }

  /** Fold the (small, merged) update log over the immutable discovery /
    * compacted rows: a URL's non-update row is written once, so the
    * current state is its row overlaid with its latest update's mutable
    * fields. The big side is scanned, never shuffled; the update side
    * is broadcast under AQE at working scales. */
  def foldLog(dRows: DataFrame, updates: DataFrame): DataFrame = {
    val u = mergeLog(updates).select(
      col("norm_url").as("u_url"), col("status").as("u_status"),
      col("http_status").as("u_http"), col("processed_wave").as("u_processed"),
      col("error_message").as("u_error"), col("seq").as("u_seq"))
    dRows
      .join(u, col("norm_url") === col("u_url"), "left")
      .withColumn("status", coalesce(col("u_status"), col("status")))
      .withColumn("http_status", coalesce(col("u_http"), col("http_status")))
      .withColumn("processed_wave", coalesce(col("u_processed"), col("processed_wave")))
      .withColumn("error_message", coalesce(col("u_error"), col("error_message")))
      .withColumn("seq", coalesce(col("u_seq"), col("seq")))
      .drop("u_url", "u_status", "u_http", "u_processed", "u_error", "u_seq")
  }

  /** [[foldLog]] of `log`'s update rows over `dRows`, planned only when
    * the frontier was appended to since its last full write. A full
    * frontier snapshot (init's empty one, a compaction) holds no update
    * row, so without appends `dRows` are already current. */
  private def foldUpdates(store: SnapshotStore, dRows: DataFrame, log: DataFrame): DataFrame =
    if (store.appendedSinceFullWrite("frontier")) foldLog(dRows, log.filter(col("is_update")))
    else dRows

  /** Compact the frontier delta log to one row per URL (the same form
    * cadence compaction writes). Called ONCE when a finished store is
    * opened for repeated reads (CrawlQueries / Bench): afterwards every
    * current-state read scans |frontier| compacted rows and plans no
    * update fold, instead of re-merging the raw log per query. A store
    * with no appends since its last full write is already one row per
    * URL and returns at once, with no Spark job. Runs OUTSIDE the
    * crawl's timed critical path by design. */
  def compactForRead(spark: SparkSession, store: SnapshotStore, nBuckets: Int): Unit =
    if (store.appendedSinceFullWrite("frontier"))
      compactFrontier(spark, store, nBuckets, store.lastCommittedWave(), "open-for-read compaction")

  /** Bucketed frontier writes hash the bucket key into ~2×cores
    * partitions, NOT one partition per bucket: the store's partitionBy
    * still emits exactly one file per bucket (a bucket hashes to one
    * task), so the per-bucket manifest and pruning are unchanged, while
    * task-launch and scheduling overhead stay proportional to the
    * CLUSTER, not the bucket count (at 10^4 buckets a per-bucket task
    * would put ~10^4 task launches per write on the driver's critical
    * path). */
  private def writeParts(spark: SparkSession, nBuckets: Int): Int =
    math.min(nBuckets, spark.sparkContext.defaultParallelism * 2)

  /** Rewrite the frontier log as one row per URL, a full bucketed
    * snapshot. Compacted rows are snapshot rows (is_update = false, set
    * by [[frontierCurrent]]): the plan pre-filter then excludes terminal
    * rows from the merge, and until the next append no fold is planned
    * ([[foldUpdates]]). */
  private def compactFrontier(spark: SparkSession, store: SnapshotStore, nBuckets: Int,
                              wave: Int, lineage: String): Unit =
    store.write(frontierCurrent(spark, store).repartition(writeParts(spark, nBuckets),
      col("host_bucket")), "frontier", wave, Some("host_bucket"), lineage)

  /** The frontier's current state (one row per URL) — queries/tests.
    * The update-log fold, NOT a full-log mergeLog: merge-on-read cost
    * is O(updates since last compaction), not O(frontier), and nothing
    * when the log had no appends since its last full write. Snapshot
    * view: is_update is a log-encoding artifact, normalized to false
    * (the same form compaction writes). */
  def frontierCurrent(spark: SparkSession, store: SnapshotStore): DataFrame = {
    val log = store.read(spark, "frontier")
    foldUpdates(store, log.filter(!col("is_update")), log)
      .withColumn("is_update", lit(false))
      .select(FrontierCols.map(col): _*)
  }

  /** RFC 9309 longest-match allow decision over pre-sorted rules (pure;
    * shared with the oracle — mirrors the HOF expression in the gate). */
  def robotsAllows(rules: Seq[(String, Boolean)], path: String): Boolean =
    rules.find { case (p, _) => path.startsWith(p) }.map(_._2).getOrElse(true)

  /** Fetch-hot-path SHA-256 hex: one digest per executor thread (the
    * per-row `MessageDigest.getInstance` provider lookup allocates) and
    * the JDK's table-driven lowercase hex (a `"%02x".format` per byte
    * allocates a java.util.Formatter each — 32 per row, GC-visible at
    * 10^5 rows/s). Output is byte-identical to the oracle's independent
    * `%02x` form. */
  private val sha256Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("SHA-256"))
  private val Hex = java.util.HexFormat.of()
  private[graft] def sha256Hex(bytes: Array[Byte]): String = {
    val d = sha256Local.get()
    d.reset()
    Hex.formatHex(d.digest(bytes))
  }

  /** Deterministic fetch resolver — the synthetic server. Computes the
    * ground-truth payload, applies the fault schedule (with F10
    * transient-404 recovery), classifies content type (X4), and
    * decodes the payload to record its dimensions and phash. It
    * computes no PSNR: CrawlEngineSpec checks the round-trip fidelity.
    * Lives on the companion so the fetch closure ships no engine
    * state. */
  private[crawl] def resolve(c: Synth.Config, contentPats: Seq[(String, String, String)],
                             norm: String, host: String, bucket: Int,
                             srcId: String, wave: Int, rank: Int): FetchResult = {
    val id = Synth.idOf(norm).getOrElse(-1L)
    val hostIdx = srcId.stripPrefix("src-").toInt
    val f = if (id < 0) Synth.NotFound else Synth.fault(c)(hostIdx, id, wave)
    f match {
      case Synth.Ok =>
        // payloadFor, not imageFor: the result row records the DECODED
        // round-trip's phash, so the source-image phash scan is skipped
        val (img, _) = Synth.payloadFor(c)(id)
        val decoded = ImageKernels.decode(img.bytes)
        val hash = sha256Hex(img.bytes)
        FetchResult(norm, host, bucket, srcId, wave, rank, 200,
          // X4: the status comes from the PAYLOAD via the pattern table
          ContentType.detect(img.caption, contentPats),
          img.image_id, img.bytes, decoded.getWidth, decoded.getHeight,
          img.fmt, img.caption, ImageKernels.phash64(decoded), hash)
      case other =>
        val status = other match {
          case Synth.NotFound => "404"
          case Synth.Forbidden => "403"
          case Synth.RateLimited => "429"
          case Synth.Timeout => "timeout"
          case Synth.Captcha => "captcha"
          case Synth.Ok => "extracted"
        }
        FetchResult(norm, host, bucket, srcId, wave, rank, Synth.httpStatus(other),
          status, "", Array.empty, 0, 0, "", "", 0L, "")
    }
  }
}
