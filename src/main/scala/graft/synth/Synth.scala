package graft.synth

import graft.model._
import graft.ops.ImageKernels
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic crawl world (FIXTURES.md): seed hosts, a
  * link graph whose URL shapes cover every reference filter branch, an
  * RFC 9309-ish robots rule set (graft-added), and a fault schedule
  * driving the status state machine. Everything is a pure function of
  * (seed, ids) — no RNG state, no wall clock — so any two runs (and any
  * two parallelism levels) see the identical world.
  *
  * Reference branch coverage (SURVEY.md §2 / FIXTURES.md §4):
  *  - dup variants (?utm / #frag / trailing slash) collapsing under
  *    normalize_url; cross-host out-of-scope links; skip-pattern and
  *    regex-non-article paths; expired and null publish dates; 404/403/
  *    429/timeout/captcha faults (extraction.py:1287-1450 branches);
  *  - multi-method discovery cascade with the ≥max/2 RSS short-circuit
  *    (source_processing.py:624-677): hosts with low-yield RSS cascade
  *    to the homepage method; hosts with failing RSS exercise the F13
  *    transient-failure ledger (discovery.py:1158-1515);
  *  - section pages (/sections/<name>) surfaced by the homepage method
  *    feed M4 section inference; the supplemental section crawl (S13,
  *    discovery.py:647-997) then expands /<section>/p-<id> articles;
  *  - transient 404s that recover after the dead-URL TTL (F10,
  *    crawler/__init__.py:509-513) and post-fetch content types
  *    (obituary/opinion/wire, X4, extraction.py:1085-1105);
  *  - a zero-new-URL host (rss always fails + homepage repeats wave 0)
  *    driving the F12 no-effective-methods auto-pause
  *    (source_processing.py:369-380).
  */
object Synth {

  final case class Config(
      nHosts: Int = 20,
      urlsPerHostPerWave: Int = 30,
      nWaves: Int = 3,
      seed: Long = 42L,
      waveSeconds: Double = 60.0, // logical seconds per wave
      recencyDays: Int = 7, // F8 watermark
      nowDay: Int = 20000, // logical "today" as day ordinal
      nBuckets: Int = 32, // frontier host-hash buckets
      imageSize: Int = 24,
      deadUrlTtlWaves: Int = 7, // F10 dead-URL TTL (1 wave ≙ 1 logical day)
      compactEvery: Int = 8, // frontier delta-log compaction cadence
      sectionLinksPerWave: Int = 5, // S13 supplemental yield per section
      datasetScope: String = null, // run scoped to one dataset label (null = all)
      sourcesCsv: String = null) // S12: seed the registry from a publisher CSV

  /** F13 ledger thresholds (discovery.py:1158-1515), days ≙ waves. */
  val RssWindowWaves = 7
  val RssWindowThreshold = 5
  val RssConsecThreshold = 3

  /** Scale-derived frontier bucket count: one bucket per ≤1e6 expected
    * URLs — a bounded per-task batch-dedup map and a bounded seen-key
    * scan per bucket — floored at `minParallel` (pass ~2× the total
    * core count) so the bucket-keyed batch dedup is never
    * parallelism-capped by the bucket count. The floor is
    * cluster-relative, not a constant: buckets cost files-per-wave, so
    * a 32-core box wants ~64, a 1000-executor cluster wants thousands,
    * and beyond that volume takes over (10^10 URLs → 10,000 buckets of
    * ~1e6 keys). Spec-size worlds pass an explicit small nBuckets;
    * every bench-scale world derives it from here. */
  def bucketsFor(expectedUrls: Long, minParallel: Int = 256): Int = {
    val byVolume = (expectedUrls + 999999L) / 1000000L
    math.max(minParallel.toLong, math.min(byVolume, 1L << 24)).toInt
  }

  /** Append `n` (non-negative) zero-padded to `width` digits — the
    * `f"$n%0${width}d"` form without a `java.util.Formatter` per call.
    * The URL generators below run once per RAW link (tens of millions
    * of calls per run), and the f-interpolator's Formatter — format
    * string re-parse + boxing + locale machinery per call — was the
    * discovery cascade's dominant allocation source (the stages the
    * round-5 event logs flagged at 58-85% GC under contention). Values
    * wider than `width` print in full, matching `%0Nd`. PadSpec pins
    * equality with the f-interpolator reference forms. */
  private[graft] def pad(sb: java.lang.StringBuilder, n: Long, width: Int): java.lang.StringBuilder = {
    // enforced, not just documented (r5 ADVICE): a negative input would
    // silently misformat ('000-12' where %0Nd prints '-0000012'); every
    // id space is non-negative by construction, so this never fires on
    // the hot path — it exists to fail fast if a future id space isn't
    require(n >= 0, s"pad requires non-negative input, got $n")
    var digits = 1
    var t = n / 10
    while (t != 0) { digits += 1; t /= 10 }
    var i = digits
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(n)
  }

  def hostName(i: Int): String =
    pad(new java.lang.StringBuilder(17).append("host-"), i.toLong, 4)
      .append(".example").toString

  private def mix(parts: Long*): Long = {
    var h = 0xcbf29ce484222325L
    parts.foreach { p =>
      var x = p
      var i = 0
      while (i < 8) { h ^= (x & 0xff); h *= 0x100000001b3L; x >>>= 8; i += 1 }
    }
    h
  }

  val FrequencyVocab: Seq[String] =
    Seq("daily", "weekly", "bi-weekly", "monthly", "broadcast", null)

  def frequencyOf(idx: Int): String = FrequencyVocab(idx % FrequencyVocab.length)
  def sensitivityOf(idx: Int): Int = 1 + idx % 10
  def statusOf(idx: Int): String = if (idx % 19 == 18) "paused" else "active"

  /** Seed registry (reference sources synthesis per FIXTURES.md §2). */
  def sources(spark: SparkSession, cfg: Config): Dataset[Source] = {
    import spark.implicits._
    spark.range(cfg.nHosts).map { i =>
      val idx = i.toInt
      val h = hostName(idx)
      Source(
        source_id = f"src-$idx%04d",
        host = s"www.$h",
        host_norm = h,
        canonical_name = f"Publisher $idx%04d",
        frequency = frequencyOf(idx),
        bot_sensitivity = sensitivityOf(idx),
        status = statusOf(idx),
        base_url = s"https://www.$h",
        http_precheck = precheckOf(idx))
    }
  }

  /** Article id for (host, wave, slot) — the RSS/homepage id space. */
  def articleId(cfg: Config)(hostIdx: Int, wave: Int, slot: Int): Long =
    (hostIdx.toLong * cfg.nWaves + wave) * cfg.urlsPerHostPerWave + slot

  // ---- multi-method discovery (S5/S6/S13 + cascade) ----

  /** The F12 host: RSS always fails AND the homepage repeats its wave-0
    * links, so every due wave after 0 yields zero new URLs. */
  def isZeroNewHost(hostIdx: Int): Boolean = hostIdx % 12 == 6

  /** The F13 window host: RSS fails except when wave%3==2, accumulating
    * ≥5 failures inside a 7-wave window without ever reaching 3
    * consecutive. Its homepage is STALE (see isStaleHomepageHost) so
    * homepage effectiveness never proves and A5 gating cannot preempt
    * the ledger. (Disjoint from isZeroNewHost: no x has x≡6 (mod 12)
    * and x≡4 (mod 8).) */
  def isWindowHost(hostIdx: Int): Boolean = hostIdx % 8 == 4

  /** The A5-gating host: RSS never succeeds while the homepage stays
    * productive — after two attempts each, homepage is PROVEN (100%
    * success) and rss is not (0%), so effectiveness gating stops
    * attempting RSS entirely (the reference's proven-methods-preempt
    * behavior, source_processing.py:395-421). idx%20==10 → idx%6==4
    * (broadcast cadence) for idx≡10 (mod 60), so the class is due every
    * wave and the 2-attempt threshold is reached by wave 2; never ≡4
    * (mod 8), so it is disjoint from the window host; the zero-new
    * overlap (idx≡30 mod 60) defers to that class. */
  def isDeadFeedHost(hostIdx: Int): Boolean =
    hostIdx % 20 == 10 && !isZeroNewHost(hostIdx)

  /** RSS reliability schedule (F12 / F13-window / A5-gating host
    * classes; all remaining hosts have healthy feeds). */
  def rssFails(hostIdx: Int, wave: Int): Boolean =
    isZeroNewHost(hostIdx) || isDeadFeedHost(hostIdx) ||
      (isWindowHost(hostIdx) && wave % 3 != 2)

  /** Hosts whose homepage serves a stale snapshot (wave-0 links
    * forever): the F12 zero-new host, and the F13 window host so its
    * homepage never proves effective (success = NEW urls). */
  def isStaleHomepageHost(hostIdx: Int): Boolean =
    isZeroNewHost(hostIdx) || isWindowHost(hostIdx)

  /** O6: per-URL fetch priority by discovery method — RSS-discovered
    * URLs outrank homepage-discovered, which outrank supplemental
    * section finds (reference stores a per-candidate priority,
    * src/models/__init__.py:110, written at discovery time,
    * source_processing.py:1439-1440; the rebuild derives it from the
    * discovering method so the ranking term varies). */
  def priorityOf(methodRank: Int): Int = 3 - methodRank

  /** Dataset dimension (seed-list scoping): the reference scopes a run
    * to one dataset label via datasets ⋈ dataset_sources N:M tables
    * (src/models/__init__.py:492-630; joined into the discovery SQL at
    * src/crawler/discovery.py:2127-2134). The synth membership is
    * genuinely N:M — hosts can be in both, one, or neither dataset. */
  val DatasetLabels: Seq[String] = Seq("ds-local", "ds-regional")

  def datasetsOf(hostIdx: Int): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (hostIdx % 2 == 0) b += "ds-local"
    if (hostIdx % 3 == 0) b += "ds-regional"
    b.result()
  }

  /** F9 wire-service URL substrings — the reference keeps these as
    * DB-driven pattern rows (src/models/__init__.py:351-403, consumed at
    * url_verification.py:372-393), not code; the engine loads them from
    * the `wire_patterns` table and applies them as a broadcast
    * any-match. */
  val WirePatterns: Seq[String] = Seq("/wire/", "/wires/", "/ap-content/")

  /** Wire-service article ids live in their own range (one per
    * host-wave; 8-digit ids hold to ~30M host-waves, far beyond any
    * bench world). */
  private val WireIdBase = 70000000L

  def wireId(cfg: Config)(hostIdx: Int, wave: Int): Long =
    WireIdBase + hostIdx.toLong * cfg.nWaves + wave

  /** RSS yield: every 3rd host has a sparse feed (cascades to the
    * homepage method); others fill the per-source cap and short-circuit. */
  def rssYield(cfg: Config)(hostIdx: Int): Int =
    if (hostIdx % 3 == 0) math.max(1, cfg.urlsPerHostPerWave / 4)
    else cfg.urlsPerHostPerWave

  /** RSS expansion: None = transient feed failure (F13 ledger event). */
  def rssLinks(cfg: Config)(hostIdx: Int, wave: Int): Option[Seq[(String, Int)]] =
    if (rssFails(hostIdx, wave)) None
    else Some(shapedLinks(cfg)(hostIdx, wave, 0 until rssYield(cfg)(hostIdx)))

  /** Homepage expansion: the full slot range (overlapping RSS — the
    * order-preserving union dedup, U1) plus nav section pages (M4 feed).
    * The F12 host's homepage serves a stale snapshot: wave-0 links
    * forever. */
  def homepageLinks(cfg: Config)(hostIdx: Int, wave: Int): Seq[(String, Int)] = {
    val w = if (isStaleHomepageHost(hostIdx)) 0 else wave
    val h = hostName(hostIdx)
    shapedLinks(cfg)(hostIdx, w, 0 until cfg.urlsPerHostPerWave) ++
      sectionsOf(hostIdx).zipWithIndex.map { case (s, i) =>
        (s"https://www.$h/sections/$s", cfg.urlsPerHostPerWave + i)
      } :+ {
        // one syndicated wire story per homepage snapshot (F9: tagged
        // `wire` pre-fetch by the pattern table, never planned)
        (pad(new java.lang.StringBuilder(64).append("https://www.").append(h)
          .append("/wire/ap-"), wireId(cfg)(hostIdx, w), 8).toString,
          cfg.urlsPerHostPerWave + MaxSections)
      }
  }

  /** Section vocabulary. news/blog surface as `/sections/<name>` URLs
    * (Strategy-2 URL inference); `local` is NAV-ONLY — it exists solely
    * in the homepage's navigation block, so only the M4 nav parse can
    * discover it. Article URL shapes per section are chosen to pass the
    * conservative F6 check (url_filters.py section patterns). */
  val SectionVocab: Array[String] = Array("news", "blog", "local")
  val MaxSections: Int = SectionVocab.length

  /** Sections advertised as `/sections/<name>` links on the homepage
    * (the URL-inference M4 path). */
  def sectionsOf(hostIdx: Int): Seq[String] =
    if (hostIdx % 2 == 0) Seq("news", "blog") else Seq("news")

  /** Hosts whose navigation advertises the nav-only `local` section:
    * the idx%4==1 class (weekly/monthly cadence — discovers the section
    * but rarely re-crawls, exercising discovery alone) and the
    * idx%12==0 class (daily cadence + sparse RSS, so the homepage —
    * and with it the nav parse — runs every wave and the supplemental
    * crawl actually fetches `local` articles from wave 1 on). */
  def hasLocalNavSection(hostIdx: Int): Boolean =
    hostIdx % 4 == 1 || hostIdx % 12 == 0

  /** The homepage's navigation HTML (served with every homepage
    * snapshot): the accepted section fronts, plus one of every reject
    * class the reference's nav parse filters out — deep paths,
    * keyword-free links, feeds, non-http protocols, cross-domain links,
    * the root (discovery.py:726-771). */
  def navBlockOf(hostIdx: Int): String = {
    val h = s"www.${hostName(hostIdx)}"
    val items = Seq.newBuilder[String]
    sectionsOf(hostIdx).foreach(s =>
      items += s"""<a href="/sections/$s/">${s.capitalize}</a>""")
    if (hasLocalNavSection(hostIdx))
      items += """<a href="/local/">Local coverage</a>"""
    items += """<a href="/news/archive/2020/">News archive</a>""" // depth > 2
    items += """<a href="/weirdo/">Weird stuff</a>""" // no section keyword
    items += """<a href="/feed/rss.xml">RSS</a>""" // feed path
    items += s"""<a href="mailto:desk@${hostName(hostIdx)}">Contact</a>""" // protocol
    items += """<a href="https://other-00.example/news/">More news</a>""" // cross-domain
    items += """<a href="/">Home</a>""" // root
    s"""<html><body><nav class="main">${items.result().mkString("\n")}</nav>""" +
      s"""<div class="content">stories for $h</div></body></html>"""
  }

  private val SectionIdBase = 50000000L

  def sectionArticleId(cfg: Config)(hostIdx: Int, wave: Int, sectionIdx: Int, k: Int): Long =
    SectionIdBase +
      ((hostIdx.toLong * cfg.nWaves + wave) * MaxSections + sectionIdx) *
        cfg.sectionLinksPerWave + k

  /** Supplemental section crawl (S13): articles under a discovered
    * section prefix. news/blog articles live at /<section>/p-<id>
    * (F6 section patterns); the nav-only `local` section publishes
    * under /stories/local-<id> (F6 story pattern). */
  def sectionLinks(cfg: Config)(hostIdx: Int, wave: Int, section: String): Seq[(String, Int)] = {
    val h = hostName(hostIdx)
    val si = SectionVocab.indexOf(section)
    val w = if (isZeroNewHost(hostIdx)) 0 else wave // stale sections too
    if (si < 0) Seq.empty
    else (0 until cfg.sectionLinksPerWave).map { k =>
      val id = sectionArticleId(cfg)(hostIdx, w, si, k)
      val sb = new java.lang.StringBuilder(64).append("https://www.").append(h)
      if (section == "local") sb.append("/stories/local-")
      else sb.append('/').append(section).append("/p-")
      (pad(sb, id, 8).toString, k)
    }
  }

  /** Raw discovered links for (source, wave, slots) — URL shapes by
    * slot: clean story, utm-dup, frag-dup, date path, skip-pattern,
    * regex-non-article, out-of-scope host, robots-blocked. Publish day
    * ages with the article id (some expired, some null). */
  def shapedLinks(cfg: Config)(hostIdx: Int, wave: Int, slots: Range): Seq[(String, Int)] = {
    val h = hostName(hostIdx)
    slots.map { slot =>
      val id = articleId(cfg)(hostIdx, wave, slot)
      // builder forms, not f-interpolators: this closure runs once per
      // raw link (the hottest expansion in the engine) and a Formatter
      // per URL was its dominant allocation; `story` is by-name so the
      // variant slots never build the unused base URL
      def onHost(path: String): java.lang.StringBuilder =
        new java.lang.StringBuilder(64).append("https://www.").append(h).append(path)
      def story(suffix: String): String =
        pad(onHost("/stories/a-"), id, 8).append(suffix).toString
      val url = slot % 10 match {
        case 0 | 1 | 2 => story("")
        case 3 => pad(onHost("/photo-gallery/g-"), id, 8).toString // F5 → not_article
        case 4 => story("?utm_source=rss&ref=feed")
        case 5 => story("#comments")
        case 6 =>
          val d = math.abs(publishDay(cfg)(id))
          val y = 2020 + (d % 5); val m = 1 + (d % 12); val dd = 1 + (d % 28)
          val sb = onHost("/")
          pad(sb, y.toLong, 4).append('/')
          pad(sb, m.toLong, 2).append('/')
          pad(sb, dd.toLong, 2).append("/title-")
          pad(sb, id, 8).toString
        case 7 => onHost("/category/section-").append(id).toString // F4 skip
        case 8 => // F7 scope
          pad(pad(new java.lang.StringBuilder(64).append("https://other-"),
            (hostIdx % 5).toLong, 2).append(".example/stories/x-"), id, 8).toString
        case _ => pad(onHost("/private/stories/a-"), id, 8).toString // robots-blocked (article-like path so it survives verification and is dropped by the robots join)
      }
      (url, slot)
    }
  }

  /** Synthetic publish day ordinal; -1 ≙ null (nulls pass the recency
    * filter, discovery.py:1937-1942). Slot-keyed: ~1/11 null, ~1/7 old. */
  def publishDay(cfg: Config)(id: Long): Int =
    publishDay(cfg.seed, cfg.nowDay, cfg.recencyDays, id)

  /** Param form shared by the Scala path and the codegen expression
    * ([[PublishDay]]) — one definition, bit-identical everywhere. */
  def publishDay(seed: Long, nowDay: Int, recencyDays: Int, id: Long): Int = {
    val m = mix(seed, 0x9e37L, id)
    if (java.lang.Long.remainderUnsigned(m, 11) == 0) -1
    else if (java.lang.Long.remainderUnsigned(m, 7) == 0)
      nowDay - recencyDays - 1 - (java.lang.Long.remainderUnsigned(m >>> 8, 30)).toInt
    else nowDay - (java.lang.Long.remainderUnsigned(m >>> 8, recencyDays.toLong)).toInt
  }

  def crawlDelayOf(hostIdx: Int): Double = (hostIdx % 4) * 2.0

  /** Pure robots rule list for one host, sorted for longest-match with
    * allow winning equal-length ties (RFC 9309) — shared by the oracle. */
  def robotsRulesOf(hostIdx: Int): Seq[(String, Boolean)] = {
    val base = Seq(("/private/", false), ("/", true))
    val rs = if (hostIdx % 13 == 12) ("/stories/", false) +: base else base
    rs.sortBy { case (p, allow) => (-p.length, if (allow) 0 else 1) }
  }

  // ---- the deterministic "server" (fetch resolver) ----

  sealed trait Fault
  case object Ok extends Fault
  case object NotFound extends Fault
  case object Forbidden extends Fault
  case object RateLimited extends Fault
  case object Timeout extends Fault
  case object Captcha extends Fault

  /** Wave the article id belongs to (its discovery wave) — inverts both
    * id spaces; drives the transient-404 recovery schedule. */
  def idWave(cfg: Config)(id: Long): Int =
    if (id >= SectionIdBase)
      (((id - SectionIdBase) / cfg.sectionLinksPerWave / MaxSections) % cfg.nWaves).toInt
    else ((id / cfg.urlsPerHostPerWave) % cfg.nWaves).toInt

  /** Fault schedule: pure function of (seed, url-id, wave). 403 clusters
    * on every 17th host (exercising the ×2-forbidden auto-pause,
    * extraction.py:1419-1450); 429/captcha cluster lightly elsewhere.
    * Half the 404s are transient: the page appears once the dead-URL TTL
    * has elapsed since its discovery wave (F10 re-admission,
    * crawler/__init__.py:509-513). */
  def fault(cfg: Config)(hostIdx: Int, id: Long, wave: Int): Fault = {
    if (hostIdx % 17 == 16 && id % 3 != 0) Forbidden
    else {
      val m = java.lang.Long.remainderUnsigned(mix(cfg.seed, 0xfa17L, id), 100)
      if (m < 2) NotFound // permanent
      else if (m < 4) { // transient — recovers after the TTL
        if (wave >= idWave(cfg)(id) + cfg.deadUrlTtlWaves) Ok else NotFound
      }
      else if (m < 6) RateLimited
      else if (m < 8) Timeout
      else if (m < 9) Captcha
      else Ok
    }
  }

  def httpStatus(f: Fault): Int = f match {
    case Ok => 200
    case NotFound => 404
    case Forbidden => 403
    case RateLimited => 429
    case Timeout => 0
    case Captcha => 403
  }

  /** Ground-truth content class of an article id (X4): decides which
    * detector MARKERS the synthetic caption carries
    * (extracted | obituary | opinion | wire). The engine never reads
    * this at fetch time — it classifies the PAYLOAD with the shared
    * [[graft.crawl.ContentType]] detector over the `content_patterns`
    * table (content_type_detector.py:948,1071,1134; statuses set at
    * extraction.py:1085-1105); ContentTypeSpec asserts the detector
    * recovers exactly this class for every id. */
  def contentTypeOf(cfg: Config)(id: Long): String = {
    val m = java.lang.Long.remainderUnsigned(mix(cfg.seed, 0xc047L, id), 25)
    if (m == 0) "obituary"
    else if (m == 1) "opinion"
    else if (m == 2) "wire"
    else "extracted"
  }

  /** X4 detector pattern seed — DB-driven rows like the reference's
    * wire_services / keyword tables (content_type_detector.py:61-183,
    * loaded from DB at :237-260), never code constants in the engine:
    * (ptype, kind, pattern); kind ∈ {contains, prefix}; detection tier
    * order is wire → obituary → opinion. */
  val ContentPatterns: Seq[(String, String, String)] = Seq(
    ("wire", "contains", "associated press"),
    ("wire", "contains", "(ap) wire"),
    ("wire", "contains", "reuters"),
    ("obituary", "contains", "passed away"),
    ("obituary", "contains", "funeral service"),
    ("obituary", "contains", "survived by"),
    ("opinion", "prefix", "opinion:"),
    ("opinion", "prefix", "editorial:"),
    ("opinion", "prefix", "letter:"))

  /** Verification HTTP-precheck model (url_verification.py:218-347):
    * whether a source's verifier runs the HEAD/GET precheck is per-
    * deployment config — modeled as a per-source column. Errors on a
    * precheck-enabled source are terminal `verification_failed`; on a
    * sniffer-first source they stay non-terminal
    * `verification_uncertain` (statuses at :542-559). */
  def precheckOf(hostIdx: Int): Boolean = hostIdx % 2 == 0

  /** Seed offset for the precheck fault hash (engine mirrors it as
    * `pmod(xxhash64(lit(seed+PrecheckSeed), norm_url), 150) < 2`). */
  val PrecheckSeed = 0xECCL

  /** ~1.3% of verification-stage candidates hit an exhausted HTTP
    * precheck / sniffer exception — pure function of the URL. */
  def precheckError(cfg: Config)(normUrl: String): Boolean =
    Math.floorMod(graft.core.functions.mixKey64(cfg.seed + PrecheckSeed, normUrl),
      150L) < 2L

  /** Ground-truth payload for an article id: seeded pixels encoded png
    * (4 of 5) or jpeg (1 of 5), deterministic caption, integer phash. */
  def imageFor(cfg: Config)(id: Long): ImageRow = {
    val (row, img) = payloadFor(cfg)(id)
    row.copy(phash = ImageKernels.phash64(img))
  }

  /** The fetch hot path's variant: identical payload bytes/caption but
    * WITHOUT the source-image phash scan (the fetch records the DECODED
    * round-trip's phash, so the source phash would be computed and
    * discarded — one full pixel pass per fetched row). Returns the
    * pre-encode image too so callers needing the phash share one
    * synthesis. */
  def payloadFor(cfg: Config)(id: Long): (ImageRow, java.awt.image.BufferedImage) = {
    val img = ImageKernels.synthPixels(cfg.seed ^ id, cfg.imageSize, cfg.imageSize)
    val fmt = if (id % 5 == 4) "jpeg" else "png"
    val bytes = ImageKernels.encode(img, fmt)
    (ImageRow(
      image_id = f"img-$id%08d",
      bytes = bytes,
      w = cfg.imageSize,
      h = cfg.imageSize,
      fmt = fmt,
      caption = captionFor(cfg, id),
      phash = 0L), img)
  }

  /** Caption text carries the class markers the X4 detector keys on
    * (title/content keyword tiers of content_type_detector.py); the
    * base vocabulary never collides with any pattern, so
    * detect(caption) == contentTypeOf(id) exactly. */
  def captionFor(cfg: Config, id: Long): String = {
    val vocab = Array("river", "bridge", "council", "school", "harvest",
      "storm", "festival", "election", "market", "wildfire")
    val m = mix(cfg.seed, 0xca9L, id)
    val a = vocab((java.lang.Long.remainderUnsigned(m, 10)).toInt)
    val b = vocab((java.lang.Long.remainderUnsigned(m >>> 16, 10)).toInt)
    val base = f"$a and $b story $id%08d"
    contentTypeOf(cfg)(id) match {
      case "obituary" =>
        if (id % 2 == 0) f"$a $b memorial $id%08d — passed away; funeral service set"
        else f"remembering $a $b $id%08d — survived by family"
      case "opinion" =>
        if (id % 2 == 0) s"opinion: $base from the $b desk"
        else s"editorial: $base from the $b desk"
      case "wire" =>
        if (id % 2 == 0) s"$base (associated press)"
        else s"$base (ap) wire dispatch"
      case _ => base
    }
  }

  /** Parse the article id back out of a normalized synthetic URL.
    * INTENTIONALLY parses only exactly-8-digit tails: ids ≥ 1e8 print in
    * full (the %0Nd overflow behavior PadSpec pins) and return None here
    * — engine and oracle share this parser, so such worlds stay
    * consistent (every fetch of an unparseable id is a deterministic
    * 404). If the id space ever legitimately exceeds 8 digits, widen the
    * pad and this parser TOGETHER (r5 ADVICE). */
  def idOf(normUrl: String): Option[Long] = {
    val i = normUrl.lastIndexOf('-')
    if (i < 0) None
    else {
      val tail = normUrl.substring(i + 1)
      if (tail.length == 8 && tail.forall(_.isDigit)) Some(tail.toLong) else None
    }
  }
}
