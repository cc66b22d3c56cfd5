package graft.crawl

import graft.core.UrlKernels
import graft.model.SourceState
import graft.synth.Synth

/** Pure per-source discovery-state kernels shared by the Spark engine
  * and the single-threaded test oracle (same pattern as [[Politeness]]).
  * Logical time: 1 wave ≙ 1 day, so the reference's day-based ledger
  * thresholds apply to wave numbers directly.
  *
  * Reference rules:
  *  - F13 RSS transient-failure ledger: record each feed failure; the
  *    feed is declared missing after 3 consecutive failures OR ≥5
  *    failures inside a 7-day window; while missing, RSS is skipped
  *    until the retry window (rssRetryWindowDays, cadence-scaled)
  *    elapses; a success clears the ledger
  *    (discovery.py:1158-1515, 1920-1935).
  *  - F12 no-effective-methods counter: a due wave in which no method
  *    yields any NEW url increments the counter; at the cadence-adaptive
  *    threshold (C8) the source auto-pauses
  *    (source_processing.py:301-380).
  *  - M4 discovered sections accumulate monotonically
  *    (source_processing.py:461-619).
  *  - A5 effectiveness-gated method selection: per-(source,method)
  *    attempt/success telemetry is CONSUMED to decide which discovery
  *    methods even run (source_processing.py:369-440 via
  *    telemetry.py:1777-1910 — `success_rate > 50 ∧ articles > 0 ∧
  *    attempts ≥ 2` proves a method; proven methods preempt the rest;
  *    the last successful method is always attempted first,
  *    tests/test_prioritization.py:14-48).
  */
object SourceRules {

  /** What one wave's discovery did for one due source. */
  final case class DiscoveryOutcome(
      ranRss: Boolean, // rss actually ran (not A5-gated, not F13-skipped)
      rssFailed: Boolean,
      ranHomepage: Boolean, // homepage ran (not gated, not short-circuited)
      newByMethod: Map[Int, Long], // method_rank (0=rss,1=homepage,2=section) → new urls
      sectionsFound: Seq[String])

  val MethodNames: Map[Int, String] = Map(0 -> "rss", 1 -> "homepage", 2 -> "section_crawl")

  def initial(sourceId: String, host: String): SourceState =
    SourceState(sourceId, host, last_wave = -1,
      rss_consecutive_failures = 0, rss_failure_waves = Seq.empty,
      rss_missing_wave = -1, no_effective_consecutive = 0,
      paused_auto = false, last_successful_method = "",
      discovered_sections = Seq.empty,
      rss_attempts = 0, rss_successes = 0,
      homepage_attempts = 0, homepage_successes = 0)

  /** Is the source due at `wave` (F11 predicate + F12 pause gate)? */
  def due(st: SourceState, sourceStatus: String, frequency: String, wave: Int): Boolean =
    sourceStatus == "active" && !st.paused_auto && {
      st.last_wave < 0 ||
        (wave - st.last_wave).toDouble >= UrlKernels.parseFrequencyToDays(frequency)
    }

  /** Is RSS skipped at `wave` because the feed is marked missing and the
    * cadence-scaled retry window has not elapsed (F13 skip + C7)? */
  def rssSkipped(st: SourceState, frequency: String, wave: Int): Boolean =
    st.rss_missing_wave >= 0 &&
      wave < st.rss_missing_wave + UrlKernels.rssRetryWindowDays(frequency)

  /** A5: the discovery methods to attempt this wave, in attempt order.
    * A method is PROVEN once `attempts ≥ 2 ∧ successes > 0 ∧
    * success_rate > 50%` (telemetry.py:1871-1881); when any method is
    * proven, ONLY proven methods run (ordered by success rate desc,
    * method rank as the tie-break), else every method runs
    * (source_processing.py:404-421's try-all fallback). The last
    * successful method is moved to the front
    * (`_prioritize_last_success`, source_processing.py:407-440).
    * Success here = the method yielded NEW urls that wave (the rebuild's
    * articles_found analogue). Section crawl is supplemental (driven by
    * discovered_sections), not part of the gated cascade. */
  def effectiveMethods(st: SourceState): Seq[Int] = {
    def stats(m: Int): (Int, Int) =
      if (m == 0) (st.rss_attempts, st.rss_successes)
      else (st.homepage_attempts, st.homepage_successes)
    val proven = Seq(0, 1).filter { m =>
      val (a, s) = stats(m)
      a >= 2 && s > 0 && s * 2 > a
    }
    val base =
      if (proven.isEmpty) Seq(0, 1)
      else proven.sortBy { m => val (a, s) = stats(m); (-(s.toDouble / a), m) }
    Seq(0, 1).find(m => MethodNames(m) == st.last_successful_method &&
        base.contains(m)) match {
      case Some(m) => m +: base.filterNot(_ == m)
      case None => base
    }
  }

  /** One discovered link as the cascade emits it: `attempt` is the
    * method's position in this wave's attempt order (the in-batch dedup
    * preference, W2/U1); `methodRank` the method identity (lineage,
    * telemetry, priority). Sections always carry attempt = 2. */
  final case class CascadeLink(url: String, methodRank: Int, attempt: Int,
                               slot: Int, section: String)
  final case class CascadeRun(links: IndexedSeq[CascadeLink],
                              ranRss: Boolean, rssFailed: Boolean,
                              ranHomepage: Boolean,
                              rawRss: Long, rawHomepage: Long, rawSection: Long,
                              navSections: Seq[String])

  /** One due source's discovery cascade (S5/S6/S13 + U1 + A5): run the
    * A5-selected methods in attempt order; a healthy RSS yield ≥ max/2
    * short-circuits every method not yet attempted
    * (source_processing.py:624-677); the supplemental section crawl
    * always runs for already-discovered sections (discovery.py:647-997).
    * Shared verbatim by the Spark engine (discovery flatMap) and the
    * oracle — a single definition of what one source does. */
  def cascade(cfg: Synth.Config)(hostIdx: Int, wave: Int, order: Seq[Int],
              rssSkip: Boolean, sections: Seq[String]): CascadeRun = {
    val out = IndexedSeq.newBuilder[CascadeLink]
    var ranRss = false; var rssFailed = false; var ranHomepage = false
    var rawRss = 0L; var rawHomepage = 0L
    var stop = false
    order.zipWithIndex.foreach { case (m, attempt) =>
      if (!stop) m match {
        case 0 =>
          if (!rssSkip) { // F13 retry window: skipped ≠ attempted
            ranRss = true
            Synth.rssLinks(cfg)(hostIdx, wave) match {
              case None => rssFailed = true
              case Some(ls) =>
                rawRss = ls.size.toLong
                ls.foreach { case (u, s) => out += CascadeLink(u, 0, attempt, s, null) }
                if (rawRss >= cfg.urlsPerHostPerWave / 2) stop = true
            }
          }
        case 1 =>
          ranHomepage = true
          val ls = Synth.homepageLinks(cfg)(hostIdx, wave)
          rawHomepage = ls.size.toLong
          ls.foreach { case (u, s) => out += CascadeLink(u, 1, attempt, s, null) }
        case _ => ()
      }
    }
    var rawSection = 0L
    sections.foreach { sec =>
      Synth.sectionLinks(cfg)(hostIdx, wave, sec).foreach { case (u, k) =>
        out += CascadeLink(u, 2, 2, k, sec)
        rawSection += 1
      }
    }
    CascadeRun(out.result(), ranRss, rssFailed, ranHomepage,
      rawRss, rawHomepage, rawSection, navSectionsOf(hostIdx, ranHomepage))
  }

  /** M4 Strategy 1: parse the homepage's navigation block for section
    * fronts — only when the homepage method actually ran this wave
    * (the nav HTML arrives with the homepage fetch). */
  def navSectionsOf(hostIdx: Int, ranHomepage: Boolean): Seq[String] =
    if (!ranHomepage) Seq.empty
    else NavDiscovery.sectionNames(s"www.${Synth.hostName(hostIdx)}",
      Synth.navBlockOf(hostIdx))

  /** The per-source facts of one wave's cascade WITHOUT materializing a
    * single URL string (yields are closed-form in the synth world):
    * the engine's state-update path needs only these, so evaluating the
    * full cascade a second time per due source (as the discovery
    * flatMap already does for the links) would double the hottest
    * stage's expansion CPU for nothing. Must stay consistent with
    * [[cascade]] — SourceRulesSpec sweeps both over the full
    * (host, wave, order, skip, sections) space and asserts equality. */
  final case class CascadeFacts(ranRss: Boolean, rssFailed: Boolean,
                                ranHomepage: Boolean,
                                rawRss: Long, rawHomepage: Long, rawSection: Long,
                                navSections: Seq[String])

  def cascadeFacts(cfg: Synth.Config)(hostIdx: Int, wave: Int, order: Seq[Int],
                   rssSkip: Boolean, sections: Seq[String]): CascadeFacts = {
    var ranRss = false; var rssFailed = false; var ranHomepage = false
    var rawRss = 0L; var rawHomepage = 0L
    var stop = false
    order.foreach { m =>
      if (!stop) m match {
        case 0 =>
          if (!rssSkip) {
            ranRss = true
            if (Synth.rssFails(hostIdx, wave)) rssFailed = true
            else {
              rawRss = Synth.rssYield(cfg)(hostIdx).toLong
              if (rawRss >= cfg.urlsPerHostPerWave / 2) stop = true
            }
          }
        case 1 =>
          ranHomepage = true
          rawHomepage = cfg.urlsPerHostPerWave.toLong +
            Synth.sectionsOf(hostIdx).size + 1 // sections + the wire story
        case _ => ()
      }
    }
    val rawSection = sections.map(s =>
      if (Synth.SectionVocab.contains(s)) cfg.sectionLinksPerWave.toLong else 0L).sum
    CascadeFacts(ranRss, rssFailed, ranHomepage, rawRss, rawHomepage, rawSection,
      navSectionsOf(hostIdx, ranHomepage))
  }

  /** State transition after a due wave's discovery. */
  def update(st: SourceState, frequency: String, o: DiscoveryOutcome,
             wave: Int): SourceState = {
    // F13 ledger (only waves where rss actually ran are ledger events)
    var consec = st.rss_consecutive_failures
    var failures = st.rss_failure_waves
    var missing = st.rss_missing_wave
    if (o.ranRss) {
      if (o.rssFailed) {
        consec += 1
        failures = (failures :+ wave).filter(_ > wave - Synth.RssWindowWaves)
        if (consec >= Synth.RssConsecThreshold ||
          failures.length >= Synth.RssWindowThreshold) missing = wave
      } else {
        consec = 0
        missing = -1
        failures = failures.filter(_ > wave - Synth.RssWindowWaves)
      }
    }
    // A5 effectiveness accumulation (attempt = method ran; success = it
    // yielded new URLs) — consumed by effectiveMethods next wave
    def bump(ran: Boolean, m: Int, a: Int, s: Int): (Int, Int) =
      if (!ran) (a, s)
      else (a + 1, s + (if (o.newByMethod.getOrElse(m, 0L) > 0) 1 else 0))
    val (ra, rs) = bump(o.ranRss, 0, st.rss_attempts, st.rss_successes)
    val (ha, hs) = bump(o.ranHomepage, 1, st.homepage_attempts, st.homepage_successes)
    // F12 counter + C8 adaptive threshold
    val totalNew = o.newByMethod.values.sum
    val noEff = if (totalNew == 0) st.no_effective_consecutive + 1 else 0
    val paused = st.paused_auto ||
      noEff >= UrlKernels.adaptivePauseThreshold(frequency)
    // telemetry: first method (in cascade order) that yielded new urls
    val lastOk = o.newByMethod.filter(_._2 > 0).keys.toSeq.sorted.headOption
      .map(MethodNames).getOrElse(st.last_successful_method)
    st.copy(
      last_wave = wave,
      rss_consecutive_failures = consec,
      rss_failure_waves = failures,
      rss_missing_wave = missing,
      no_effective_consecutive = noEff,
      paused_auto = paused,
      last_successful_method = lastOk,
      discovered_sections =
        (st.discovered_sections ++ o.sectionsFound).distinct.sorted,
      rss_attempts = ra,
      rss_successes = rs,
      homepage_attempts = ha,
      homepage_successes = hs)
  }
}
