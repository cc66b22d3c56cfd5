package graft

import graft.crawl.SourceRules
import graft.synth.Synth
import org.scalatest.funsuite.AnyFunSuite

/** A5 effectiveness-gated method selection — kernel-level analogues of
  * the reference's telemetry thresholds (telemetry.py:1871-1881) and
  * tests/test_prioritization.py:14-48 (last successful method first). */
class SourceRulesSpec extends AnyFunSuite {

  private val base = SourceRules.initial("src-0000", "host-0000.example")

  test("no history: all cascade methods run, rss first") {
    assert(SourceRules.effectiveMethods(base) == Seq(0, 1))
  }

  test("prioritization: last successful method is attempted first") {
    // test_prioritization.py analogue — newspaper4k(≙homepage) preferred
    val st = base.copy(last_successful_method = "homepage")
    assert(SourceRules.effectiveMethods(st) == Seq(1, 0))
    // a proven-method set is reordered too
    val proven = st.copy(rss_attempts = 4, rss_successes = 4,
      homepage_attempts = 4, homepage_successes = 4)
    assert(SourceRules.effectiveMethods(proven) == Seq(1, 0))
    // section_crawl as last-success does not perturb the cascade order
    val sec = base.copy(last_successful_method = "section_crawl")
    assert(SourceRules.effectiveMethods(sec) == Seq(0, 1))
  }

  test("gating: a proven method preempts an unproven one") {
    // homepage 2/2 proven, rss 0/2 → ONLY homepage is attempted
    val st = base.copy(rss_attempts = 2, rss_successes = 0,
      homepage_attempts = 2, homepage_successes = 2,
      last_successful_method = "homepage")
    assert(SourceRules.effectiveMethods(st) == Seq(1))
  }

  test("thresholds: attempts ≥ 2 ∧ successes > 0 ∧ rate > 50%") {
    // one attempt, one success — not yet proven (attempts < 2)
    assert(SourceRules.effectiveMethods(
      base.copy(rss_attempts = 1, rss_successes = 1)) == Seq(0, 1))
    // exactly 50% is NOT proven (strict >)
    assert(SourceRules.effectiveMethods(
      base.copy(rss_attempts = 4, rss_successes = 2)) == Seq(0, 1))
    // 2/3 is proven → rss alone
    assert(SourceRules.effectiveMethods(
      base.copy(rss_attempts = 3, rss_successes = 2)) == Seq(0))
    // both proven, homepage has the higher rate → homepage first
    assert(SourceRules.effectiveMethods(
      base.copy(rss_attempts = 3, rss_successes = 2,
        homepage_attempts = 4, homepage_successes = 4)) == Seq(1, 0))
  }

  test("update accumulates attempts/successes only for methods that ran") {
    val o = SourceRules.DiscoveryOutcome(ranRss = true, rssFailed = true,
      ranHomepage = true, newByMethod = Map(0 -> 0L, 1 -> 5L, 2 -> 0L),
      sectionsFound = Seq.empty)
    val st1 = SourceRules.update(base, "daily", o, wave = 0)
    assert(st1.rss_attempts == 1 && st1.rss_successes == 0)
    assert(st1.homepage_attempts == 1 && st1.homepage_successes == 1)
    // a wave where rss was gated off must not move its counters
    val o2 = o.copy(ranRss = false, rssFailed = false)
    val st2 = SourceRules.update(st1, "daily", o2, wave = 1)
    assert(st2.rss_attempts == 1 && st2.homepage_attempts == 2)
  }

  test("cascade honors the attempt order and gating") {
    val cfg = Synth.Config(nHosts = 20, urlsPerHostPerWave = 20, nWaves = 3)
    // order [1, 0]: homepage carries attempt 0, rss attempt 1
    val r = SourceRules.cascade(cfg)(0, 2, Seq(1, 0), rssSkip = false, Seq.empty)
    assert(r.ranHomepage && r.ranRss)
    val byMethod = r.links.groupBy(_.methodRank).view.mapValues(_.map(_.attempt).distinct)
    assert(byMethod(1) == Seq(0) && byMethod(0) == Seq(1))
    // order [0] (homepage gated): homepage never runs
    val r2 = SourceRules.cascade(cfg)(0, 2, Seq(0), rssSkip = false, Seq.empty)
    assert(r2.ranRss && !r2.ranHomepage && r2.rawHomepage == 0)
    // healthy full-yield rss short-circuits a LATER homepage, but not
    // one that already ran
    val r3 = SourceRules.cascade(cfg)(1, 2, Seq(0, 1), rssSkip = false, Seq.empty)
    assert(r3.ranRss && !r3.ranHomepage, "rss ≥ max/2 must short-circuit homepage")
    val r4 = SourceRules.cascade(cfg)(1, 2, Seq(1, 0), rssSkip = false, Seq.empty)
    assert(r4.ranHomepage, "an already-run method cannot be short-circuited")
  }

  test("cascadeFacts equals facts derived from the full cascade (sweep)") {
    val cfg = Synth.Config(nHosts = 60, urlsPerHostPerWave = 20, nWaves = 4)
    val orders = Seq(Seq(0, 1), Seq(1, 0), Seq(0), Seq(1), Seq.empty[Int])
    val sectionSets = Seq(Seq.empty[String], Seq("news"), Seq("news", "blog"),
      Seq("bogus"), Seq("news", "bogus"))
    for {
      hostIdx <- 0 until cfg.nHosts
      wave <- 0 until cfg.nWaves
      order <- orders
      rssSkip <- Seq(false, true)
      sections <- sectionSets
    } {
      val run = SourceRules.cascade(cfg)(hostIdx, wave, order, rssSkip, sections)
      val f = SourceRules.cascadeFacts(cfg)(hostIdx, wave, order, rssSkip, sections)
      val want = SourceRules.CascadeFacts(run.ranRss, run.rssFailed,
        run.ranHomepage, run.rawRss, run.rawHomepage, run.rawSection,
        run.navSections)
      assert(f == want, s"facts drift at host=$hostIdx wave=$wave order=$order " +
        s"skip=$rssSkip sections=$sections")
      // and the raw counts reconcile with the links actually emitted
      val emitted = run.links.groupBy(_.methodRank).view.mapValues(_.size.toLong).toMap
      if (!run.rssFailed)
        assert(emitted.getOrElse(0, 0L) == f.rawRss)
      assert(emitted.getOrElse(1, 0L) == f.rawHomepage)
      assert(emitted.getOrElse(2, 0L) == f.rawSection)
    }
  }

  test("M4 nav parse: fuzzy keyword match, shallow-path cap, reject classes") {
    import graft.crawl.NavDiscovery
    // host 1: nav-only `local` + /sections/news — blog is NOT advertised
    // and every noise link class is rejected
    val h1 = s"www.${Synth.hostName(1)}"
    assert(NavDiscovery.sectionNames(h1, Synth.navBlockOf(1)) == Seq("news", "local"))
    // host 2 (even, no local): /sections/news accepted; /sections/blog
    // present in the nav but "blog" matches no section keyword — only
    // the URL-inference strategy can discover it
    val h2 = s"www.${Synth.hostName(2)}"
    assert(NavDiscovery.sectionNames(h2, Synth.navBlockOf(2)) == Seq("news"))
    // host 0 (daily + sparse rss): local advertised so the supplemental
    // crawl exercises nav-discovered sections in short worlds
    assert(NavDiscovery.sectionNames(s"www.${Synth.hostName(0)}",
      Synth.navBlockOf(0)) == Seq("news", "local"))
    // degenerate inputs
    assert(NavDiscovery.sectionNames(h1, "") == Seq.empty)
    assert(NavDiscovery.sectionNames(h1,
      """<div><a href="/sports/">Sports</a></div>""") == Seq("sports"),
      "no-nav fallback must scan the page body")
  }

  test("O6 priority derives from the discovering method") {
    assert(Synth.priorityOf(0) == 3 && Synth.priorityOf(1) == 2 && Synth.priorityOf(2) == 1)
  }

  test("bucketsFor: parallelism floor and ≤1e6-keys-per-bucket volume scaling") {
    assert(Synth.bucketsFor(600000L) == 256) // bench world: floor wins
    assert(Synth.bucketsFor(6440000L) == 256) // 6.44M scaling world
    assert(Synth.bucketsFor(1000000000L) == 1000) // 1e9 → volume wins
    assert(Synth.bucketsFor(10000000000L) == 10000) // the 1e10 design point
    // keys per bucket (2× headroom) bound the per-task dedup map and each
    // bucket's seen scan at any scale
    Seq(6440000L, 1000000000L, 10000000000L).foreach { urls =>
      val perBucket = urls / Synth.bucketsFor(urls) * 2
      assert(perBucket <= 8L * 1000 * 1000, s"$urls urls → $perBucket keys/bucket")
    }
  }
}
