package graft.perfbench

import graft.core.UrlKernels
import graft.crawl.{CrawlEngine, SourceRules}
import graft.ops.ImageKernels
import graft.synth.Synth

/** Microbenchmark of the per-row kernels the crawl and the ingest call,
  * fed with the seeded world's own wave-0 links and article ids. Each
  * kernel runs twice over its inputs untimed (JIT warm-up), then five
  * timed passes; the figure is the median pass time per call. */
object Kernels {

  private def perCall(n: Int, unit: Double)(f: => Long): Double = {
    var sink = 0L
    (0 until 2).foreach(_ => sink += f)
    val passes = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      sink += f
      (System.nanoTime() - t0).toDouble
    }.sorted
    if (sink == 42) System.err.print("") // keeps the results live
    passes(2) / math.max(n, 1) / unit
  }

  def run(cfg: Synth.Config, maxUrls: Int = 20000, maxIds: Int = 200): Seq[(String, Double, String)] = {
    val hosts = 0 until math.min(cfg.nHosts, 200)
    def cascade(idx: Int) = SourceRules.cascade(cfg)(idx, 0,
      SourceRules.effectiveMethods(SourceRules.initial(f"src-$idx%04d", Synth.hostName(idx))),
      false, Seq.empty)
    val urls = hosts.flatMap(i => cascade(i).links.map(_.url)).take(maxUrls).toArray
    val norms = urls.map(UrlKernels.normalizeUrl)
    val ids = norms.flatMap(Synth.idOf).distinct.take(maxIds)
    val payloads = ids.map(id => Synth.payloadFor(cfg)(id)._1.bytes)
    val decoded = payloads.map(ImageKernels.decode)

    def sumLen(xs: Array[String]) = xs.foldLeft(0L)((a, s) => a + (if (s == null) 0 else s.length))
    Seq(
      ("core.normalize_url_ns", perCall(urls.length, 1)(sumLen(urls.map(UrlKernels.normalizeUrl))), "ns"),
      ("core.canonical_host_ns", perCall(urls.length, 1)(sumLen(urls.map(UrlKernels.canonicalHost))), "ns"),
      ("core.url_hash64_ns", perCall(norms.length, 1)(norms.foldLeft(0L)(_ + UrlKernels.urlHash64(_))), "ns"),
      ("core.check_is_article_ns", perCall(norms.length, 1)(norms.count(UrlKernels.checkIsArticle(_)).toLong), "ns"),
      ("synth.links_us", perCall(hosts.size, 1e3)(hosts.map(cascade(_).links.size.toLong).sum), "us"),
      ("synth.payload_us", perCall(ids.length, 1e3)(ids.map(id => Synth.payloadFor(cfg)(id)._1.bytes.length.toLong).sum), "us"),
      ("crawl.sha256_us", perCall(payloads.length, 1e3)(sumLen(payloads.map(CrawlEngine.sha256Hex))), "us"),
      ("ops.decode_us", perCall(payloads.length, 1e3)(payloads.map(ImageKernels.decode(_).getWidth.toLong).sum), "us"),
      ("ops.phash_us", perCall(decoded.length, 1e3)(decoded.foldLeft(0L)(_ + ImageKernels.phash64(_))), "us"),
      ("ops.resize_us", perCall(decoded.length, 1e3)(decoded.map(ImageKernels.resize(_, 8, 8).getWidth.toLong).sum), "us"))
  }
}
