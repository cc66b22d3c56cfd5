package graft.perfbench

import graft.crawl.{CrawlEngine, CrawlOracle}
import graft.model.WaveMetrics
import graft.ops.{Dedup, ImageOps}
import graft.queries.CrawlQueries
import graft.store.SnapshotStore
import graft.synth.Synth
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Crawl benchmark: runs one workload in this JVM and prints one JSON
  * result line (perfbench/README.md has the workloads, the metrics, the
  * layer each metric belongs to and which end-to-end metric each layer
  * metric should move).
  *
  *   graft.perfbench.Main --workload fresh-crawl|read-ingest --seed N --seconds S --trace 0|1
  *
  * It drives the engine only through its public API and checks every
  * crawl against the single-threaded CrawlOracle. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  /** The world both workloads crawl: 200 hosts × 20 URLs per host per
    * wave × 2 waves, 16 pinned buckets. Wave 0 admits into an empty seen
    * set (discovery-heavy); the frontier log compacts after it, so wave 1
    * is an incremental wave over a compacted log. */
  def world(seed: Long): Synth.Config = Synth.Config(nHosts = 200, urlsPerHostPerWave = 20,
    nWaves = 2, seed = seed, nBuckets = 16, compactEvery = 1)

  /** The read-ingest store: the same world crawled for one wave, then
    * read-compacted (one wave keeps the cold set-up crawl short enough to
    * leave room for JIT warm-up passes inside a run's time budget). */
  def readWorld(seed: Long): Synth.Config = world(seed).copy(nWaves = 1)

  /** JIT and codegen warm-up: the same plan shapes (fresh wave, warm
    * wave, compaction) at trivial volume. */
  def warmWorld(seed: Long): Synth.Config = Synth.Config(nHosts = 20, urlsPerHostPerWave = 10,
    nWaves = 2, seed = seed, nBuckets = 4, compactEvery = 1)

  val Readers: Seq[String] = Seq("q_crawl_results", "q_crawl_status_counts",
    "q_crawl_seen_by_bucket", "q_crawl_source_state", "q_x4_content_type",
    "q_t3_processing", "q_t3_payload", "q_telemetry_http")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Set("fresh-crawl", "read-ingest").contains(w), s"unknown workload '$w'")
    Args(w, m.get("seed").map(_.toLong).getOrElse(42L), m.get("seconds").map(_.toInt).getOrElse(10),
      m.get("trace").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val load0 = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bench = new Bench(spark, a, t0)
    val code = try bench.run() catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    val ctx = s"""{"workload":"${a.workload}","seed":${a.seed},"seconds":${a.seconds},""" +
      s""""trace":${a.trace},"nproc":$cores,"xmx_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""loadavg_before":"$load0","loadavg_after":"${loadavg()}"}"""
    System.err.println(s"""{"context":$ctx}""")
    bench.writeSpans(ctx)
    spark.stop()
    System.exit(code)
  }

  /** One crawl: `run()` wall seconds, its CPU seconds at the reference
    * speed, and the wave commit times (epoch ms). */
  final case class CrawlRun(runS: Double, refCpuS: Double, speed: Double, startMs: Double,
                            waveEndMs: Seq[Double], metrics: Seq[WaveMetrics]) {
    def discovered: Long = metrics.map(_.discovered).sum
  }

  /** One timed call: wall seconds and CPU seconds ([[cpuSeconds]]). */
  final case class Cost(wallS: Double, cpuS: Double)

  /** One reader call: its rows and cost. */
  final case class Read(name: String, rows: Long, cost: Cost)

  /** One ingest pass: its counts and per-op costs. */
  final case class Ingest(rows: Long, exactGroups: Long, lshPairs: Long, groups: Long,
                          costs: Seq[(String, Cost)]) {
    def counts: (Long, Long, Long, Long) = (rows, exactGroups, lshPairs, groups)
    def cpuS: Double = costs.map(_._2.cpuS).sum
    def wallS: Double = costs.map(_._2.wallS).sum
  }

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** HotSpot's CPU time per internal thread (JIT compilers, GC, VM). */
  private val internalCpu: () => java.util.Map[String, java.lang.Long] = {
    val bean = Class.forName("sun.management.ManagementFactoryHelper")
      .getMethod("getHotspotThreadMBean").invoke(null)
    val m = Class.forName("sun.management.HotspotThreadMBean").getMethod("getInternalThreadCpuTimes")
    () => m.invoke(bean).asInstanceOf[java.util.Map[String, java.lang.Long]]
  }

  /** CPU seconds this JVM has used, over all its threads but the JIT's
    * own (compiler threads and code-cache sweeper). Unlike wall time it
    * leaves out the time the host gives the VM's CPUs to other tenants
    * (steal), which on a shared host comes in spells of seconds to
    * minutes. Without the JIT's threads it leaves out compile work, which
    * in a run this short is half of all CPU and lands unevenly. GC and
    * every program thread count. */
  def cpuSeconds(): Double = {
    val jit = internalCpu().asScala.collect {
      case (k, v) if k.contains("CompilerThread") || k.contains("Sweeper") => v.longValue
    }.sum
    (osBean.getProcessCpuTime - jit) / 1e9
  }

  /** The host's CPU tick counters (user, nice, system, idle, iowait, irq,
    * softirq, steal), for the share of CPU time stolen during a run. */
  def cpuTicks(): Array[Long] = scala.util.Try(
    Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim.split("\\s+")
      .slice(1, 9).map(_.toLong)).getOrElse(Array.fill(8)(0L))

  def stealRatio(t0: Array[Long], t1: Array[Long]): Double = {
    val d = t1.zip(t0).map { case (x, y) => x - y }
    if (d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  def loadavg(): String = scala.util.Try(
    Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")).getOrElse("")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One benchmark run: set-up, the measured loop, checks and the traced
  * layer sweep. */
final class Bench(spark: SparkSession, a: Main.Args, startNs: Long) {
  import Main._

  private val cfg = if (a.workload == "read-ingest") readWorld(a.seed) else world(a.seed)
  private val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
  private val tracer = new Tracer
  private val probe = if (a.trace) Some(new SparkProbe) else None
  probe.foreach(spark.sparkContext.addSparkListener)

  private var attempted = 0L
  private var failed = 0L
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val folds = mutable.ArrayBuffer.empty[SparkProbe.WaveFold]

  private def fail(n: Long, msg: String): Unit = {
    failed += n
    System.err.println(s"[perfbench] FAIL $msg")
  }

  private def span[T](name: String)(f: => T): T = if (a.trace) tracer.span(name)(f) else f

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val calib = new Calibration(Runtime.getRuntime.availableProcessors())
  calib.round(5) // JIT warm-up of the reference work
  private val rounds = mutable.ArrayBuffer.empty[Double]

  /** Runs `f` between two sets of calibration rounds; returns the factor
    * that scales CPU seconds measured in it to the reference speed. */
  private def atReferenceSpeed[T](f: => T): (T, Double) = {
    val before = calib.round(5)
    val r = f
    val after = calib.round(5)
    rounds ++= before ++ after
    (r, Calibration.RefRoundS / median(before ++ after))
  }

  private def costed[T](f: => T): (T, Cost) = {
    val c0 = cpuSeconds()
    val (r, s) = timed(f)
    (r, Cost(s, cpuSeconds() - c0))
  }

  private def newStore(tag: String): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory(tmpRoot, tag).toString)

  /** Between measured operations: no cached Dataset or checkpoint block
    * of the previous one survives, so every operation repeats its work. */
  private def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap figures of the measured loop (peaks were reset before it). */
  private def recordHeap(): Unit = layer("jvm.heap_peak_mb") = (heapPeakMb(), "MB")

  // ------------------------------------------------------------- crawls

  /** `CrawlEngine.run()` on `store`; wave boundaries come from the commit
    * records' mtimes (wave 0 counts from the start of run()). */
  private def crawl(c: Synth.Config, store: SnapshotStore): CrawlRun = {
    val ((ms, startMs, cost), speed) = atReferenceSpeed {
      val startMs = System.currentTimeMillis().toDouble
      val (ms, cost) = costed(new CrawlEngine(spark, c, store).run())
      (ms, startMs, cost)
    }
    val s = cost.wallS
    val ends = ms.map(m => Census.commitMs(store, m.wave))
    val run = CrawlRun(s, cost.cpuS * speed, speed, startMs, ends, ms)
    if (a.trace) {
      val runId = tracer.add("CrawlEngine.run", tracer.current, startMs, startMs + s * 1e3)
      probe.foreach { p =>
        p.quiesce()
        ms.map(_.wave).zipWithIndex.foreach { case (w, i) =>
          val start = if (i == 0) startMs else ends(i - 1)
          val f = p.fold(w, start, ends(i))
          folds += f
          val wid = tracer.add(s"wave $w", runId, start, ends(i))
          f.jobSpans.foreach { case (j, js, je) => tracer.add(s"job $j", wid, js, je) }
        }
      }
    }
    run
  }

  /** Gate one crawl store against the oracle; counts its waves as
    * operations. */
  private def gate(store: SnapshotStore, c: Synth.Config, oracle: CrawlOracle.Outcome,
                   what: String): Unit = {
    attempted += c.nWaves
    val v = span("Gate.crawl")(Gate.crawl(spark, store, c, oracle))
    if (!v.ok) fail(math.max(1, v.badWaves.size).toLong, s"$what: ${v.messages.mkString("; ")}")
  }

  // ------------------------------------------------------------- reads

  /** The store readers, each costed and counted. */
  private def readPass(key: String): Seq[Read] =
    Readers.map { q =>
      val (n, c) = costed(span(q)(CrawlQueries.queries(q)(spark, key).count()))
      Read(q, n, c)
    }

  /** Image+caption ingest over the HTTP-200 results: fused decode, exact
    * dedup, minhash, LSH candidate pairs, connected components. Calls the
    * ops directly (not the per-directory query caches), so every pass
    * repeats its work. */
  private def ingest(store: SnapshotStore): Ingest = {
    val res = store.readAll(spark, "results").filter(col("http_status") === 200)
    val costs = mutable.ArrayBuffer.empty[(String, Cost)]
    def op[T](name: String)(f: => T): T = {
      val (r, c) = costed(span(name)(f))
      costs += name -> c
      r
    }
    val rows = op("ops.decode_fused_s")(ImageOps.decodeFused(res).count())
    val exact = op("ops.exact_groups_s")(Dedup.exactGroups(res, "image_id", "caption").count())
    val sig = Dedup.minhashSignatures(res, "image_id", "caption", k = 3, nHashes = 4, bandSize = 2)
      .persist()
    op("ops.minhash_s")(sig.count())
    val pairs = Dedup.lshCandidatePairs(sig, nBands = 2).persist()
    val nPairs = op("ops.lsh_pairs_s")(pairs.count())
    val groups = op("ops.cc_s")(
      Dedup.connectedComponents(pairs).select("component_id").distinct().count())
    Ingest(rows, exact, nPairs, groups, costs.toSeq)
  }

  private def okFetches(oracle: CrawlOracle.Outcome): Long =
    oracle.fetches.count(f => CrawlEngine.OkStatuses.contains(f.status)).toLong

  // ---------------------------------------------------------- workloads

  def run(): Int = {
    a.workload match {
      case "fresh-crawl" => freshCrawl()
      case "read-ingest" => readIngest()
    }
    if (e2e.contains("setup_s")) {
      e2e("setup_s") = (setupCpuS * Calibration.RefRoundS / median(rounds.toSeq), "s")
      System.err.println(f"[perfbench] set-up: wall $setupWallS%.3f s, CPU $setupCpuS%.3f s")
    }
    val out = if (a.trace) layer else e2e
    val bad = out.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
    if (bad.nonEmpty) fail(1, s"metrics without a value: ${bad.mkString(", ")}")
    val ms = out.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":${math.max(attempted, 1)},""" +
      s""""failed":$failed,"metrics":{${ms.mkString(",")}}}""")
    if (failed == 0) 0 else 1
  }

  /** The measured loop's wall-clock figures and the host's steal share
    * during it, for the reader of the log (stderr). */
  private def loopContext(ops: Int, wallOp: Double, wallItems: Double, speeds: Seq[Double],
                          ticks0: Array[Long]): Unit =
    System.err.println(f"[perfbench] measured $ops%d ops: wall $wallOp%.3f s per op, " +
      f"$wallItems%.1f items per wall s, speed factor ${median(speeds)}%.3f, " +
      f"host steal ${stealRatio(ticks0, cpuTicks())}%.3f")

  private var setupWallS = Double.NaN
  private var setupCpuS = Double.NaN

  /** Set-up ends here: CPU seconds since the JVM started ([[cpuSeconds]]);
    * [[run]] scales them to the reference speed with every calibration
    * round of the run. */
  private def setupDone(): Unit = {
    setupWallS = (System.nanoTime() - startNs) / 1e9
    setupCpuS = cpuSeconds()
    e2e("setup_s") = (Double.NaN, "s")
  }

  private def oracleFor(c: Synth.Config): CrawlOracle.Outcome = {
    val (o, s) = timed(span("CrawlOracle.run")(CrawlOracle.run(c)))
    layer("crawl.oracle_s") = (s, "s")
    o
  }

  /** fresh-crawl: `CrawlEngine.run()` on an empty store, repeated with a
    * fresh store until `seconds` have passed. */
  private def freshCrawl(): Unit = {
    span("setup.warmup") {
      val st = newStore("warm")
      new CrawlEngine(spark, warmWorld(a.seed), st).run()
      Census.delete(st.root)
    }
    hygiene()
    setupDone()
    val oracle = oracleFor(cfg)

    resetHeapPeaks()
    val ticks0 = cpuTicks()
    val t0 = System.nanoTime()
    val runs = mutable.ArrayBuffer.empty[CrawlRun]
    val bytesPerUrl = mutable.ArrayBuffer.empty[Double]
    var kept: Option[SnapshotStore] = None
    while (runs.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val st = newStore("crawl")
      val r = crawl(cfg, st)
      runs += r
      gate(st, cfg, oracle, s"crawl ${runs.size}")
      bytesPerUrl += Census.parquetBytes(st).toDouble / r.discovered
      kept.foreach(s => Census.delete(s.root))
      kept = Some(st)
      hygiene()
    }
    e2e("op_cpu_s") = (median(runs.map(_.refCpuS).toSeq), "s")
    e2e("items_per_cpu_s") = (runs.map(_.discovered).sum / runs.map(_.refCpuS).sum, "1/s")
    e2e("store_bytes_per_url") = (median(bytesPerUrl.toSeq), "B")
    val wallOp = median(runs.map(_.runS).toSeq)
    val wallItems = runs.map(_.discovered).sum / runs.map(_.runS).sum
    loopContext(runs.size, wallOp, wallItems, runs.map(_.speed).toSeq, ticks0)
    recordHeap()

    if (a.trace) {
      layer("trace.items_per_cpu_s") = (e2e("items_per_cpu_s")._1, "1/s")
      layer("wall.op_s") = (wallOp, "s")
      layer("wall.items_per_s") = (wallItems, "1/s")
      val st = kept.get
      storeSweep(st, oracle, runs.toSeq)
      CrawlEngine.compactForRead(spark, st, cfg.nBuckets)
      val key = s"perfbench-fresh-${a.seed}"
      CrawlQueries.register(spark, key, st)
      recordReads(Seq(readPass(key)), Seq(ingest(st)))
      kernels()
    }
    kept.foreach(s => Census.delete(s.root))
  }

  /** Measured read-ingest passes per run, at least. */
  private val MinPasses = 3

  /** read-ingest: set-up crawls the read world once, compacts it for
    * reading and runs one warm-up pass, which pins every row count. Then
    * one closed-loop client runs passes of the store readers and the
    * image+caption ingest until `seconds` have passed (at least
    * [[MinPasses]]). */
  private def readIngest(): Unit = {
    val oracle = oracleFor(cfg)
    val st = newStore("read")
    val r = span("setup.crawl")(crawl(cfg, st))
    gate(st, cfg, oracle, "set-up crawl")
    if (a.trace) {
      layer("trace.items_per_cpu_s") = (r.discovered / r.refCpuS, "1/s")
      storeSweep(st, oracle, Seq(r))
    }
    val (_, compactS) = timed(span("CrawlEngine.compactForRead")(
      CrawlEngine.compactForRead(spark, st, cfg.nBuckets)))
    if (a.trace) {
      // the read-compaction is this workload's compaction
      layer("crawl.compact_s") = (compactS, "s")
      val post = Census.readAmp(spark, st, st.currentSnapshot("frontier").get)
      layer("store.read_amp") = (post, "ratio")
      checkAmpFalls("compactForRead", layer("store.read_amp_pre_compact")._1, Some(post))
    }
    val key = s"perfbench-read-${a.seed}"
    CrawlQueries.register(spark, key, st)

    // the warm-up pass pins every row count; the oracle checks two of them
    var pinned = Map.empty[String, Long]
    var pinnedIngest = (0L, 0L, 0L, 0L)
    def pass(first: Boolean): (Seq[Read], Ingest, Double) = {
      val ((p, in), speed) = atReferenceSpeed((readPass(key), ingest(st)))
      hygiene()
      attempted += p.size + 1
      if (first) {
        pinned = p.map(r => r.name -> r.rows).toMap
        pinnedIngest = in.counts
        if (pinned("q_crawl_results") != oracle.fetches.size)
          fail(1, s"q_crawl_results ${pinned("q_crawl_results")} rows vs ${oracle.fetches.size} oracle fetches")
        if (in.rows != okFetches(oracle))
          fail(1, s"ingest ${in.rows} rows vs ${okFetches(oracle)} oracle HTTP-200 fetches")
      } else {
        p.filter(r => r.rows != pinned(r.name))
          .foreach(r => fail(1, s"${r.name} returned ${r.rows} rows, warm-up pass ${pinned(r.name)}"))
        if (in.counts != pinnedIngest) fail(1, s"ingest counts ${in.counts} vs warm-up pass $pinnedIngest")
      }
      (p, in, speed)
    }

    span("setup.warmup")(pass(first = true))
    if (!a.trace) setupDone()

    resetHeapPeaks()
    val ticks0 = cpuTicks()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[(Seq[Read], Ingest, Double)]
    while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds)
      passes += pass(first = false)
    val reads = passes.map(_._1.map(_.cost)).toSeq
    val ingests = passes.map(_._2).toSeq
    e2e("op_cpu_s") = (median(passes.map { case (p, _, f) => p.map(_.cost.cpuS).sum * f }.toSeq), "s")
    e2e("items_per_cpu_s") = (pinnedIngest._1 / median(passes.map { case (_, in, f) => in.cpuS * f }.toSeq), "1/s")
    e2e("store_bytes_per_url") = (Census.parquetBytes(st).toDouble / oracle.seen.size, "B")
    val wallOp = median(reads.map(_.map(_.wallS).sum))
    val wallItems = pinnedIngest._1 / median(ingests.map(_.wallS))
    loopContext(passes.size, wallOp, wallItems, passes.map(_._3).toSeq, ticks0)
    recordHeap()
    if (a.trace) {
      layer("wall.op_s") = (wallOp, "s")
      layer("wall.items_per_s") = (wallItems, "1/s")
      recordReads(passes.map(_._1).toSeq, ingests)
      kernels()
    }
    Census.delete(st.root)
  }

  // --------------------------------------------------------- layer sweep

  private def recordReads(passes: Seq[Seq[Read]], ingests: Seq[Ingest]): Unit = {
    Readers.foreach { q =>
      layer(s"queries.${q}_s") = (median(passes.flatMap(_.filter(_.name == q).map(_.cost.wallS))), "s")
    }
    ingests.head.costs.map(_._1).foreach { k =>
      layer(k) = (median(ingests.flatMap(_.costs.filter(_._1 == k).map(_._2.wallS))), "s")
    }
    layer("ops.lsh_pairs") = (ingests.head.lshPairs.toDouble, "count")
    layer("ops.groups") = (ingests.head.groups.toDouble, "count")
  }

  private def kernels(): Unit =
    span("Kernels.run")(Kernels.run(cfg)).foreach { case (k, v, u) => layer(k) = (v, u) }

  /** Per-wave Spark work, store census, merge-on-read probes and a
    * crash/resume probe on a crawled (not yet read-compacted) store. */
  private def storeSweep(st: SnapshotStore, oracle: CrawlOracle.Outcome, runs: Seq[CrawlRun]): Unit = {
    val fs = folds.toSeq
    def perWave(f: SparkProbe.WaveFold => Double) = fs.map(f).sum / math.max(fs.size, 1)
    layer("crawl.wave_s") = (perWave(_.wallS), "s")
    layer("crawl.driver_gap_s") = (perWave(_.gapS), "s")
    layer("crawl.jobs") = (perWave(_.jobs), "count")
    layer("crawl.stages") = (perWave(_.stages), "count")
    layer("crawl.tasks") = (perWave(_.tasks), "count")
    layer("crawl.task_core_s") = (perWave(_.taskCoreS), "s")
    layer("crawl.gc_s") = (perWave(_.gcS), "s")
    layer("crawl.shuffle_read_mb") = (perWave(_.shuffleReadMb), "MB")
    layer("crawl.shuffle_write_mb") = (perWave(_.shuffleWriteMb), "MB")
    layer("crawl.spill_mb") = (perWave(_.spillMb), "MB")
    layer("crawl.task_skew") = (fs.map(_.skew).foldLeft(1.0)(math.max), "ratio")
    val ms = runs.flatMap(_.metrics)
    def perWaveM(f: WaveMetrics => Long) = ms.map(f).sum.toDouble / math.max(ms.size, 1)
    layer("crawl.discovered") = (perWaveM(_.discovered), "count")
    layer("crawl.duplicates") = (perWaveM(_.duplicates), "count")
    layer("crawl.planned") = (perWaveM(_.planned), "count")
    layer("crawl.admit_ratio") = (ms.map(_.discovered).sum.toDouble /
      math.max(1L, ms.map(m => m.discovered + m.duplicates).sum), "ratio")
    layer("crawl.fetch_ok_ratio") = (ms.map(_.fetched).sum.toDouble /
      math.max(1L, ms.map(_.planned).sum), "ratio")

    Census.WaveTables.foreach { t =>
      val (files, bytes, snaps) = Census.table(st, t)
      layer(s"store.files.$t") = (files.toDouble, "count")
      layer(s"store.bytes.$t") = (bytes.toDouble, "B")
      layer(s"store.snapshots.$t") = (snaps.toDouble, "count")
    }
    layer("store.files_per_wave") = (Census.parquetFiles(st).toDouble / cfg.nWaves, "count")
    layer("store.commit_bytes") = (Census.commitBytes(st), "B")

    // read amplification must fall across the cadence compaction; a
    // crawl without one (read-ingest) is checked across compactForRead
    val lastPin = Census.frontierPin(st, cfg.nWaves - 1)
    (0 until cfg.nWaves - 1).find(w => (w + 1) % cfg.compactEvery == 0) match {
      case Some(cw) =>
        val pre = Census.readAmp(spark, st, Census.frontierPin(st, cw))
        layer("store.read_amp_pre_compact") = (pre, "ratio")
        checkAmpFalls(s"compaction after wave $cw", pre,
          Census.compactionSnapshot(st, cw).map(Census.readAmp(spark, st, _)))
        layer("store.read_amp") = (Census.readAmp(spark, st, lastPin), "ratio")
        layer("crawl.compact_s") = (Census.compactSeconds(st, cw).getOrElse(Double.NaN), "s")
      case None =>
        layer("store.read_amp_pre_compact") = (Census.readAmp(spark, st, lastPin), "ratio")
    }
    layer("store.seen_scan_s") = (span("seen scan")(Census.seenScanSeconds(spark, st, cfg.nBuckets)), "s")
    layer("store.merge_read_s") = (span("frontierCurrent")(Census.mergeReadSeconds(spark, st)), "s")

    resumeProbe(st, oracle)
  }

  private def checkAmpFalls(what: String, pre: Double, post: Option[Double]): Unit = {
    attempted += 1
    if (!post.exists(_ < pre)) fail(1, s"$what: read_amp $pre -> $post")
  }

  /** Crash before the last wave's commit: copy the store (untimed), drop
    * the last commit record, append torn rows to frontier and results
    * with the store's write API, recover from outside, then resume with a
    * fresh engine. The resumed store must equal the oracle and hold no
    * torn row. */
  private def resumeProbe(st: SnapshotStore, oracle: CrawlOracle.Outcome): Unit = {
    val last = cfg.nWaves - 1
    val copy = Census.copyStore(st, Files.createTempDirectory(tmpRoot, "torn"))
    Files.delete(Paths.get(copy.root, "_commits", f"wave-$last%05d.json"))
    def torn(df: DataFrame) = df.limit(5).withColumn("norm_url", concat(lit(Gate.TornPrefix), col("norm_url")))
    copy.appendDelta(torn(copy.read(spark, "frontier")), "frontier", last,
      bucketCol = Some("host_bucket"), lineage = "torn")
    copy.appendDelta(torn(copy.readAll(spark, "results")), "results", last, lineage = "torn")
    val engine = new CrawlEngine(spark, cfg, copy)
    val (_, recS) = timed(span("SnapshotStore.recoverToLastCommit")(copy.recoverToLastCommit(engine.AllTables)))
    layer("store.recover_s") = (recS, "s")
    val startMs = System.currentTimeMillis().toDouble
    span("resume run")(engine.run())
    layer("crawl.resume_s") = ((Census.commitMs(copy, last) - startMs) / 1e3, "s")
    hygiene()
    gate(copy, cfg, oracle, "resumed store")
    attempted += 1
    Gate.noTornRows(spark, copy).foreach(m => fail(1, m))
    Census.delete(copy.root)
  }

  def writeSpans(ctx: String): Unit = {
    val dir = System.getProperty("perfbench.spans")
    if (a.trace && dir != null) {
      val ws = folds.map { f =>
        s"""{"wave":${f.wave},"wall_s":${f.wallS},"driver_gap_s":${f.gapS},"jobs":${f.jobs},""" +
          s""""stages":${f.stages},"tasks":${f.tasks},"task_core_s":${f.taskCoreS},"gc_s":${f.gcS},""" +
          s""""shuffle_read_mb":${f.shuffleReadMb},"shuffle_write_mb":${f.shuffleWriteMb},""" +
          s""""spill_mb":${f.spillMb},"task_skew":${f.skew}}"""
      }.mkString("[", ",\n", "]")
      Files.writeString(Paths.get(dir, s"${a.workload}-seed${a.seed}.json"),
        s"""{"context":$ctx,\n"waves":$ws,\n"spans":${tracer.toJson}}\n""")
    }
  }
}
