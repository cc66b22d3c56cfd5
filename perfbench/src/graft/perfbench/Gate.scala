package graft.perfbench

import graft.crawl.{CrawlEngine, CrawlOracle}
import graft.store.SnapshotStore
import graft.synth.Synth
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Output checks against the single-threaded [[CrawlOracle]] on the same
  * world: URL-seen set, per-host fetch order, final status histogram and
  * every committed wave's metrics. Each check returns the waves it found
  * wrong (a store-wide mismatch condemns every wave) plus a message. */
object Gate {
  final case class Verdict(badWaves: Set[Int], messages: Seq[String]) {
    def ok: Boolean = messages.isEmpty
  }

  /** Prefix of the rows a simulated crash leaves behind uncommitted. */
  val TornPrefix = "torn://"

  def crawl(spark: SparkSession, store: SnapshotStore, cfg: Synth.Config,
            oracle: CrawlOracle.Outcome): Verdict = {
    val all = (0 until cfg.nWaves).toSet
    val msgs = Seq.newBuilder[String]
    var bad = Set.empty[Int]
    def wrong(waves: Set[Int], msg: String): Unit = { bad ++= waves; msgs += msg }

    val keys = store.read(spark, "frontier").filter(!col("is_update"))
      .select("norm_url").collect().map(_.getString(0))
    if (keys.length != keys.toSet.size) wrong(all, "discovery rows not unique per URL")
    if (keys.toSet != oracle.seen)
      wrong(all, s"URL-seen set: ${keys.toSet.size} engine vs ${oracle.seen.size} oracle")

    val fetches = store.readAll(spark, "results")
      .select("wave", "host", "rank", "norm_url", "status").collect()
      .map(r => CrawlOracle.OracleFetch(r.getInt(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getString(4)))
      .sortBy(f => (f.wave, f.host, f.rank)).toSeq
    val want = oracle.fetches.sortBy(f => (f.wave, f.host, f.rank))
    if (fetches != want) {
      val waves = (fetches.diff(want) ++ want.diff(fetches)).map(_.wave).toSet
      wrong(if (waves.isEmpty) all else waves,
        s"fetch order (wave, host, rank, norm_url, status) differs in waves ${waves.toSeq.sorted}")
    }

    val hist = CrawlEngine.frontierCurrent(spark, store).groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (hist != oracle.statusCounts) wrong(all, s"status histogram $hist vs ${oracle.statusCounts}")

    (0 until cfg.nWaves).foreach { w =>
      val got = commitMetrics(store, w)
      if (got != oracle.waveMetrics(w)) wrong(Set(w), s"wave $w metrics $got vs ${oracle.waveMetrics(w)}")
    }
    Verdict(bad, msgs.result())
  }

  /** No row of the torn (never committed) wave may survive a resume. */
  def noTornRows(spark: SparkSession, store: SnapshotStore): Seq[String] =
    Seq("frontier", "results").flatMap { t =>
      val n = store.readAll(spark, t).filter(col("norm_url").startsWith(TornPrefix)).count()
      if (n > 0) Some(s"$n torn rows survived in $t") else None
    }

  /** The counters a wave commit recorded in `_commits/wave-NNNNN.json`. */
  def commitMetrics(store: SnapshotStore, wave: Int): Map[String, Long] =
    (JsonMethods.parse(Files.readString(Paths.get(store.root, "_commits", f"wave-$wave%05d.json"))) \
      "metrics") match {
      case JObject(fs) => fs.collect {
        case (k, JInt(v)) => k -> v.toLong
        case (k, JLong(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }
}
