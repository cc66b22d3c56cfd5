package graft.perfbench

import graft.crawl.CrawlEngine
import graft.store.SnapshotStore
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length, sum}
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._
import scala.util.Using

/** What a crawl left in its store, read from outside the engine: the
  * store's files and manifests plus its public read API. */
object Census {

  /** Tables a wave writes (the others are written once at init). */
  val WaveTables: Seq[String] = Seq("frontier", "results", "telemetry", "telemetry_http",
    "politeness", "source_state", "seen_bloom")

  private def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else Using.resource(Files.walk(dir))(_.iterator().asScala.filter(Files.isRegularFile(_)).toSeq)

  private def parquet(dir: Path): Seq[Path] = walk(dir).filter(_.toString.endsWith(".parquet"))

  /** Parquet files and bytes on disk anywhere in the store. */
  def parquetFiles(store: SnapshotStore): Int = parquet(Paths.get(store.root)).size
  def parquetBytes(store: SnapshotStore): Long = parquet(Paths.get(store.root)).map(Files.size).sum

  /** (files, bytes) of a table's current snapshot, and its snapshot
    * count; zeros for a table the store does not have. */
  def table(store: SnapshotStore, t: String): (Int, Long, Int) =
    if (!store.exists(t)) (0, 0L, 0)
    else {
      val files = store.currentFiles(t).values.flatten.toSeq
      (files.size, files.map(f => Files.size(Paths.get(f))).sum, snapshotIds(store, t).size)
    }

  private def snapshotIds(store: SnapshotStore, t: String): Seq[Int] =
    (JsonMethods.parse(Files.readString(Paths.get(store.root, t, "manifest.json"))) \
      "snapshots") match {
      case JArray(xs) => xs.collect { case s => (s \ "id") match { case JInt(i) => i.toInt; case _ => -1 } }
      case _ => Nil
    }

  /** Mean bytes of a wave-commit record. */
  def commitBytes(store: SnapshotStore): Double = {
    val cs = walk(Paths.get(store.root, "_commits")).filter(_.toString.endsWith(".json"))
    if (cs.isEmpty) 0.0 else cs.map(Files.size).sum.toDouble / cs.size
  }

  /** Wall-clock time (epoch ms) the wave's commit record was written. */
  def commitMs(store: SnapshotStore, wave: Int): Double =
    Files.getLastModifiedTime(Paths.get(store.root, "_commits", f"wave-$wave%05d.json"))
      .to(TimeUnit.MICROSECONDS) / 1e3

  /** Frontier log rows over distinct URLs (one discovery row per URL) in
    * the snapshot `id`: merge-on-read amplification. */
  def readAmp(spark: SparkSession, store: SnapshotStore, id: Int): Double = {
    val byKind = store.readSnapshot(spark, "frontier", id).groupBy("is_update").count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val urls = byKind.getOrElse(false, 0L)
    if (urls == 0) 1.0 else (urls + byKind.getOrElse(true, 0L)).toDouble / urls
  }

  /** Frontier snapshot the commit of `wave` pinned. */
  def frontierPin(store: SnapshotStore, wave: Int): Int = store.wavePins(wave)("frontier")

  /** The frontier snapshot written between the commits of `wave` and
    * `wave + 1` (the cadence compaction after `wave`), if any. */
  def compactionSnapshot(store: SnapshotStore, wave: Int): Option[Int] = {
    val (lo, hi) = (frontierPin(store, wave), frontierPin(store, wave + 1))
    snapshotIds(store, "frontier").filter(id => id > lo && id < hi).sorted.lastOption
  }

  /** Seconds the cadence compaction after `wave` took: from that wave's
    * commit to the last data file of the compaction snapshot. */
  def compactSeconds(store: SnapshotStore, wave: Int): Option[Double] =
    compactionSnapshot(store, wave).map { id =>
      val last = store.snapshotFiles("frontier", id).values.flatten
        .map(f => Files.getLastModifiedTime(Paths.get(f)).to(TimeUnit.MICROSECONDS) / 1e3).max
      (last - commitMs(store, wave)) / 1e3
    }

  /** Seconds to scan the seen-key column of every bucket (what the exact
    * confirm reads per touched bucket). */
  def seenScanSeconds(spark: SparkSession, store: SnapshotStore, nBuckets: Int): Double =
    seconds(store.readBuckets(spark, "frontier", 0 until nBuckets)
      .select(sum(length(col("norm_url")))).collect())

  /** Seconds to materialize the merge-on-read current frontier. */
  def mergeReadSeconds(spark: SparkSession, store: SnapshotStore): Double =
    seconds(CrawlEngine.frontierCurrent(spark, store).write.format("noop").mode("overwrite").save())

  def seconds(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Recursive copy; manifests hold table-relative paths, so a copied
    * store is a valid store. */
  def copyStore(from: SnapshotStore, to: Path): SnapshotStore = {
    val src = Paths.get(from.root)
    walk(src).foreach { p =>
      val dst = to.resolve(src.relativize(p).toString)
      Files.createDirectories(dst.getParent)
      Files.copy(p, dst)
    }
    new SnapshotStore(to.toString)
  }

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists))
  }
}
