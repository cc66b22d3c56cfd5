package graft

import graft.core.Checkpoint
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.{BlockId, StorageLevel}
import org.scalatest.funsuite.AnyFunSuite

/** The eager fills of freshly persisted intermediates: how many Spark
  * jobs one fill runs, on its own and at the two ops that fill a
  * persist before their consumers race for it; the pair generators
  * and bucket probes, which persist nothing; and the two RDD block
  * counters that these checks use. */
class EagerFillSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("eager-fill-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def jobsOf(f: => Unit): Int = SparkJobs.of(spark)(f)

  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 40).map(i => (i.toLong, s"story $i about the ${i % 5} county board vote"))
      .toDF("doc", "text")
  }

  private def vectors: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 64).map(i => (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("Checkpoint.fill fills a fresh persist in one job; Dataset.count() takes more") {
    // a fresh persist without a shuffle inside: one job fills it. A
    // like plan filled by Dataset.count() runs the cache fill, the
    // count's map stage and its final sum (local[4], 4 shuffle
    // partitions, AQE on: 3 jobs measured)
    def fresh(k: Int): DataFrame = vectors.select((col("vec_id") * k).as("x")).persist()
    val (viaFill, viaCount) = (fresh(2), fresh(3))
    def cachedPartitions: Int = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    val before = cachedPartitions
    val fillJobs = jobsOf(assert(Checkpoint.fill(viaFill) == 64L))
    assert(cachedPartitions > before, "the fill left the persist empty")
    val countJobs = jobsOf(assert(viaCount.count() == 64L))
    info(s"fill: $fillJobs job(s), Dataset.count(): $countJobs")
    assert(fillJobs == 1)
    assert(countJobs > fillJobs)
    Seq(viaFill, viaCount).foreach(_.unpersist())
  }

  test("the persisted op intermediates fill without the count's extra jobs") {
    // jobs each op runs when it is DEFINED (its eager fill, with the
    // map stages of the plan it caches; every other part of the op is
    // lazy), on a fresh input, local[4], 4 shuffle partitions, AQE on.
    // Measured with Checkpoint.fill (two runs): embeddingNearDupPairs 1,
    // ivfTopK 4. The Dataset.count() fills of commit 29fc78e ran 3 and 5.
    // lshCandidatePairs ran 4, then 3 with Checkpoint.fill, and
    // ngramJaccardPairs 4, then 3; since both aggregate per key instead
    // of self-joining a persisted table they fill nothing and run 0, as
    // do the bucket probes, which key the query row from itself instead
    // of reading it back from a persisted keyed corpus.
    // connectedComponents ran a sizing count and its contraction's
    // eager checkpoint; sized from statistics, a one-partition graph
    // is a lazy plan and runs 0.
    val sig = Dedup.minhashSignatures(docs, "doc", "text")
    val planes = Similarity.seededHyperplanes(7L, 4, 8)
    val jobs = Seq(
      "ngramJaccardPairs" -> jobsOf(Dedup.ngramJaccardPairs(docs, "doc", "text")),
      "lshCandidatePairs" -> jobsOf(Dedup.lshCandidatePairs(sig, nBands = 2)),
      "connectedComponents" ->
        jobsOf(Dedup.connectedComponents(Dedup.lshCandidatePairs(sig, nBands = 2))),
      "embeddingNearDupPairs" ->
        jobsOf(Dedup.embeddingNearDupPairs(vectors, "vec_id", "embedding", planes, 0.9)),
      "ivfTopK" -> jobsOf(Similarity.ivfTopK(vectors, "vec_id", "embedding",
        queryId = 0L, k = 3, nLists = 4, nProbe = 2))) ++
      probes.map { case (op, probe) => op -> jobsOf(probe()) }
    info(jobs.map { case (op, n) => s"$op: $n" }.mkString(", "))
    val budget = Map("ngramJaccardPairs" -> 0, "lshCandidatePairs" -> 0,
      "connectedComponents" -> 0, "embeddingNearDupPairs" -> 1, "ivfTopK" -> 4,
      "bucketedTopK" -> 0, "multiprobeTopK" -> 0, "multiTableTopK" -> 0)
    jobs.foreach { case (op, n) =>
      assert(n <= budget(op), s"$op's eager fill ran $n jobs (> ${budget(op)})")
    }
    spark.catalog.clearCache()
  }

  /** The three bucket probes over `vectors`, by name. */
  private def probes: Seq[(String, () => DataFrame)] = {
    val planes = Similarity.seededHyperplanes(7L, 4, 8)
    Seq(
      "bucketedTopK" -> (() => Similarity.bucketedTopK(vectors, "vec_id", "embedding",
        queryId = 0L, k = 3, nBits = 4)),
      "multiprobeTopK" -> (() => Similarity.multiprobeTopK(vectors, "vec_id", "embedding",
        queryId = 0L, k = 3, planes = planes)),
      "multiTableTopK" -> (() => Similarity.multiTableTopK(vectors, "vec_id", "embedding",
        queryId = 0L, k = 3, tables = Similarity.hyperplaneTables(7L, 2, 4, 8))))
  }

  test("the block counter sees a persist that is left filled") {
    val kept = vectors.select((col("vec_id") * 5).as("x")).persist()
    var stored = Set.empty[BlockId]
    val left = SparkJobs.rddBlocksLeftBy(spark, timeoutMs = 200L) {
      stored = SparkJobs.rddBlocksStoredBy(spark)(Checkpoint.fill(kept))
    }
    assert(stored.nonEmpty, "the listener saw no block stored")
    assert(left == stored, "the storage status and the listener disagree on a left persist")
    kept.unpersist(blocking = true)
  }

  test("the storage status sees a freed checkpoint gone; the listener still counts it") {
    def freed(): Unit =
      Checkpoint.free(vectors.select((col("vec_id") * 3).as("x")).localCheckpoint(eager = true))
    assert(SparkJobs.rddBlocksStoredBy(spark)(freed()).nonEmpty,
      "the listener saw no block stored")
    val left = SparkJobs.rddBlocksLeftBy(spark)(freed())
    assert(left.isEmpty, s"a freed checkpoint left blocks: ${left.mkString(", ")}")
  }

  test("the pair generators and bucket probes persist nothing and leave no block") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val sig = Dedup.minhashSignatures(docs, "doc", "text")
    val ops = Seq[(String, () => DataFrame)](
      "lshCandidatePairs" -> (() => Dedup.lshCandidatePairs(sig, nBands = 2)),
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs, "doc", "text"))) ++ probes
    ops.foreach { case (op, run) =>
      spark.catalog.clearCache()
      val blocks = SparkJobs.rddBlocksStoredBy(spark)(assert(run().count() > 0L, s"$op is empty"))
      assert(blocks.isEmpty, s"$op stored RDD blocks: ${blocks.mkString(", ")}")
      assert(cache.isEmpty, s"$op left a CacheManager entry behind")
    }
    assert(sig.storageLevel == StorageLevel.NONE, "the caller's signature frame was persisted")
  }
}
