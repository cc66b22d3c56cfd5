package graft

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, spark_partition_id}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.lshCandidatePairs` against the band self-join it replaced:
  * the per-band union, the stop-key count, its semi-join and the
  * self-join on (band, key, doc < doc), kept here as the reference. */
class LshPairsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("lsh-pairs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Cap = 3
  private val Parts = 6

  /** The band self-join formulation of the candidate pairs. */
  private def reference(sig: DataFrame, nBands: Int, maxDocsPerKey: Int): DataFrame = {
    val perBand = (0 until nBands).map { b =>
      sig.select(col("doc"), col(s"band$b").as("key"), lit(b).as("band"))
    }.reduce(_ unionByName _)
    val rare = perBand.groupBy("band", "key").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= maxDocsPerKey).select("band", "key")
    val pruned = perBand.join(rare, Seq("band", "key"), "left_semi")
    pruned.as("a").join(pruned.as("b"),
        col("a.key") === col("b.key") && col("a.band") === col("b.band") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
  }

  /** A seeded signature table over `ids` (null among them): random keys
    * from a small alphabet (null among them), duplicate rows, and in
    * band 0 two planted buckets of exactly `Cap` and `Cap + 1` rows.
    * Spread round-robin over `Parts` partitions, so each planted bucket's
    * rows sit in different map tasks and its cap is decided by merged
    * partial buffers. */
  private def signatures(seed: Long, idType: DataType, ids: IndexedSeq[Any]): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def id: Any = ids(rnd.nextInt(ids.length))
    def key: String = if (rnd.nextInt(8) == 0) null else s"k${rnd.nextInt(12)}"
    val random = Seq.fill(40)(Row(id, key, key))
    val dups = random.take(5)
    val planted = Seq("full" -> Cap, "over" -> (Cap + 1)).flatMap { case (k, n) =>
      Seq.fill(n)(Row(id, k, key))
    }
    val schema = StructType(Seq(StructField("doc", idType),
      StructField("band0", StringType), StructField("band1", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(random ++ dups ++ planted, 1), schema)
      .repartition(Parts)
  }

  private def pairSet(df: DataFrame): Set[(Any, Any)] = {
    val rows = df.collect().map(r => (r.get(0), r.get(1)))
    assert(rows.length == rows.toSet.size, "pairs are not distinct")
    rows.toSet
  }

  private def agreesWithReference(idType: DataType, ids: IndexedSeq[Any]): Unit =
    (1L to 8L).foreach { seed =>
      val sig = signatures(seed, idType, ids)
      assert(sig.rdd.getNumPartitions >= 4)
      assert(sig.filter(col("band0") === "over").select(spark_partition_id()).distinct().count() > 1)
      val got = Dedup.lshCandidatePairs(sig, nBands = 2, maxDocsPerKey = Cap)
      assert(got.schema.map(_.dataType) == Seq(idType, idType))
      val want = pairSet(reference(sig, nBands = 2, maxDocsPerKey = Cap))
      assert(pairSet(got) == want, s"seed $seed")
      assert(want.nonEmpty, s"seed $seed pairs nothing")
    }

  test("bigint ids: equal to the band self-join, cap decided across partitions") {
    agreesWithReference(LongType, IndexedSeq[Any](null, -7L, 0L, 3L, 12L, 40L, Long.MaxValue))
  }

  test("string ids: equal to the band self-join in binary order") {
    // U+1F600 sorts after U+FFFD in UTF-8 bytes, before it in UTF-16
    val smile = new String(Character.toChars(0x1F600))
    agreesWithReference(StringType,
      IndexedSeq[Any](null, "a", "b", "ab", "\uFFFD", smile, smile + "x"))
  }

  test("a bucket of exactly the cap pairs; one row more pairs nothing") {
    val s = spark
    import s.implicits._
    def bucket(docs: Seq[Long]): DataFrame =
      docs.map(d => (d, "hot", s"own$d")).toDF("doc", "band0", "band1").repartition(4)
    val atCap = Dedup.lshCandidatePairs(bucket(Seq(1L, 2L, 3L)), nBands = 2, maxDocsPerKey = Cap)
    assert(pairSet(atCap) == Set[(Any, Any)]((1L, 2L), (1L, 3L), (2L, 3L)))
    // a duplicate row counts toward the cap, as a null id does
    Seq(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 3L)).foreach { docs =>
      assert(Dedup.lshCandidatePairs(bucket(docs), nBands = 2, maxDocsPerKey = Cap).isEmpty)
    }
    val withNull = Seq[(java.lang.Long, String, String)]((1L, "hot", "x"), (2L, "hot", "y"),
      (null, "hot", "z"), (4L, "hot", "w")).toDF("doc", "band0", "band1").repartition(4)
    assert(Dedup.lshCandidatePairs(withNull, nBands = 2, maxDocsPerKey = Cap).isEmpty)
  }

  test("an id type other than bigint, int or string is refused") {
    val s = spark
    import s.implicits._
    val sig = Seq((1.5, "k", "k")).toDF("doc", "band0", "band1")
    val e = intercept[IllegalArgumentException](Dedup.lshCandidatePairs(sig, nBands = 2))
    assert(e.getMessage.contains("double"), e.getMessage)
  }
}
