package graft

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, spark_partition_id}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The capped pair generator against the self-joins it replaced, kept
  * here as references: `Dedup.lshCandidatePairs` against the band
  * self-join (the per-band union, the stop-key count, its semi-join and
  * the self-join on (band, key, doc < doc)), and `Dedup.ngramJaccardPairs`
  * against the shingle self-join (the stop-shingle count, its semi-join,
  * the self-join on (sh, doc < doc) and the two size joins). */
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
    assert(e.getMessage.startsWith("lshCandidatePairs:"), e.getMessage)
    val docs = Seq((1.5, "a b c d")).toDF("doc", "text")
    val n = intercept[IllegalArgumentException](Dedup.ngramJaccardPairs(docs, "doc", "text"))
    assert(n.getMessage.startsWith("ngramJaccardPairs:") && n.getMessage.contains("double"),
      n.getMessage)
  }

  /** The shingle self-join formulation of the n-gram Jaccard pairs (the
    * operator's body before it moved onto the capped generator, less
    * its persist and eager fill, which change no row). */
  private def ngramReference(docs: DataFrame, k: Int, threshold: Double,
                             maxDocsPerKey: Int): DataFrame = {
    val sh = Dedup.shingles(docs, "doc", "text", k)
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= maxDocsPerKey).select("sh")
    val kept = sh.join(rare, Seq("sh"), "left_semi").select("doc", "sh")
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("sz"))
    val inter = kept.as("a").join(kept.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.doc"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc"))
      .withColumn("jaccard",
        col("inter") / (col("sa.sz") + col("sb.sz") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "jaccard")
  }

  /** Seeded documents over `ids` (null among them): random texts of 0-7
    * words from a five-word vocabulary (so shingles repeat within and
    * across docs, and some docs are shorter than k = 3), duplicate rows,
    * and two planted shingles held by exactly `Cap` and `Cap + 1`
    * distinct docs. Spread round-robin over `Parts` partitions. */
  private def ngramDocs(seed: Long, idType: DataType, ids: IndexedSeq[Any]): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def id: Any = ids(rnd.nextInt(ids.length))
    def words(n: Int): String = Seq.fill(n)(s"w${rnd.nextInt(5)}").mkString(" ")
    val random = Seq.fill(30)(Row(id, words(rnd.nextInt(8))))
    val dups = random.take(4)
    val named = rnd.shuffle(ids.filter(_ != null))
    val planted = Seq("p q r" -> named.take(Cap), "x y z" -> named.slice(Cap, 2 * Cap + 1))
      .flatMap { case (shingle, holders) => holders.map(d => Row(d, s"$shingle ${words(3)}")) }
    val schema = StructType(Seq(StructField("doc", idType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(random ++ dups ++ planted, 1), schema)
      .repartition(Parts)
  }

  private def rowSet(df: DataFrame): Set[Row] = {
    val rows = df.collect()
    assert(rows.length == rows.toSet.size, "rows are not distinct")
    rows.toSet
  }

  private def ngramAgreesWithReference(idType: DataType, ids: IndexedSeq[Any]): Unit =
    (1L to 6L).foreach { seed =>
      val docs = ngramDocs(seed, idType, ids)
      assert(docs.rdd.getNumPartitions >= 4)
      def agrees(threshold: Double): Set[Row] = {
        val got = Dedup.ngramJaccardPairs(docs, "doc", "text", k = 3, threshold = threshold,
          maxDocsPerKey = Cap)
        val ref = ngramReference(docs, k = 3, threshold = threshold, maxDocsPerKey = Cap)
        assert(got.schema.map(f => f.name -> f.dataType) == ref.schema.map(f => f.name -> f.dataType))
        val want = rowSet(ref)
        assert(rowSet(got) == want, s"seed $seed, threshold $threshold")
        want
      }
      val all = agrees(0.0)
      assert(all.nonEmpty, s"seed $seed pairs nothing")
      // a threshold equal to the median Jaccard keeps the pairs at it
      val median = all.toSeq.map(_.getDouble(3)).sorted.apply(all.size / 2)
      assert(agrees(median).exists(_.getDouble(3) == median))
    }

  test("n-gram Jaccard, bigint ids: equal to the shingle self-join") {
    ngramAgreesWithReference(LongType,
      IndexedSeq[Any](null, -7L, 0L, 3L, 12L, 40L, 41L, 99L, Long.MaxValue))
  }

  test("n-gram Jaccard, string ids: equal to the shingle self-join in binary order") {
    val smile = new String(Character.toChars(0x1F600))
    ngramAgreesWithReference(StringType,
      IndexedSeq[Any](null, "a", "b", "ab", "c", "zz", "\uFFFD", smile, smile + "x"))
  }

  test("n-gram Jaccard: the stop-shingle cap, sizes, duplicates, null ids and the threshold") {
    val s = spark
    import s.implicits._
    def pairs(rows: Seq[(java.lang.Long, String)], threshold: Double = 0.0): Set[Row] =
      rowSet(Dedup.ngramJaccardPairs(rows.toDF("doc", "text").repartition(4), "doc", "text",
        k = 3, threshold = threshold, maxDocsPerKey = Cap))
    // "a b c" is held by exactly the cap: every pair shares it. Doc 3's
    // size counts its second shingle "b c d" too (2), and doc 1's
    // duplicate row counts once
    val atCap = Seq[(java.lang.Long, String)]((1L, "a b c"), (1L, "a b c"), (2L, "a b c"),
      (3L, "a b c d"))
    assert(pairs(atCap) == Set(Row(1L, 2L, 1L, 1.0), Row(1L, 3L, 1L, 0.5), Row(2L, 3L, 1L, 0.5)))
    assert(pairs(atCap, threshold = 0.6) == Set(Row(1L, 2L, 1L, 1.0)))
    // one doc more makes "a b c" a stop shingle: it pairs nothing, but
    // it still counts in the sizes of the docs that share "b c d"
    val overCap = atCap :+ ((4L: java.lang.Long) -> "a b c d")
    assert(pairs(overCap) == Set(Row(3L, 4L, 1L, 1.0 / 3)))
    // a null id counts toward the cap, and never pairs
    val withNull = atCap :+ ((null: java.lang.Long) -> "a b c")
    assert(pairs(withNull).isEmpty)
    assert(pairs(Seq[(java.lang.Long, String)]((null, "e f g"), (5L, "e f g"))).isEmpty)
  }
}
