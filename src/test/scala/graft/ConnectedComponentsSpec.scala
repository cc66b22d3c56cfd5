package graft

import graft.core.Checkpoint
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.connectedComponents`: the union-find kernel, the contraction
  * path (one partition, any diameter), the propagation path over the
  * residual star edges (forced with `parts > 1`), and what the call
  * leaves behind in storage and in jobs. */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("cc-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pairsOf(edges: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    edges.toDF("id_a", "id_b")
  }

  private def labelsOf(cc: DataFrame): Map[Long, Long] =
    cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Components by breadth-first search: node → least node reachable. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    adj.keys.foldLeft(Map.empty[Long, Long]) { (acc, start) =>
      if (acc.contains(start)) acc
      else {
        val seen = Iterator.iterate((Set(start), Set(start))) { case (all, frontier) =>
          val next = frontier.flatMap(adj).diff(all)
          (all ++ next, next)
        }.dropWhile(_._2.nonEmpty).next()._1
        acc ++ seen.map(_ -> seen.min)
      }
    }
  }

  /** A seeded random graph below the percolation threshold: many small
    * components, so hash-partitioned edges split most of them. */
  private def randomEdges(seed: Long, nodes: Int, edges: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(edges) {
      val (a, b) = (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong)
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
  }

  private def path(n: Int): Seq[(Long, Long)] = (1L until n.toLong).map(i => (i, i + 1))

  test("unionFind roots are Spark's min, for bigint and string ids") {
    // the non-BMP id sorts BEFORE U+FFFD in UTF-16 (String.compareTo)
    // but AFTER it in code-point order, which is Spark's
    val smile = new String(Character.toChars(0x1F600))
    val fffd = "\uFFFD"
    assert(smile.compareTo(fffd) < 0)
    val s = spark
    import s.implicits._
    val longEdges = Seq((5L, -3L), (-3L, 9L), (9L, Long.MaxValue), (42L, 7L))
    val stringEdges = Seq((smile, fffd), (fffd, fffd + "a"), ("b", "a"), ("a", smile + "x"))
    def rootsOf(edges: Seq[(Any, Any)], ord: Ordering[Any]) =
      Dedup.unionFind(edges.iterator)(ord).toMap
    val longRoots = rootsOf(longEdges, Dedup.idOrdering(LongType))
    val stringRoots = rootsOf(stringEdges, Dedup.idOrdering(StringType))
    assert(longRoots.keySet == longEdges.flatMap(e => Seq(e._1, e._2)).toSet)
    assert(stringRoots.keySet == stringEdges.flatMap(e => Seq(e._1, e._2)).toSet)
    // every root equals Spark's min over the nodes it labels
    longRoots.groupMap(_._2)(_._1).foreach { case (root, nodes) =>
      assert(root == nodes.map(_.asInstanceOf[Long]).toSeq.toDF("id")
        .agg(min("id")).head().getLong(0))
    }
    stringRoots.groupMap(_._2)(_._1).foreach { case (root, nodes) =>
      assert(root == nodes.map(_.asInstanceOf[String]).toSeq.toDF("id")
        .agg(min("id")).head().getString(0))
    }
    assert(stringRoots(smile) == fffd && stringRoots("b") == "a")
    // and end to end through the operator
    val cc = Dedup.connectedComponents(stringEdges.toDF("id_a", "id_b"))
    val got = cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == stringRoots)
    Checkpoint.free(cc)
  }

  test("a 1000-node path resolves to one component labelled 1") {
    val cc = Dedup.connectedComponents(pairsOf(path(1000)))
    val got = labelsOf(cc)
    assert(got.size == 1000 && got.values.toSet == Set(1L))
    Checkpoint.free(cc)
  }

  test("an empty pair set has no components") {
    val cc = Dedup.connectedComponents(pairsOf(Seq.empty))
    assert(cc.collect().isEmpty)
    Checkpoint.free(cc)
  }

  test("parts = 4 (contraction + propagation) equals parts = 1 on a random graph") {
    val edges = randomEdges(seed = 11, nodes = 4000, edges = 1600)
    val pairs = pairsOf(edges)
    val (one, roundsOne) = Dedup.componentsIn(pairs, parts = 1)
    val (four, roundsFour) = Dedup.componentsIn(pairs, parts = 4)
    assert(roundsOne == 0, "one partition must finish with the contraction")
    assert(roundsFour > 0, "the forced split should leave nodes with two roots")
    val want = reference(edges)
    assert(labelsOf(one) == want)
    assert(labelsOf(four) == want)
    Seq(one, four).foreach(Checkpoint.free)
  }

  test("above one partition the diameter bound still refuses a long path") {
    val before = persistentIds
    val e = intercept[IllegalArgumentException](
      Dedup.componentsIn(pairsOf(path(1000)), parts = 4))
    assert(e.getMessage.contains("did not converge in 20 rounds"), e.getMessage)
    assert(persistentIds == before, "a refused call must free what it cached")
  }

  test("a caller-cached pair input keeps its storage level") {
    val pairs = pairsOf(Seq((1L, 2L), (2L, 3L), (10L, 11L))).cache()
    pairs.count()
    val level = pairs.storageLevel
    val cc = Dedup.connectedComponents(pairs)
    cc.collect()
    assert(pairs.storageLevel == level)
    pairs.unpersist()
    Checkpoint.free(cc)
  }

  test("persistent RDDs grow by at most the returned labels across a multi-round call") {
    val before = persistentIds
    val (cc, rounds) = Dedup.componentsIn(pairsOf(randomEdges(seed = 5, nodes = 3000, edges = 600)),
      parts = 4)
    assert(rounds > 1, s"not a multi-round call ($rounds rounds)")
    assert((persistentIds -- before).size <= 1, s"left ${persistentIds -- before}")
    Checkpoint.free(cc)
    val plain = Dedup.connectedComponents(pairsOf(path(50)))
    assert((persistentIds -- before).size <= 1)
    Checkpoint.free(plain)
    assert(persistentIds == before)
  }

  test("sizing: a materialized cache takes one partition, an RDD input more") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val edges = randomEdges(seed = 7, nodes = 2000, edges = 900)
    val schema = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    def fromRdd = spark.createDataFrame(
      spark.sparkContext.parallelize(edges.map { case (a, b) => Row(a, b) }, 3), schema)
    // one partition is a lazy plan: defining it runs no job. An RDD
    // carries no statistics (its size estimate is the session default,
    // unbounded), so it is sized at the cap and its contraction runs
    // when the labels are defined
    var multi: DataFrame = null
    assert(SparkJobs.of(spark) { multi = Dedup.connectedComponents(fromRdd) } > 0)
    assert(labelsOf(multi) == reference(edges))
    Checkpoint.free(multi)
    // the same rows cached and materialized report their row count
    val cached = fromRdd.cache()
    cached.count()
    var one: DataFrame = null
    assert(SparkJobs.of(spark) { one = Dedup.connectedComponents(cached) } == 0)
    assert(labelsOf(one) == reference(edges))
    cached.unpersist()
  }

  test("one partition: the labels are a lazy plan holding no persistent RDD") {
    val before = persistentIds
    val edges = randomEdges(seed = 3, nodes = 500, edges = 300)
    val cc = Dedup.connectedComponents(pairsOf(edges))
    assert(labelsOf(cc) == reference(edges))
    assert(persistentIds == before, s"left ${persistentIds -- before}")
  }

  test("job budget: PlanSpec's graph resolves in one Spark job") {
    // defining the labels runs no job; the collect runs the contraction
    // in its own stage: measured 1 here (local[4], 4 shuffle
    // partitions, AQE on). 881847e ran 3 (the sizing count, the
    // contraction checkpoint and the collect); 99f758e ran 19 (two
    // counts, the edge and seed checkpoints and a job per propagation
    // round, each with its AQE map stages)
    val pairs = pairsOf(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    var cc: DataFrame = null
    assert(SparkJobs.of(spark) { cc = Dedup.connectedComponents(pairs) } == 0)
    var labels = Map.empty[Long, Long]
    val jobs = SparkJobs.of(spark) { labels = labelsOf(cc) }
    info(s"jobs: $jobs")
    assert(jobs <= 1, s"connectedComponents + collect ran $jobs jobs (> 1)")
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
