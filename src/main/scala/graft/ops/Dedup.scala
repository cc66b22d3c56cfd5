package graft.ops

import graft.core.Checkpoint
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import scala.annotation.tailrec
import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

/** Corpus-scale deduplication operators for training-data pipelines.
  *
  * Scale notes (100 TB design): every operator here is a pure
  * shuffle-on-key dataflow — no driver-side state, no collect. The
  * candidate-pair generators (n-gram shingles, LSH buckets) are the
  * only quadratic-risk steps; both carry a frequent-key prune
  * (`maxDocsPerKey`) that bounds per-key fanout, the standard
  * stop-shingle treatment — at cluster scale this is what keeps the
  * shuffle skew-free (hot shingles are exactly the keys AQE skew-split
  * would otherwise chase). Both generate their pairs from one capped
  * aggregation per key, [[CappedIds]], with no self-join: a partial
  * buffer holds at most `maxDocsPerKey` items, and a stop key ships one
  * count per map task, never its items, so no reducer turns hot.
  */
object Dedup {

  /** Exact duplicate groups by content hash (reference analogue:
    * content_hash/text_hash SHA-256 dedup, database.py:792-794).
    * One hash-aggregate, map-side combinable. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word k-shingles per document: (id, sh). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    everyShingle(docs, idCol, textCol, k).distinct()

  /** Every word k-shingle of every document, repeats included: (id, sh). */
  private def everyShingle(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val parts = (0 until k).map(i => s"t[i+$i]").mkString(", ")
    docs.select(col(idCol).as("doc"), split(col(textCol), " ").as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc"), explode(
        expr(s"transform(sequence(0, size(t)-$k), i -> concat_ws(' ', $parts))")).as("sh"))
  }

  /** Candidate near-dup pairs with n-gram Jaccard similarity, as
    * (id_a, id_b, inter, jaccard) with id_a < id_b in Spark's order.
    * One aggregation per doc gathers its distinct k-shingles, whose
    * number is the doc's size `sz` (every distinct shingle, pruned ones
    * included); one aggregation per shingle gathers its (doc, sz) items
    * into a [[CappedIds]] buffer, which drops them once the shingle is
    * held by more than `maxDocsPerKey` docs (the stop-shingle prune); a
    * double explode and one count per pair give `inter`, so Jaccard is
    * exact from `inter` and the two sizes. No join, no persist. Ids are
    * bigint, int or string; a null id counts toward a shingle's cap but
    * never pairs. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.1,
                        maxDocsPerKey: Int = 100): DataFrame = {
    val perDoc = everyShingle(docs, idCol, textCol, k)
      .groupBy("doc").agg(collect_set(col("sh")).as("shs"))
    val items = cappedIds("ngramJaccardPairs", perDoc.schema("doc").dataType, maxDocsPerKey,
      sized = true)
    perDoc
      .select(col("doc"), size(col("shs")).cast(LongType).as("sz"), explode(col("shs")).as("sh"))
      .groupBy("sh").agg(items(col("doc"), col("sz")).as("items"))
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a._1") < col("b._1"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .select(col("a._1").as("id_a"), col("b._1").as("id_b"), col("inter"),
        (col("inter") / (col("a._2") + col("b._2") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signatures (nHashes mins over md5(seed|shingle)) grouped
    * into LSH bands of `bandSize`; band key = md5 of the band's hashes.
    * Using min-of-md5-hex as the hash family keeps the signature
    * reproducible in any engine (the correctness oracle recomputes it
    * in SQL). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, nHashes: Int = 4, bandSize: Int = 2): DataFrame = {
    val sh = shingles(docs, idCol, textCol, k)
    val hashes = (0 until nHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("sh")))).as(s"h$i"))
    val sig = sh.groupBy("doc").agg(hashes.head, hashes.tail: _*)
    val bands = (0 until nHashes / bandSize).map { b =>
      val cols = (b * bandSize until (b + 1) * bandSize).map(i => col(s"h$i"))
      md5(concat(cols: _*)).as(s"band$b")
    }
    sig.select(col("doc") +: (0 until nHashes).map(i => col(s"h$i")) ++: bands: _*)
  }

  /** LSH candidate pairs: docs sharing any band bucket, as (id_a, id_b)
    * with id_a < id_b in Spark's order (binary for strings), distinct
    * across bands. One projection explodes each signature row into its
    * `nBands` (band, key) entries; one aggregation per (band, key)
    * gathers the bucket's ids into a [[CappedIds]] buffer, which drops
    * them once the bucket holds more than `maxDocsPerKey` rows (the
    * stop-key prune); each surviving bucket's pairs stream out of a
    * double explode. The signature table is read once and nothing is
    * persisted. Ids are bigint, int or string. A null key never pairs;
    * a null id, and every duplicate row, counts toward its bucket's cap,
    * but a null id is never paired. */
  def lshCandidatePairs(signatures: DataFrame, nBands: Int,
                        maxDocsPerKey: Int = 1000): DataFrame = {
    val ids = cappedIds("lshCandidatePairs", signatures.schema("doc").dataType, maxDocsPerKey)
    signatures
      .select(col("doc"),
        posexplode(array((0 until nBands).map(b => col(s"band$b")): _*)).as(Seq("band", "key")))
      .filter(col("key").isNotNull)
      .groupBy("band", "key").agg(ids(col("doc")).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /** The [[CappedIds]] aggregate for an id column of `idType`: over the
    * ids alone, or when `sized` over (id, bigint size) pairs. */
  private def cappedIds(op: String, idType: DataType, cap: Int,
                        sized: Boolean = false): UserDefinedFunction = {
    def of[T >: Null : TypeTag](ids: Encoder[T]): UserDefinedFunction =
      if (sized) udaf(new CappedIds[(T, java.lang.Long)](cap, _._1 == null),
        Encoders.tuple(ids, Encoders.LONG))
      else udaf(new CappedIds[T](cap, _ == null), ids)
    idType match {
      case LongType => of(Encoders.LONG)
      case IntegerType => of(Encoders.INT)
      case StringType => of(Encoders.STRING)
      case other => throw new IllegalArgumentException(
        s"$op: id type ${other.simpleString} is not bigint, int or string")
    }
  }

  /** One key's items, bounded: the key's row count and, while that count
    * is at most `cap`, its items with a non-null id. A count only grows
    * under reduce and merge, so once past the cap the items are dropped
    * for good: a partial buffer holds at most `cap` items, and a stop key
    * ships one count per map task. Emits the items, none past the cap. */
  private final class CappedIds[T](cap: Int, nullId: T => Boolean)(implicit tt: TypeTag[T])
    extends Aggregator[T, (Long, List[T]), Seq[T]] {
    private type Buf = (Long, List[T])
    private def keep(n: Long, items: => List[T]): Buf = (n, if (n > cap) Nil else items)
    def zero: Buf = (0L, Nil)
    def reduce(b: Buf, item: T): Buf = keep(b._1 + 1, if (nullId(item)) b._2 else item :: b._2)
    def merge(x: Buf, y: Buf): Buf = keep(x._1 + y._1, x._2 ::: y._2)
    def finish(b: Buf): Seq[T] = b._2
    // spelled out: the TypeTag of the alias `Buf` does not carry T's tag
    def bufferEncoder: Encoder[Buf] = Encoders.product[(Long, List[T])]
    def outputEncoder: Encoder[Seq[T]] = ExpressionEncoder[Seq[T]]()
  }

  /** Duplicate-GROUP resolution: connected components over a candidate-
    * pair graph → (doc, component_id = min doc id reachable), the step
    * that turns pair lists (LSH/Jaccard output) into keep/drop sets.
    * Contract, then propagate:
    *  1. the optimizer's statistics size the graph at ~500k edges per
    *     partition, capped at `defaultParallelism`: the row count when
    *     the plan knows it (a materialized cache does), else the size
    *     estimate over the edge row's size. No job runs; a near-dup
    *     graph of thousands of edges is ONE partition, and an input
    *     with no size estimate (an RDD) takes the most;
    *  2. one `mapPartitions` contracts each partition's edges with
    *     [[unionFind]] into (node, root = least node of its local
    *     component). On one partition that is every node once with its
    *     component's minimum: the labels are final and come back as a
    *     lazy plan, so the caller's own action runs the contraction in
    *     the stage of its first aggregation, with no job, cache or
    *     checkpoint of its own;
    *  3. above one partition, one aggregation keeps each node's least
    *     root, and an Observation on the same job counts the nodes given
    *     more than one root. When none is, the roots are final: local
    *     components that share a node share its one root, so by
    *     induction every local component of a component carries the
    *     component's minimum;
    *  4. otherwise min-label propagation ([[ccRound]]) runs over the
    *     residual star edges (node, root), node ≠ root, one job per round.
    *     It needs up to the residual graph's diameter in rounds, and past
    *     `maxIter` it refuses to answer rather than return wrong labels —
    *     the one size limit left, reachable only above one partition.
    *     Alternating large-star/small-star (Kiveris et al., SoCC 2014:
    *     O(log n) rounds, same per-round shape) is its upgrade.
    * Ids are bigint, int or (binary-collated) string columns. Above one
    * partition the pairs are read twice: a pair input the caller cached
    * keeps its cache, and an uncached one is cached for the call. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    val plan = pairs.queryExecution.optimizedPlan
    val nEdges = plan.stats.rowCount
      .getOrElse(plan.stats.sizeInBytes / EstimationUtils.getSizePerRow(plan.output))
    val parts = (nEdges / 500000).min(pairs.sparkSession.sparkContext.defaultParallelism)
      .max(1).toInt
    val own = parts > 1 && pairs.storageLevel == StorageLevel.NONE
    if (own) pairs.persist()
    try componentsIn(pairs, parts, idA, idB, maxIter)._1 finally if (own) pairs.unpersist()
  }

  /** [[connectedComponents]] over `parts` partitions, returning the
    * labels and the number of propagation rounds run (0 when the
    * contraction alone was final). Exposed for tests, which force
    * `parts` to reach the propagation path on small graphs. */
  private[graft] def componentsIn(pairs: DataFrame, parts: Int, idA: String = "id_a",
                                  idB: String = "id_b", maxIter: Int = 20): (DataFrame, Int) = {
    val idType = pairs.schema(idA).dataType
    val ord = idOrdering(idType)
    val edges = pairs.select(col(idA).as("a"), col(idB).cast(idType).as("b"))
    // one partition keeps the planner's SinglePartition through the
    // mapPartitions, so a caller's aggregation over the labels needs no
    // exchange
    val placed = if (parts == 1) edges.coalesce(1) else edges.repartition(parts, col("a"))
    val rootSchema = StructType(Seq(
      StructField("node", idType, nullable = false), StructField("root", idType, nullable = false)))
    val roots = placed.mapPartitions(rows =>
      unionFind(rows.map(r => (r.get(0), r.get(1))))(ord).map { case (n, r) => Row(n, r) }
    )(Encoders.row(rootSchema))
    if (parts == 1) return (asComponents(roots.withColumnRenamed("root", "label")), 0)
    val obs = Observation()
    val contracted = roots.groupBy("node")
      .agg(min("root").as("label"), max("root").as("hi"))
      .observe(obs, count(when(col("label") =!= col("hi"), 1)).as("split"))
      .select("node", "label")
      .localCheckpoint()
    if (obs.get("split") == 0L) (asComponents(contracted), 0)
    else {
      val star = roots.filter(col("node") =!= col("root"))
      val edgesP = star.select(col("node").as("a"), col("root").as("b"))
        .unionByName(star.select(col("root").as("a"), col("node").as("b")))
        .repartition(parts, col("b")).cache()
      var labels = contracted
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIter) {
        // each round is ONE job: the eager localCheckpoint materializes
        // the round (cutting the recompute lineage) and fills the
        // Observation the convergence test reads — no separate
        // driver-blocking count() per round
        val (round, roundObs) = ccRound(edgesP, labels, parts)
        val next = round.localCheckpoint()
        Checkpoint.free(labels) // replaced; `next` no longer reads it
        labels = next
        changed = roundObs.get("changed").asInstanceOf[Long]
        it += 1
      }
      edgesP.unpersist()
      if (changed > 0) Checkpoint.free(labels)
      require(changed == 0,
        s"connectedComponents did not converge in $maxIter rounds " +
          s"(graph diameter exceeds the bound) — labels would be wrong")
      (asComponents(labels), it)
    }
  }

  private def asComponents(labels: DataFrame): DataFrame =
    labels.select(col("node").as("doc"), col("label").as("component_id"))

  /** Spark's `min` order on the external values of an id column:
    * numeric for integral ids, and for strings the binary order of
    * `UTF8String` (code-point order) — `String.compareTo` compares
    * UTF-16 units and puts non-BMP characters before U+E000-U+FFFF. */
  private[graft] def idOrdering(idType: DataType): Ordering[Any] = idType match {
    case LongType => Ordering.by[Any, Long](_.asInstanceOf[Long])
    case IntegerType => Ordering.by[Any, Int](_.asInstanceOf[Int])
    case StringType =>
      Ordering.by[Any, UTF8String](s => UTF8String.fromString(s.asInstanceOf[String]))
    case other => throw new IllegalArgumentException(
      s"connectedComponents: id type $other is not bigint, int or string")
  }

  /** Union-find over one partition's edges → (node, root) for every
    * node seen, root = the least node of its component under `ord`.
    * A union links the greater root under the lesser, so a root is
    * always its component's minimum; path halving keeps finds short.
    * Pure: no Spark state, shared by the operator and its tests. */
  def unionFind[T](edges: Iterator[(T, T)])(implicit ord: Ordering[T]): Iterator[(T, T)] = {
    val parent = mutable.HashMap.empty[T, T]
    @tailrec def find(n: T): T = {
      val p = parent.getOrElseUpdate(n, n)
      if (p == n) n
      else {
        val g = parent(p)
        parent(n) = g
        find(g)
      }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra
      else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    parent.keys.toVector.iterator.map(n => (n, find(n)))
  }

  /** One min-label propagation round: neighbors' labels equi-joined in,
    * merged with the node's own label by a partial-aggregating min. The
    * convergence test rides the SAME aggregation as an Observation
    * (each node's previous label is carried through the agg; changed =
    * #nodes whose label fell), so a round costs exactly one job and no
    * extra driver action. Exposed for PlanSpec's shape assertions. */
  private[graft] def ccRound(edgesP: DataFrame, labels: DataFrame, parts: Int)
  : (DataFrame, Observation) = {
    val prop = edgesP.join(labels, edgesP("b") === labels("node"))
      .select(edgesP("a").as("node"), col("label"),
        lit(null).cast("long").as("prev_tag"))
    val merged = labels.select(col("node"), col("label"), lit(1L).as("prev_tag"))
      .unionByName(prop)
    val obs = Observation()
    val next = merged.groupBy("node")
      .agg(min("label").as("label"),
        min(when(col("prev_tag").isNotNull, col("label"))).as("prev"))
      .observe(obs,
        sum(when(col("label") < col("prev"), 1L).otherwise(0L)).as("changed"))
      .select("node", "label")
      .repartition(parts, col("node"))
    (next, obs)
  }

  /** SimHash over distinct tokens: md5(token) supplies `bits` bits
    * (4 per leading hex char); each token votes ±1 per bit; the sign
    * of the per-bit sum (ties → 1) forms the fingerprint. Pure SQL
    * expressions → whole-stage codegen, and engine-portable for the
    * oracle. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame = {
    require(bits % 4 == 0, "bits must be a multiple of 4 (hex nibbles)")
    val tok = docs.select(col(idCol).as("doc"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .withColumn("hh", md5(col("w")))
    val sums = (0 until bits).map { j =>
      val hexPos = j / 4 + 1
      val mask = 8 >> (j % 4)
      sum(expr(
        s"CASE WHEN ((instr('0123456789abcdef', substr(hh, $hexPos, 1)) - 1) & $mask) > 0 THEN 1 ELSE -1 END"))
        .as(s"s$j")
    }
    val agg = tok.groupBy("doc").agg(sums.head, sums.tail: _*)
    val fp = (0 until bits).map { j =>
      when(col(s"s$j") >= 0, lit(1L << (bits - 1 - j))).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc"), fp.as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs: SRP-bucket the corpus with
    * seeded hyperplanes (Similarity.srpBucketSeeded), generate candidate
    * pairs ONLY within a bucket (equi-join on the bucket key — at 100 TB
    * the bucket is the table's partition key, so this is a co-partitioned
    * self-join, never all-pairs), then keep pairs whose exact cosine
    * clears `tau`. Complements the lexical dedups (Jaccard/MinHash/
    * SimHash) with a semantic near-dup signal over the embedding column. */
  def embeddingNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                            planes: Array[Array[Double]],
                            tau: Double): DataFrame = {
    // persist the bucketed corpus: both self-join sides reference it,
    // and the SRP signature (8 seeded-hyperplane dots per row) would
    // otherwise be evaluated twice per row (guide §5)
    val withB = vectors.select(col(idCol), col(vecCol),
      Similarity.srpBucketSeeded(col(vecCol), planes).as("bucket")).persist()
    // EAGER fill: the first action builds the join's sides concurrently,
    // and each thread that finds the cache cold recomputes the subtree;
    // one cheap fill materializes it once, before any consumer races
    Checkpoint.fill(withB)
    val a = withB.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("bucket"))
    val b = withB.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("bucket"),
        (floor(Similarity.cosine(col("va"), col("vb")) * 1e4) / 1e4).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** SQL text (shared Spark/DuckDB shape) for the simhash oracle. */
  def simhashOracleSql(table: String, idCol: String, textCol: String,
                       bits: Int = 16): String = {
    val sums = (0 until bits).map { j =>
      val hexPos = j / 4 + 1
      val mask = 8 >> (j % 4)
      s"SUM(CASE WHEN ((instr('0123456789abcdef', substr(hh, $hexPos, 1)) - 1) & $mask) > 0 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(", ")
    val fp = (0 until bits).map { j =>
      s"(CASE WHEN s$j >= 0 THEN ${1L << (bits - 1 - j)} ELSE 0 END)"
    }.mkString(" + ")
    s"""SELECT doc, CAST($fp AS BIGINT) AS simhash FROM (
          SELECT doc, $sums FROM (
            SELECT DISTINCT doc, md5(w) AS hh FROM (
              SELECT $idCol AS doc, unnest(string_split($textCol, ' ')) AS w FROM $table)
            WHERE w <> '')
          GROUP BY doc)
        ORDER BY doc"""
  }
}
