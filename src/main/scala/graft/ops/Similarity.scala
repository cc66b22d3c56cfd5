package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * Scale path: `bruteForceTopK` is the exactness baseline (one pass,
  * map-side partial top-k via TakeOrderedAndProject — no full sort).
  * `srpBuckets`/`bucketedTopK` is the 100-TB path: sign-random-projection
  * LSH keys co-partition candidates so each query probes one bucket
  * (a broadcast-joinable slice) instead of the full corpus.
  */
object Similarity {

  /** Deterministic 4-decimal truncation — identical in any IEEE engine
    * (unlike round(), which half-rounds on the decimal repr). */
  private def trunc4(c: Column): Column = floor(c * 1e4) / 1e4

  /** Cosine similarity between two double-cast float arrays, summed in
    * index order (deterministic bitwise across engines). */
  private def dotD(x: Column, y: Column): Column = aggregate(
    zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
    lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))

  /** Exact top-k by cosine against one query vector (given as the row of
    * `vectors` with id `queryId`). Output: (vec_id, cos) ordered. */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    val q = vectors.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"))
    vectors.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        trunc4(cosine(col(vecCol), col("qv"))).as("cos"))
      .orderBy(desc("cos"), asc(idCol))
      .limit(k)
  }

  /** Sign-random-projection bucket id from the first `nBits` dimensions
    * (axis-aligned hyperplanes — deterministic, engine-portable; swap in
    * seeded hyperplanes for production randomness). */
  def srpBucket(vec: Column, nBits: Int): Column =
    (0 until nBits).map { i =>
      when(element_at(vec, i + 1) >= 0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  def srpBuckets(vectors: DataFrame, idCol: String, vecCol: String,
                 nBits: Int = 8): DataFrame =
    vectors.select(col(idCol), srpBucket(col(vecCol), nBits).as("bucket"))

  /** LSH-bucketed ANN: probe only the query's bucket, exact cosine
    * within it. At scale the bucket column is the table's partition
    * key, so this prunes partitions at the scan. */
  def bucketedTopK(vectors: DataFrame, idCol: String, vecCol: String,
                   queryId: Long, k: Int, nBits: Int = 8): DataFrame =
    probeTopK(vectors, idCol, vecCol, queryId, k,
      Seq("bucket" -> srpBucket(col(vecCol), nBits)), _ === _, shown = Seq("bucket"))

  /** The bucket probe of [[bucketedTopK]], [[multiprobeTopK]] and
    * [[multiTableTopK]]: each named key is an expression over `vecCol`;
    * a corpus row is a candidate when `collide(key, query's key)` holds
    * for ANY key, and the top `k` candidates by exact cosine come out as
    * (idCol, shown keys..., cos). The query row keys its own vector from
    * `vectors.filter(idCol === queryId)` and is broadcast, so the corpus
    * is keyed once, in the probe scan, and nothing is persisted. */
  private def probeTopK(vectors: DataFrame, idCol: String, vecCol: String,
                        queryId: Long, k: Int, keys: Seq[(String, Column)],
                        collide: (Column, Column) => Column,
                        shown: Seq[String] = Nil): DataFrame = {
    val q = vectors.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv") +: keys.map { case (n, key) => key.as(s"q_$n") }: _*)
    vectors.select(col(idCol) +: col(vecCol) +: keys.map { case (n, key) => key.as(n) }: _*)
      .join(broadcast(q), keys.map { case (n, _) => collide(col(n), col(s"q_$n")) }.reduce(_ || _))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol) +: shown.map(col) :+
        trunc4(cosine(col(vecCol), col("qv"))).as("cos"): _*)
      .orderBy(desc("cos"), asc(idCol))
      .limit(k)
  }

  // ---- seeded-random-hyperplane SRP + multiprobe (the real ANN path) ----

  /** splitmix64 — deterministic hyperplane PRNG. */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Seeded random hyperplanes over the FULL embedding dimension.
    * Coefficients are dyadic rationals (k/1024 ∈ [-1,1]) so their
    * decimal literals are bit-exact in any IEEE engine — the DuckDB
    * oracle SQL embeds the same constants. */
  def seededHyperplanes(seed: Long, nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits) { i =>
      Array.tabulate(dim) { d =>
        val r = splitmix64(seed ^ (i.toLong << 32) ^ d.toLong)
        ((java.lang.Long.remainderUnsigned(r, 2049L)) - 1024L).toDouble / 1024.0
      }
    }

  /** SRP signature from seeded hyperplanes: bit i = (vec · Hᵢ ≥ 0). */
  def srpBucketSeeded(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (h, i) =>
      val dot = aggregate(
        zip_with(vec, typedLit(h.toSeq), (p, q) => p.cast("double") * q),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Independent hyperplane sets for multi-table LSH (seeds derived
    * per table). */
  def hyperplaneTables(seed: Long, nTables: Int, nBits: Int, dim: Int): Seq[Array[Array[Double]]] =
    (0 until nTables).map(t => seededHyperplanes(seed + 0x5deece66dL * (t + 1), nBits, dim))

  /** Multi-table LSH ANN (the recall workhorse): L independent SRP
    * tables of k bits each; a vector is a candidate when it collides
    * with the query in ANY table (P(capture) = 1-(1-p^k)^L, the
    * textbook LSH amplification). At scale each table's bucket is a
    * partition key → L partition lookups instead of a corpus scan.
    * Recall vs [[bruteForceTopK]] is asserted in AnnSpec. */
  def multiTableTopK(vectors: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int,
                     tables: Seq[Array[Array[Double]]]): DataFrame =
    probeTopK(vectors, idCol, vecCol, queryId, k,
      tables.zipWithIndex.map { case (planes, t) => s"b$t" -> srpBucketSeeded(col(vecCol), planes) },
      _ === _)

  /** Fold over the (cid-sorted) centroid array keeping the argmax-cosine
    * centroid id; strict `>` keeps the FIRST (lowest-cid) winner on
    * ties, matching the oracle's `ORDER BY cos DESC, cid LIMIT 1`.
    * Scores as dot(v,c)/|c| rather than full cosine: the row norm |v|
    * is a positive constant across centroids, so dividing by it changes
    * no comparison (argmax AND tie sets are identical) — and |c| comes
    * precomputed in the broadcast struct (`cn`), making the fold ONE
    * length-d dot per centroid instead of cosine's three. */
  private def argmaxCentroid(vec: Column, cents: Column): Column =
    aggregate(cents,
      struct(lit(Double.NegativeInfinity).as("best"), lit(-1).as("cid")),
      (acc, c) => {
        val s = dotD(vec, c.getField("cv")) / c.getField("cn")
        when(s > acc.getField("best"),
          struct(s.as("best"), c.getField("cid").as("cid"))).otherwise(acc)
      }).getField("cid")

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path
    * complementing the LSH family (the brief's "IVF or LSH-bucketed
    * variant"): every vector is assigned to its nearest of `nLists`
    * centroids (deterministic sampled centroids — the rows with
    * id < nLists; no training pass, so any IEEE engine reproduces the
    * assignment bit-identically), and a query scans only the `nProbe`
    * centroid lists nearest to it — the FAISS IVF-Flat shape. At scale
    * `cluster` is the table's partition key, so a query reads nProbe
    * partitions instead of the corpus; assignment itself is one
    * map-side pass against a broadcast centroid array (no shuffle).
    * Recall vs [[bruteForceTopK]] is asserted in AnnSpec. */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, nLists: Int, nProbe: Int): DataFrame = {
    val base = vectors.select(col(idCol), col(vecCol).as("v"))
    // sampled coarse quantizer as ONE broadcast row, cid-sorted so the
    // assignment fold's first-wins tie-break matches the oracle
    val cents = base.filter(col(idCol) < nLists)
      .agg(sort_array(collect_list(
        struct(col(idCol).cast("int").as("cid"), col("v").as("cv"),
          sqrt(dotD(col("v"), col("v"))).as("cn")))).as("cents"))
    // persisted: the assignment fold (one dot per centroid per row) is
    // referenced by the query-row probe AND the corpus-side scan — and
    // the broadcast centroid agg behind it would otherwise run twice too
    val assigned = base.crossJoin(broadcast(cents))
      .withColumn("cluster", argmaxCentroid(col("v"), col("cents")))
      .persist()
    graft.core.Checkpoint.fill(assigned) // eager fill — see Dedup.embeddingNearDupPairs
    val q = assigned.filter(col(idCol) === queryId)
      .select(col("v").as("qv"), col("cents"))
    // the query's nProbe nearest centroids (centroid-cardinality work)
    val probes = q
      .select(explode(col("cents")).as("c"), col("qv"))
      .select(col("c").getField("cid").as("pcid"),
        cosine(col("qv"), col("c").getField("cv")).as("pcos"))
      .orderBy(desc("pcos"), asc("pcid"))
      .limit(nProbe)
      .select("pcid")
    assigned.filter(col(idCol) =!= queryId)
      .join(broadcast(probes), col("cluster") === col("pcid"))
      .crossJoin(broadcast(q.select(col("qv"))))
      .select(col(idCol), col("cluster"),
        trunc4(cosine(col("v"), col("qv"))).as("cos"))
      .orderBy(desc("cos"), asc(idCol))
      .limit(k)
  }

  /** Multiprobe ANN: probe the query's bucket plus every bucket at
    * Hamming distance 1 (nBits+1 probes), exact cosine within the
    * candidate set. At scale bucket = partition key, so multiprobe is
    * nBits+1 partition lookups instead of a corpus scan; recall is
    * asserted against [[bruteForceTopK]] in AnnSpec. */
  def multiprobeTopK(vectors: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int, planes: Array[Array[Double]]): DataFrame =
    probeTopK(vectors, idCol, vecCol, queryId, k,
      Seq("bucket" -> srpBucketSeeded(col(vecCol), planes)),
      (b, qb) => bit_count(b.bitwiseXOR(qb)) <= 1, shown = Seq("bucket"))
}
