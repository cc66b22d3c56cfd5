package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: these assert the *plan shape*, not the
  * result — a correct query that scans all columns or shuffles a
  * broadcastable dimension is a regression at 100 TB even if its rows
  * match. */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-audit")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("q_s2_fifo_scan: filter pushed to parquet, columns pruned") {
    val p = plan("q_s2_fifo_scan")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,signup)]"),
      s"filter not pushed:\n$p")
    // only the needed columns reach the scan
    assert(p.contains("ReadSchema") && !p.contains("props"), s"columns not pruned:\n$p")
  }

  test("q_j1_dim_join: dimensions broadcast, no shuffle join on lineitem") {
    val p = plan("q_j1_dim_join")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
    // lineitem scan reads only the 2 needed columns
    assert(p.contains("l_suppkey") && !p.contains("l_shipdate"),
      s"lineitem not column-pruned:\n$p")
  }

  test("q_j2_antijoin: planned as broadcast anti-join (no SMJ)") {
    val p = plan("q_j2_antijoin")
    assert(p.contains("LeftAnti"), s"anti-join lost:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop") === false,
      s"anti-join shape:\n$p")
  }

  test("q_f2_normalize_url: native expression lives inside WholeStageCodegen") {
    val df = SparkEntry.queries("q_f2_normalize_url")(spark, dir)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("normalizeurl") || p.contains("NormalizeUrl") ||
      df.queryExecution.explainString(ExplainMode.fromString("codegen")).contains("UrlCodegen"),
      "NormalizeUrl not codegen'd")
  }

  test("q_w3_topk_per_source: single shuffle for the ranking window") {
    val p = plan("q_w3_topk_per_source")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    // one hash exchange for the window partition + the final range sort
    assert(exchanges <= 2, s"too many shuffles ($exchanges):\n$p")
  }

  test("q_dedup_exact: map-side partial aggregation present") {
    val p = plan("q_dedup_exact")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"no partial (map-side) aggregate:\n$p") // partial + final
  }

  test("q_sim_cosine_topk: broadcast query vector + TakeOrderedAndProject") {
    val p = plan("q_sim_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k degraded to full sort:\n$p")
  }

  test("q_dedup_embedding_cosine: bucket equi-join, no cartesian/all-pairs") {
    val p = plan("q_dedup_embedding_cosine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup pair generation degraded to all-pairs:\n$p")
    assert(p.contains("bucket"), s"no bucket key in join:\n$p")
  }

  test("q_dedup_lsh_pairs: one (band, key) aggregation under the distinct, no join, no cache") {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = SparkEntry.queries("q_dedup_lsh_pairs")(spark, dir)
    assert(df.collect().nonEmpty) // AQE's final plan, with every query stage
    val aqe = new AdaptiveSparkPlanHelper {}
    val nodes = aqe.collect(df.queryExecution.executedPlan) { case p => p }
    val joins = nodes.collect { case j: BaseJoinExec => j.nodeName }
    assert(joins.isEmpty, s"pair generation joins (${joins.mkString(", ")})")
    assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]), "a persisted intermediate is read")
    val logical = df.queryExecution.optimizedPlan
    assert(logical.find(_.isInstanceOf[InMemoryRelation]).isEmpty, "a persisted intermediate is read")
    def keyed(names: String*): Seq[Aggregate] = logical.collect {
      case a: Aggregate if a.groupingExpressions.map {
        case n: NamedExpression => n.name
        case e => e.sql
      } == names => a
    }
    val buckets = keyed("band", "key")
    assert(buckets.size == 1, s"${buckets.size} aggregations keyed by (band, key):\n$logical")
    val distinct = keyed("id_a", "id_b")
    assert(distinct.size == 1 && distinct.head.find(_ eq buckets.head).isDefined,
      s"the (band, key) aggregation is not under the pair distinct:\n$logical")
  }

  test("engine ranking: WindowGroupLimit (partial map-side top-k per host)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val eligible = (0 until 2000)
      .map(i => (s"https://h${i % 7}.example/a-$i", s"h${i % 7}.example",
        i % 32, f"src-${i % 7}%04d", 1, i % 3, 99L))
      .toDF("norm_url", "host", "host_bucket", "source_id", "priority",
        "discovered_wave", "mix_seed")
    val avail = (0 until 7).map(i => (s"h$i.example", 1 + i % 3)).toDF("p_host", "tokens")
    val df = graft.crawl.CrawlEngine.rankPerHost(eligible, avail)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("WindowGroupLimit"), s"ranking not group-limited:\n$p")
    assert(p.contains("Partial"), s"no map-side partial group limit:\n$p")
    // budget invariant on the result itself
    val got = df.collect()
    assert(got.nonEmpty)
    got.groupBy(_.getString(1)).foreach { case (h, rows) =>
      assert(rows.length <= 3, s"host $h exceeded cap")
    }
  }

  test("frontierCurrent plans no update fold on init's empty log or a compacted store") {
    import graft.crawl.CrawlEngine
    val cfg = graft.synth.Synth.Config(nHosts = 6, urlsPerHostPerWave = 5, nWaves = 2,
      compactEvery = 0)
    def freshStore() = new graft.store.SnapshotStore(
      java.nio.file.Files.createTempDirectory("plan-frontier").toString)
    def executed(store: graft.store.SnapshotStore): String =
      CrawlEngine.frontierCurrent(spark, store).queryExecution.executedPlan.toString()
    def folds(p: String): Boolean = p.contains("Aggregate") || p.contains("Join")
    val initial = freshStore()
    new CrawlEngine(spark, cfg, initial).init()
    val empty = executed(initial)
    assert(!folds(empty), s"fold planned over init's empty log:\n$empty")
    val store = freshStore()
    new CrawlEngine(spark, cfg, store).run()
    val raw = executed(store)
    assert(folds(raw), s"a log with appends must fold its update rows:\n$raw")
    CrawlEngine.compactForRead(spark, store, cfg.nBuckets)
    val compacted = executed(store)
    assert(!folds(compacted), s"fold planned over a compacted log:\n$compacted")
  }

  /** A bucket probe's plan: it reads no persisted intermediate, keeps its
    * map-side top-k, and joins the query row without a shuffle. The
    * cache is cleared first: `embeddingNearDupPairs` leaves its bucketed
    * corpus cached, and the multiprobe corpus plan matches it. */
  private def assertProbeShape(q: String): Unit = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    spark.catalog.clearCache()
    val logical = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
    assert(logical.find(_.isInstanceOf[InMemoryRelation]).isEmpty,
      "a persisted intermediate is read")
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"), s"top-k degraded to full sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"query join degraded to SMJ:\n$p")
  }

  test("q_ann_srp_multiprobe: single corpus scan joined to a 1-row broadcast query") {
    assertProbeShape("q_ann_srp_multiprobe")
  }

  Seq("q_ann_bucketed_topk", "q_ann_multitable").foreach { q =>
    test(s"$q: the bucket probe reads no cache and keeps its top-k") {
      assertProbeShape(q)
    }
  }

  test("q_dedup_ngram_jaccard: one aggregation keyed by the shingle, no join, no cache") {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    assert(logical.find(_.isInstanceOf[Join]).isEmpty, s"pair generation joins:\n$logical")
    assert(logical.find(_.isInstanceOf[InMemoryRelation]).isEmpty,
      s"a persisted intermediate is read:\n$logical")
    val byShingle = logical.collect {
      case a: Aggregate if a.groupingExpressions.map {
        case n: NamedExpression => n.name
        case e => e.sql
      } == Seq("sh") => a
    }
    assert(byShingle.size == 1, s"${byShingle.size} aggregations keyed by the shingle:\n$logical")
  }

  test("q_x4_content_type: pattern table broadcast, no shuffle of the results scan") {
    val p = plan("q_x4_content_type")
    // the 1-row collapsed pattern arrays reach the scan as a broadcast
    // nested-loop (cross of 1 row) — NEVER a shuffled join of results
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"pattern join shuffled the results scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
  }

  test("T3 global: strict FIFO keeps its one single-partition sort") {
    import spark.implicits._
    val results = (0 until 64)
      .map(i => (s"u$i", i % 4, s"h${i % 8}", i, 200))
      .toDF("norm_url", "wave", "host", "rank", "http_status")
    // the oldest-first rank is one single-partition sort by design
    val global = graft.crawl.Processing.runCycles(results, 8, 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(global.contains("SinglePartition"),
      s"global form unexpectedly lost its strict-FIFO single sort:\n$global")
  }

  test("dedup connectedComponents: rounds are equi-join + partial agg, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, least, min}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // the ROUND dataflow (each round is materialized eagerly inside the
    // loop, so the final output plan is a checkpoint scan — assert the
    // shape of one propagation round instead)
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .distinct()
    val seed = edges.groupBy(col("a").as("node"))
      .agg(least(col("a"), min(col("b"))).as("label"))
    val (round, _) = graft.ops.Dedup.ccRound(edges, seed, parts = 1)
    val p = round.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"label propagation degraded to all-pairs:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate in label merge:\n$p")
    // and the labels are the transitive-closure minima
    val cc = graft.ops.Dedup.connectedComponents(pairs)
    val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
