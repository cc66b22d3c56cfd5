package graft

import graft.crawl.Maintenance
import graft.sources.SourceCsv
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** M1/M2 maintenance reports, the M3 rewrite, T3 processing cycles
  * and S12 CSV seed ingestion. */
class MaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def frontier = Seq(
    // norm_url, source_id, status, discovered_wave
    ("u1", "s1", "article", 0),
    ("u2", "s1", "article", 9),
    ("u3", "s2", "discovered", 0),
    ("u4", "s2", "extracted", 1),
    ("u5", "s2", "404", 0)
  ).toDF("norm_url", "source_id", "status", "discovered_wave")

  test("A11 staleBreakdown counts per source") {
    val rows = Maintenance.staleBreakdown(frontier, 10, 5).collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "s1" && rows(0).getLong(1) == 1L)
  }

  test("M2 stuckStates reports non-terminal laggards") {
    val rows = Maintenance.stuckStates(frontier, 10, 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("article" -> 1L, "discovered" -> 1L))
  }

  test("M3 repairNullPayloads resets empty-payload fetches") {
    val results = Seq(
      ("u4", "extracted", Array.empty[Byte]),
      ("u1", "extracted", Array[Byte](1, 2, 3))
    ).toDF("norm_url", "status", "bytes")
    val out = Maintenance.repairNullPayloads(frontier, results)
      .select("norm_url", "status").as[(String, String)].collect().toMap
    assert(out("u4") == "article") // empty payload → re-fetch
    assert(out("u1") == "article") // was article anyway
  }

  test("S12 CSV seed load normalizes hosts and drops unparseable rows") {
    val csv = Files.createTempDirectory("seeds").resolve("pubs.csv")
    Files.writeString(csv,
      """host,name,frequency,bot_sensitivity
        |www.Example.com,Example Paper,weekly,7
        |news.site.org:8080,Site News,daily,
        |,,daily,3
        |""".stripMargin)
    val srcs = SourceCsv.load(spark, csv.toString).collect()
    assert(srcs.length == 2)
    val byHost = srcs.map(s => s.host_norm -> s).toMap
    assert(byHost.contains("example.com"))
    assert(byHost("example.com").bot_sensitivity == 7)
    assert(byHost("news.site.org").bot_sensitivity == 5) // default
    assert(byHost("news.site.org").frequency == "daily")
    assert(srcs.forall(_.source_id.startsWith("src-")))
  }

  test("T3: processing cycles advance extracted → cleaned → labeled, one stage per cycle") {
    import graft.crawl.Processing
    // 7 fetched rows in crawl order; B=2, C=3 → ranks 0-3 labeled,
    // 4-5 cleaned, 6 still extracted (closed form (C-1)B / CB)
    val results = (0 until 7).map(i => (s"u$i", 0, "h", i + 1, 200))
      .toDF("norm_url", "wave", "host", "rank", "http_status")
    val out = Processing.runCycles(results, batchSize = 2, cycles = 3)
      .select("norm_url", "article_status").as[(String, String)].collect().toMap
    (0 until 4).foreach(i => assert(out(s"u$i") == "labeled", s"u$i: $out"))
    (4 until 6).foreach(i => assert(out(s"u$i") == "cleaned", s"u$i: $out"))
    assert(out("u6") == "extracted")
    // one stage per cycle: a single cycle can never produce `labeled`
    val one = Processing.runCycles(results, batchSize = 7, cycles = 1)
      .select("article_status").as[String].collect()
    assert(one.toSet == Set("cleaned"))
    // non-200 rows never enter the chain
    val mixed = results.unionByName(Seq(("u7", 0, "h", 8, 404))
      .toDF("norm_url", "wave", "host", "rank", "http_status"))
    assert(!Processing.runCycles(mixed, 2, 3).select("norm_url")
      .as[String].collect().contains("u7"))
  }
}
