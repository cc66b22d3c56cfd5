package graft

/** Round-6 optimization measurement harness (guide §1). NOT part of the
  * frozen driver contract (Bench.scala is the artifact of record — this
  * main never replaces it): it exists to (a) dump `.explain("formatted")`
  * for every declared query into plans/r06/, and (b) time queries in
  * isolation with the noop sink (computation only, no sink cost),
  * several reps each, so before/after numbers in OPTIMIZATION_r06.md
  * have a contamination-robust local source. Same session config as
  * Bench (master local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus,
  * AQE on, UTC).
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra plans <outDir> [query...]"
  *   sbt "runMain graft.BenchExtra time  <reps>   [query...]"
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("time")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus, "graft-bench-extra", "ERROR")

    val all = SparkEntry.queries
    def selected(rest: Seq[String]): Seq[String] =
      if (rest.isEmpty) all.keys.toSeq.sorted
      else rest.filter(all.contains)

    mode match {
      case "plans" =>
        val outDir = args(1)
        new java.io.File(outDir).mkdirs()
        selected(args.drop(2).toSeq).foreach { name =>
          try {
            val df = all(name)(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
            println(s"[plans] wrote $name")
          } catch { case e: Throwable =>
            System.err.println(s"[plans] $name failed: ${e.getMessage}")
          }
        }
      case "time" =>
        val reps = scala.util.Try(args(1).toInt).getOrElse(3)
        val names = selected(args.drop(2).toSeq)
        // prime the crawl store once (untimed) so q_crawl_* rows time the
        // QUERY, matching Bench's shape where the crawl ran beforehand
        scala.util.Try(all("q_crawl_results")(spark, sfDir).count())
        scala.util.Try(
          graft.queries.CrawlQueries.ensureScopedStore(spark, sfDir))
        val out = names.map { name =>
          val times = (0 until reps).map { _ =>
            // no rep may read a cache or persist an earlier rep (or query)
            // left behind: free both, as perfbench does between passes
            spark.catalog.clearCache()
            spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
            // a failing rep ends the run with its error: it has no timing
            val t0 = System.nanoTime()
            spark.sparkContext.setJobDescription(s"bench-extra: $name")
            all(name)(spark, sfDir).write.format("noop")
              .mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          name -> times
        }
        val js = out.map { case (k, ts) =>
          "\"" + k + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
        }.mkString("{", ",", "}")
        println(s"""{"metric":"noop_isolated","reps":$reps,"queries":$js,"sf":"$sfDir","cpus":"$cpus"}""")
      case other =>
        System.err.println(s"unknown mode: $other")
    }
    spark.stop()
  }
}
