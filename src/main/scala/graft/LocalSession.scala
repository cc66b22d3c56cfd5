package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder of the repo's own mains (`Crawl`,
  * `BenchExtra`, `ScalingChild`): `local[cpus]` with as many shuffle
  * partitions, AQE on, UTC, no UI, and a codegen cache that holds a
  * crawl. `conf` pairs override or extend these defaults. `Bench` and
  * `Verify` keep their own (frozen) builders of the same shape. */
object LocalSession {
  def apply(cpus: String, appName: String, logLevel: String,
            conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The JVM-wide cache of compiled generated classes (a static conf,
      // default 100 entries) is smaller than one crawl's ~280: ~200
      // distinct bodies, many held twice because the driver's and the
      // local executor's class loaders key them apart. At the default a
      // warm 2-wave crawl recompiles ~400 classes; at 1000 it compiles
      // none.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
