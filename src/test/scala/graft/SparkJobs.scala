package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs a body starts, for the job-budget tests. */
object SparkJobs {

  /** Start times (epoch ms) of the Spark jobs `body` runs. The listener
    * bus is asynchronous but ordered: once a marker job submitted after
    * `body` is seen, every earlier job has been seen too. */
  def startsOf(spark: SparkSession)(body: => Unit): Seq[Long] = {
    val marker = "job-budget-marker"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add((e.time, Option(e.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      while (!starts.asScala.exists(_._2 == marker)) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    starts.asScala.toSeq.collect { case (t, d) if d != marker => t }
  }

  /** The number of Spark jobs `body` runs. */
  def of(spark: SparkSession)(body: => Unit): Int = startsOf(spark)(body).size
}
