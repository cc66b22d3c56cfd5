package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Passive Spark listener the benchmark registers on its own session (the
  * engine is not told). It records every job and finished task with wall
  * times, so the benchmark can fold them into wave windows derived from
  * the store's commit files. */
final class SparkProbe extends SparkListener {
  import SparkProbe._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L))
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null && m != null) {
      val sr = m.shuffleReadMetrics
      tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.jvmGCTime, sr.remoteBytesRead + sr.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    lastEventNs = System.nanoTime()
  }

  /** The listener bus is asynchronous: wait until it has been quiet for
    * a moment, so a fold sees every event of the work just finished. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  /** Fold the jobs and tasks that started inside [startMs, endMs). */
  def fold(wave: Int, startMs: Double, endMs: Double): WaveFold = {
    val js = jobs.values().asScala.filter(j => j.startMs >= startMs && j.startMs < endMs).toSeq
    val ts = tasks.asScala.filter(t => t.launchMs >= startMs && t.launchMs < endMs).toSeq
    val byStage = ts.groupBy(_.stage)
    val skew = byStage.values.filter(_.size >= 2).map { st =>
      val d = st.map(t => (t.finishMs - t.launchMs).toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }.foldLeft(1.0)(math.max)
    WaveFold(wave, startMs, endMs, js.size, byStage.size, ts.size,
      ts.map(_.runMs).sum / 1e3, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleRead).sum / 1048576.0, ts.map(_.shuffleWrite).sum / 1048576.0,
      ts.map(_.spill).sum / 1048576.0, skew,
      idleSeconds(ts.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)), startMs, endMs),
      js.map(j => (j.id, j.startMs.toDouble, if (j.endMs < 0) endMs else j.endMs.toDouble)))
  }
}

object SparkProbe {
  final case class JobRec(id: Int, startMs: Long, endMs: Long)
  final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
                           gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** Spark work inside one wave window. `gapS` is the window's time with
    * no task running: the driver-serial term. */
  final case class WaveFold(wave: Int, startMs: Double, endMs: Double,
                            jobs: Int, stages: Int, tasks: Int,
                            taskCoreS: Double, gcS: Double,
                            shuffleReadMb: Double, shuffleWriteMb: Double,
                            spillMb: Double, skew: Double, gapS: Double,
                            jobSpans: Seq[(Int, Double, Double)]) {
    def wallS: Double = (endMs - startMs) / 1e3
  }

  /** Seconds of [from, to) not covered by any interval. */
  def idleSeconds(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var covered = 0.0
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    ((to - from) - covered) / 1e3
  }
}

/** In-memory spans around the benchmark's calls into each layer, written
  * out once at the end of a run. A span's self time is its duration minus
  * the part of it its children cover. */
final class Tracer {
  import Tracer.Span

  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def nowMs: Double = System.currentTimeMillis().toDouble

  /** Record a finished span; returns its id. */
  def add(name: String, parent: Int, startMs: Double, endMs: Double): Int = synchronized {
    val id = spans.size
    spans += Span(id, parent, name, startMs, endMs)
    id
  }

  /** Time `f` as a child of the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val id = add(name, current, nowMs, Double.NaN)
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      synchronized { spans(id) = spans(id).copy(endMs = nowMs) }
    }
  }

  def current: Int = stack.headOption.getOrElse(-1)

  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
    SparkProbe.idleSeconds(kids, s.startMs, s.endMs)
  }

  def toJson: String = synchronized {
    spans.map { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"id":${s.id},"parent":${s.parent},"name":"$name","start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"self_s":${selfSeconds(s)}}"""
    }.mkString("[", ",\n", "]")
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)
}
