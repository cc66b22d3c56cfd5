package graft.perfbench

import java.lang.management.ManagementFactory
import java.security.MessageDigest
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

/** A fixed piece of reference work on JDK code only, run on every core at
  * once: sorting, SHA-256 and hash probing in cache, random reads over a
  * 64 MB array that no cache holds, and short-lived boxed objects in a
  * hash map. Its CPU time per thread tracks how fast the host runs this
  * VM's work right now: other tenants slow the cores, and they also slow
  * memory, which the program waits on more than the in-cache part. */
final class Calibration(threads: Int) {
  private val N = 1 << 15
  private val longs = { val r = new java.util.Random(1); Array.fill(N)(r.nextLong()) }
  private val bytes = { val b = new Array[Byte](1 << 18); new java.util.Random(2).nextBytes(b); b }
  private val Big = 1 << 23
  private val big = { val r = new java.util.Random(3); Array.fill(Big)(r.nextLong()) }
  private final class Scratch {
    val a = new Array[Long](N)
    val table = new Array[Long](2 * N)
    val md: MessageDigest = MessageDigest.getInstance("SHA-256")
  }
  private val scratch = ThreadLocal.withInitial(() => new Scratch)
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-calibration"); t.setDaemon(true); t
  })
  private val tmx = ManagementFactory.getThreadMXBean

  private def work(): Long = {
    val s = scratch.get
    var acc = 0L
    var rep = 0
    var i = 0
    while (rep < 4) {
      System.arraycopy(longs, 0, s.a, 0, N)
      java.util.Arrays.sort(s.a)
      java.util.Arrays.fill(s.table, 0L)
      i = 0
      while (i < N) {
        val k = s.a(i) | 1L
        var h = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & (2 * N - 1))
        while (s.table(h) != 0L && s.table(h) != k) h = (h + 1) & (2 * N - 1)
        s.table(h) = k
        i += 1
      }
      s.md.update(bytes)
      acc ^= s.md.digest()(0) ^ s.a(rep)
      rep += 1
    }
    var x = acc | 1L
    i = 0
    while (i < 200000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      acc += big(((x >>> 33) & (Big - 1)).toInt)
      i += 1
    }
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    i = 0
    while (i < 30000) { m.put(s.a(i) >>> 9, java.lang.Long.valueOf(i.toLong)); i += 1 }
    acc + m.size
  }

  /** CPU seconds per thread of `n` rounds, one each: in a round every
    * thread does the work once. */
  def round(n: Int): Seq[Double] = (0 until n).map(_ => round())

  private def round(): Double = {
    val tasks = (0 until threads).map(_ => new Callable[Double] {
      def call(): Double = {
        val c0 = tmx.getCurrentThreadCpuTime
        work()
        (tmx.getCurrentThreadCpuTime - c0) / 1e9
      }
    })
    pool.invokeAll(tasks.asJava).asScala.map(_.get).sum / threads
  }
}

object Calibration {
  /** CPU seconds per thread of one round on the reference host (4 vCPUs,
    * shared) when it runs at full speed. Scaling by it keeps the
    * calibrated metrics in seconds. */
  val RefRoundS = 0.0225
}
