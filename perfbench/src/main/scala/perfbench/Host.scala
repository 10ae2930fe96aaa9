package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Process-wide readings and the host calibration that sits beside the
  * metrics: a fixed xorshift loop timed on 1 and on n threads, so a run in
  * a contended window can be told apart from a slower program. */
object Host {

  /** Seconds for `threads` threads to each run a fixed integer loop. */
  def calibrate(threads: Int, iters: Long = 50000000L): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + t
        var i = 0L
        while (i < iters) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        sink.addAndGet(x)
      })
      th.start(); th
    }
    ts.foreach(_.join())
    require(sink.get() != 42) // keeps the loops alive
    (System.nanoTime() - t0) / 1e9
  }

  /** kB value of one `/proc/self/status` field, or -1 where unavailable. */
  private def statusKb(field: String): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** High-water resident set size (VmHWM), MB. */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  /** Total collector time so far, ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Peak heap use across all heap pools since start, MB. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** (steal, total) jiffies of all CPUs from `/proc/stat`; steal is the
    * time the hypervisor ran someone else on this machine's CPUs. */
  def cpuJiffies: (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Wall-clock ms at which this JVM started. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
