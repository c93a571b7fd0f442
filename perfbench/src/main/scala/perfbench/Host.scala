package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Process and host readings, small statistics and the single-thread
  * kernel timer. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by this process so far (all threads). */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Seconds the JIT compilers have spent so far. */
  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** (steal, total) jiffies of the aggregate `cpu` line of /proc/stat. */
  def stealJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").tail.map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** A fixed single-thread kernel that never touches the engine; its time
    * tells a throttled CPU window from a slow job. */
  def canaryS(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var acc = 0.0; var i = 0
    while (i < 2000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += math.sqrt((x & 0xffff).toDouble)
      i += 1
    }
    if (acc == 42.0) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Nanoseconds per call of `f` over inputs 0 until n, single-threaded:
    * one warm-up pass, then the median of five timed passes. */
  def nsPerCall(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    def pass(): Double = {
      val t0 = System.nanoTime(); var i = 0
      while (i < n) { sink ^= f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    pass()
    val r = median(Seq.fill(5)(pass()))
    if (sink == 42L) System.err.print("")
    r
  }

  def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
}
