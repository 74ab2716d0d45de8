package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Host readings that explain drift: CPU steal from /proc/stat, a fixed
  * calibration loop, this process's CPU time and peak resident memory. */
object Host {
  /** (steal, total) jiffies of the aggregate cpu line; zeros where
    * /proc/stat is unreadable. */
  def cpuJiffies(): (Long, Long) = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) (0L, 0L)
    else {
      val f = Files.readAllLines(p).asScala.head.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]:
      // guest time is already counted in user/nice
      val total = f.take(8).sum
      (if (f.length > 7) f(7) else 0L, total)
    }
  }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double = {
    val dt = b._2 - a._2
    if (dt <= 0) 0.0 else (b._1 - a._1).toDouble / dt
  }

  /** ns per iteration of a fixed SplitMix64 loop, median of 5 rounds. */
  def calibNs(): Double = {
    val n = 1 << 23
    var sink = 0L
    val rounds = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var h = 0L
      var i = 0
      while (i < n) { h = graft.core.TextCore.mix64(h + i); i += 1 }
      sink ^= h
      (System.nanoTime() - t0).toDouble / n
    }
    if (sink == 42L) System.err.print("")
    Stats.median(rounds)
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** VmHWM of this process in MB (0 where /proc is unavailable). */
  def vmHwmMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.isReadable(p)) 0.0
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Heap still in use after full collections: what the program retains
    * once its jobs are done (caches, broadcasts, leaked persists). The
    * pause lets Spark's ContextCleaner drop what the first collection
    * found unreachable before the second one measures. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
