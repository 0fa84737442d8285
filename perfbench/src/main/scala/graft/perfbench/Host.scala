package graft.perfbench

import scala.jdk.CollectionConverters._

import graft.Bench

/** Host-noise stamps around the timed region: external CPU (host busy
  * jiffies minus this JVM's, over all jiffies) and iowait+steal share,
  * with `graft.Bench`'s /proc/stat parsing. Recorded, never used to drop
  * a run. */
final class Host {
  private var t0 = (0L, 0L, 0L)
  private var self0 = 0L
  var extCpuFrac: Double = -1
  var stallFrac: Double = -1

  private def jiffies() = Bench.parseCpuLine(Host.firstLine("/proc/stat"))

  def start(): Unit = { t0 = jiffies(); self0 = Host.selfJiffies() }

  def stop(): Unit = {
    val t1 = jiffies()
    val self1 = Host.selfJiffies()
    stallFrac = Bench.stallFrac(t0._2, t1._2, t0._3, t1._3)
    if (t0._1 >= 0 && t1._1 >= 0 && self0 >= 0 && t1._3 > t0._3)
      extCpuFrac = math.max(0.0,
        ((t1._1 - t0._1) - (self1 - self0)).toDouble / (t1._3 - t0._3))
  }
}

object Host {
  private def firstLine(path: String): String =
    try {
      val f = scala.io.Source.fromFile(path)
      try f.getLines().next() finally f.close()
    } catch { case _: Exception => "" }

  /** utime + stime of this process (fields 14 and 15 of /proc/self/stat,
    * counted after the parenthesised command name). */
  def selfJiffies(): Long =
    try {
      val s = firstLine("/proc/self/stat")
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong
    } catch { case _: Exception => -1L }

  def loadavg1m(): Double =
    try firstLine("/proc/loadavg").split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally f.close()
  }

  def gcMillis(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
}
