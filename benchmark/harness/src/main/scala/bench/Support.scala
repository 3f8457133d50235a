package bench

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: the
    * (n-10)th smallest of n samples, with its percentile. With ten
    * samples or fewer no such percentile exists and the largest sample
    * stands in, as the 100th percentile.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val k = if (s.length > 10) s.length - 10 else s.length
    (s(k - 1), 100.0 * k / s.length)
  }
}

/** Host and JVM readings taken only outside timed windows: CPU steal from
  * /proc/stat (the same reading as `graft.Bench`), GC counters and heap
  * peaks from the JVM's management beans, peak RSS from /proc/self/status.
  */
object Host {
  final case class Snapshot(cpu: Array[Long], gcCount: Long, gcMs: Long)

  private def cpuTicks(): Array[Long] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty[Long])
    finally src.close()
  } catch { case _: java.io.IOException => Array.empty[Long] }

  private def gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  def snapshot(): Snapshot =
    Snapshot(cpuTicks(), gcBeans.map(_.getCollectionCount.max(0L)).sum,
      gcBeans.map(_.getCollectionTime.max(0L)).sum)

  /** Steal ticks as a percentage of all ticks between two snapshots. */
  def stealPct(a: Snapshot, b: Snapshot): Double =
    if (a.cpu.length < 8 || b.cpu.length < 8) 0.0
    else {
      val d = b.cpu.zip(a.cpu).map { case (x, y) => (x - y).max(0L) }
      if (d.sum == 0) 0.0 else 100.0 * d(7) / d.sum
    }

  def gcCount(a: Snapshot, b: Snapshot): Long = b.gcCount - a.gcCount
  def gcSeconds(a: Snapshot, b: Snapshot): Double = (b.gcMs - a.gcMs) / 1e3

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  } catch { case _: java.io.IOException => 0.0 }
}
