package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Process and host readings: the same noise markers `graft.Bench` records
  * (steal share, 1-minute load, GC time) plus peak RSS and live heap. */
object Host {
  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat;
    * (-1, -1) when it cannot be read. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (-1L, -1L) }

  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (from._1 < 0 || to._1 < 0 || to._2 <= from._2) -1.0
    else (to._1 - from._1).toDouble / (to._2 - from._2)

  def loadAvg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** VmHWM, the resident-set high-water mark, in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  /** Heap in use right after the most recent collection, summed over the
    * heap pools, in MB. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
