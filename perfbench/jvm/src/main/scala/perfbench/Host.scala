package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process and host readings that take no thread of their own: process
  * CPU time, /proc/stat steal and iowait shares, the collector in use and
  * the old generation's occupancy right after a full collection.
  */
object Host {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def gcNames: Seq[String] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq

  /** Aggregate cpu jiffies (user nice system idle iowait irq softirq steal). */
  def procStat(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Exception => None }

  /** (steal, iowait) as shares of all jiffies between two readings. */
  def noise(before: Option[Array[Long]], after: Option[Array[Long]]): (Double, Double) =
    (before, after) match {
      case (Some(b), Some(a)) if a.length >= 8 && b.length >= 8 =>
        val d = a.zip(b).map { case (x, y) => x - y }
        val total = d.sum.toDouble max 1.0
        (d(7) / total, d(4) / total)
      case _ => (0.0, 0.0)
    }

  private def oldPool(name: String): Boolean = {
    val n = name.toLowerCase
    n.contains("old") || n.contains("tenured")
  }

  @volatile private var peakOldAfterGc: Long = 0L

  /** Highest old-generation occupancy right after the full collection
    * that ends each operation, since the last reset. Full collections
    * the JVM starts by itself mid-operation are left out: whether one
    * falls inside an operation is timing luck.
    */
  def peakLiveHeapMb: Double = peakOldAfterGc / 1048576.0
  def resetPeak(): Unit = peakOldAfterGc = 0L

  /** Collect, give Spark's context cleaner a moment to drop what the
    * collection orphaned (cached and checkpointed blocks), collect again,
    * and fold the old generation's occupancy in. Returns it in MB.
    */
  def collectAndSample(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => oldPool(p.getName))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    if (used > peakOldAfterGc) peakOldAfterGc = used
    used / 1048576.0
  }
}
