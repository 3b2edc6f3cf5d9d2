package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Facts about the host and this JVM that every artifact records. */
object Host {

  def nproc: Int = Runtime.getRuntime.availableProcessors

  def loadavg(): String =
    Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" "))
      .getOrElse("")

  /** (steal ticks, active ticks) from the aggregate cpu line of
    * /proc/stat; active is every field but idle and iowait.
    */
  def stealSnap(): (Long, Long) = Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    val idle = f.lift(3).getOrElse(0L) + f.lift(4).getOrElse(0L)
    (f.lift(7).getOrElse(0L), f.sum - idle)
  }.getOrElse((0L, 0L))

  def stealPct(from: (Long, Long), to: (Long, Long)): Double = {
    val active = to._2 - from._2
    if (active > 0) 100.0 * (to._1 - from._1) / active else 0.0
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def rssPeakMb(): Double = Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")).get finally src.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(Double.NaN)

  /** Total collection time of every garbage collector so far, in ms. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}
