package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Memory readings of this JVM. The live heap is read right after a full
  * collection, so it follows what the program keeps alive, not how far the
  * collector chose to grow the heap or when it last ran. */
object Memory {
  @volatile private var liveHeapPeak = 0L

  private def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  /** Collects fully and records the heap still in use. Called at the end
    * of each measured operation, outside its timing. */
  def sampleLive(): Unit = {
    System.gc()
    liveHeapPeak = math.max(liveHeapPeak,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Largest heap in use after an operation, in MB. */
  def liveHeapPeakMb: Double = mb(liveHeapPeak)

  /** Peak use of the non-heap pools (metaspace, code cache), in MB. */
  def nonHeapPeakMb: Double = mb(ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.isReadable(status)) {
      val kb = Files.readAllLines(status).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
      kb.map(_ / 1024.0).getOrElse(Double.NaN)
    } else Double.NaN
  }
}
