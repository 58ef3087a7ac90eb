package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters from Spark's public listener API, summed over every job
  * the session runs. Callers take a [[SparkProbe.Counters]] snapshot before
  * and after the work they measure and subtract. */
final class SparkProbe extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val executorRunMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleWriteBytes = new AtomicLong
  private val fetchWaitMs = new AtomicLong
  private val spillBytes = new AtomicLong
  private val scanBytes = new AtomicLong
  private val recordsRead = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      executorRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Snapshot after the listener bus has delivered every queued event. */
  def snapshot(sc: SparkContext): SparkProbe.Counters = {
    SparkProbe.drain(sc)
    SparkProbe.Counters(jobs.get, stages.get, tasks.get, executorRunMs.get,
      gcMs.get, shuffleWriteBytes.get, fetchWaitMs.get, spillBytes.get,
      scanBytes.get, recordsRead.get)
  }
}

object SparkProbe {
  final case class Counters(
      jobs: Long, stages: Long, tasks: Long, executorRunMs: Long, gcMs: Long,
      shuffleWriteBytes: Long, fetchWaitMs: Long, spillBytes: Long,
      scanBytes: Long, recordsRead: Long) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, executorRunMs - o.executorRunMs, gcMs - o.gcMs,
      shuffleWriteBytes - o.shuffleWriteBytes, fetchWaitMs - o.fetchWaitMs,
      spillBytes - o.spillBytes, scanBytes - o.scanBytes,
      recordsRead - o.recordsRead)
    def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, executorRunMs + o.executorRunMs, gcMs + o.gcMs,
      shuffleWriteBytes + o.shuffleWriteBytes, fetchWaitMs + o.fetchWaitMs,
      spillBytes + o.spillBytes, scanBytes + o.scanBytes,
      recordsRead + o.recordsRead)
  }
  val Zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Listener events arrive asynchronously. `SparkContext.listenerBus` is
    * package-private in Scala but public in bytecode, so reflection reaches
    * its `waitUntilEmpty`; if that fails, a short sleep lets the bus catch
    * up. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .map(_.invoke(bus))
        .getOrElse(bus.getClass.getMethods
          .filter(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 1)
          .head.invoke(bus, java.lang.Long.valueOf(5000L)))
      ()
    } catch { case _: Throwable => Thread.sleep(300) }
}
