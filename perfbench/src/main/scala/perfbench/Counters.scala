package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Engine counters of one repetition, read from a SparkListener the
  * benchmark registers and from the JVM's MXBeans. */
final case class RepCounters(
    wallS: Double, jobs: Int, tasks: Int, taskS: Double, taskCpuS: Double,
    maxTaskS: Double, driverGapS: Double, coreBusyFrac: Double,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    bytesRead: Long, bytesWritten: Long, gcS: Double)

/** Accumulates job and task events between `reset` and `snapshot`. */
final class EngineListener extends SparkListener {
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private var tasks = 0
  private var taskMs = 0L
  private var cpuNs = 0L
  private var maxTaskMs = 0L
  private var shW, shR, spill, rd, wr = 0L

  def reset(): Unit = synchronized {
    jobStart.clear(); jobSpans.clear()
    tasks = 0; taskMs = 0; cpuNs = 0; maxTaskMs = 0
    shW = 0; shR = 0; spill = 0; rd = 0; wr = 0
  }

  def jobsSoFar: Int = synchronized(jobSpans.size)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      maxTaskMs = math.max(maxTaskMs, m.executorRunTime)
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      rd += m.inputMetrics.bytesRead
      wr += m.outputMetrics.bytesWritten
    }
  }

  /** Counters since `reset`, for a window of `wallS` seconds on `cores`. */
  def snapshot(wallS: Double, cores: Int, gcS: Double): RepCounters = synchronized {
    val busy = Stats.unionLength(jobSpans.toSeq) / 1e3
    RepCounters(wallS, jobSpans.size, tasks, taskMs / 1e3, cpuNs / 1e9, maxTaskMs / 1e3,
      math.max(0.0, wallS - busy), taskMs / 1e3 / (wallS * cores),
      shW, shR, spill, rd, wr, gcS)
  }
}

/** JVM-side readings: cumulative GC time and the largest heap occupancy
  * seen right after a collection. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  @volatile private var peakAfterGc = 0L

  def resetHeapPeak(): Unit = peakAfterGc = 0L
  def heapPeakAfterGcMb: Double = peakAfterGc / (1024.0 * 1024.0)

  private val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  /** Listens for GC-end notifications and records heap used after each. */
  def install(): Unit = {
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == "com.sun.management.gc.notification") {
          val info = n.getUserData.asInstanceOf[CompositeData]
          val after = info.get("gcInfo").asInstanceOf[CompositeData]
            .get("memoryUsageAfterGc").asInstanceOf[javax.management.openmbean.TabularData]
          var used = 0L
          after.values().asScala.foreach { row =>
            val r = row.asInstanceOf[CompositeData]
            if (heapPools.contains(r.get("key").asInstanceOf[String])) {
              val mu = java.lang.management.MemoryUsage.from(
                r.get("value").asInstanceOf[CompositeData])
              used += mu.getUsed
            }
          }
          if (used > peakAfterGc) peakAfterGc = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** Attaches an [[EngineListener]] around one repetition when enabled. */
final class Probe(sc: () => SparkContext, cores: Int) {
  val listener = new EngineListener

  def measure[T](enabled: Boolean)(body: => T): (T, Option[RepCounters]) =
    if (!enabled) (body, None)
    else {
      val ctx = sc()
      org.apache.spark.PerfbenchBus.drain(ctx)
      listener.reset()
      ctx.addSparkListener(listener)
      val gc0 = Jvm.gcSeconds
      val t0 = System.nanoTime()
      try {
        val r = body
        val wall = (System.nanoTime() - t0) / 1e9
        val gc = Jvm.gcSeconds - gc0
        org.apache.spark.PerfbenchBus.drain(ctx)
        (r, Some(listener.snapshot(wall, cores, gc)))
      } finally ctx.removeSparkListener(listener)
    }
}
