package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

/** Process-level probes of the `jvm` layer: CPU time, GC time, heap used
  * after each collection (from GC notifications, since the JVM pre-touches
  * its whole heap and resident memory cannot show it) and per-thread
  * allocated bytes. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector

  def cpuNs(): Long = os.getProcessCpuTime

  def gcMs(): Long = gcs.map(_.getCollectionTime).filter(_ > 0).sum

  def allocatedBytes(): Long = threads.getCurrentThreadAllocatedBytes

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def heapMaxBytes(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val lastAfterGc = new AtomicLong(0L)
  private val peakAfterGc = new AtomicLong(0L)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        lastAfterGc.set(used)
        peakAfterGc.accumulateAndGet(used, math.max)
      }
  }
  gcs.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def resetHeapPeak(): Unit = peakAfterGc.set(lastAfterGc.get)

  /** Peak heap used after a collection since the last reset, or the last
    * after-collection value when none ran since. */
  def heapPeakBytes(): Long = peakAfterGc.get
}
