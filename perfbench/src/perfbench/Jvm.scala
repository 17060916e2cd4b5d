package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Process-wide counters read from the JVM's management beans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU of every thread of the process, in ms. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** Total stop-the-world collection time so far, in ms. */
  def gcPauseMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Total JIT compilation time so far, in ms. */
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Highest heap in use right after a full collection, over the full
    * collections that end while it is armed. Only a full collection
    * leaves just the live heap: after a young one, old-generation garbage
    * still counts, up to the concurrent-marking threshold (45 % of the
    * heap), and the reading follows where the window ends in G1's cycle.
    */
  final class LiveHeapPeak extends NotificationListener {
    @volatile private var armed = false
    @volatile private var peakBytes = 0L
    private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(this, null, null))

    def arm(): Unit = { peakBytes = 0L; armed = true }

    /** Disarms after a counted full collection at the window's end, so a
      * window without any still reads a value. An uncounted one comes
      * first: Spark's cleaner releases the blocks and broadcasts of the
      * window's unreachable DataFrames only after a collection finds
      * them, and without it the reading swung by 120 MB on whether a
      * young collection happened to run after the last op.
      */
    def disarm(): Double = {
      armed = false
      System.gc()
      Thread.sleep(500)
      armed = true
      System.gc()
      Thread.sleep(200) // notifications arrive on a JMX thread
      armed = false
      peakBytes / 1048576.0
    }

    def close(): Unit = emitters.foreach(e =>
      try e.removeNotificationListener(this) catch { case _: Exception => () })

    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peakBytes) peakBytes = used }
        }
      }
  }
}
