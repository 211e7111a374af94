package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The memory the program itself holds, independent of the heap size the
  * JVM was given: the largest heap occupancy right after a garbage
  * collection, over every collection from `install` on, plus the committed
  * non-heap memory (metaspace, code cache). `peakMb` forces a full
  * collection first, so the final live set always counts.
  */
object Memory {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peakAfterGc = 0L

  private def offer(bytes: Long): Unit = synchronized { peakAfterGc = math.max(peakAfterGc, bytes) }

  def install(): Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          offer(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, usage) if heapPools(pool) => usage.getUsed }.sum)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def peakMb(): Double = {
    System.gc()
    val mx = ManagementFactory.getMemoryMXBean
    offer(mx.getHeapMemoryUsage.getUsed)
    val heap = synchronized(peakAfterGc)
    (heap + mx.getNonHeapMemoryUsage.getCommitted) / (1024.0 * 1024.0)
  }
}
