package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryUsage}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Peak old-generation occupancy after a collection, over a measurement
  * window. Every collection the JVM makes by itself inside the window
  * reports the old generation's usage after it (JMX GC notifications); the
  * largest is kept. The window starts from what the last collection
  * before it left. Collections forced by [[HeapWatch.liveOldGenMb]] are
  * not counted. */
final class HeapWatch extends NotificationListener {
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  private var peak = 0L
  private var collections = 0

  def start(): Unit = {
    val last = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => HeapWatch.isOld(p.getName)).flatMap(p => Option(p.getCollectionUsage))
    synchronized { peak = last.map(_.getUsed).sum }
    emitters.foreach(_.addNotificationListener(this, null, null))
  }

  /** Collections seen so far. */
  def count: Int = synchronized(collections)

  /** Stop watching; the peak in MB. */
  def stopMb(): Double = {
    emitters.foreach(_.removeNotificationListener(this))
    val bytes = synchronized(peak)
    bytes / (1024.0 * 1024.0)
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcCause != "System.gc()") record(info.getGcInfo.getMemoryUsageAfterGc.asScala)
    }

  private def record(after: collection.Map[String, MemoryUsage]): Unit = {
    val old = after.collect { case (pool, u) if HeapWatch.isOld(pool) => u.getUsed }.sum
    synchronized { peak = math.max(peak, old); collections += 1 }
  }
}

object HeapWatch {
  def isOld(pool: String): Boolean = pool.contains("Old Gen") || pool.contains("Tenured")

  /** Old-generation occupancy after a forced full collection: what the
    * engine still holds once an operation has finished. */
  def liveOldGenMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}
