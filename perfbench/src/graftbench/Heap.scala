package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Heap in use right after each garbage collection, from the collectors'
  * notifications: the collection's end (JVM uptime, ms) and the bytes left
  * in the heap pools. Collections the benchmark forces itself
  * (`System.gc()`) are not recorded. */
final class HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val samples = ArrayBuffer.empty[(Long, Long)]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause != "System.gc()") {
          val gc = info.getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          HeapAfterGc.this.synchronized(samples += ((gc.getEndTime, used)))
        }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** JVM uptime in ms, the clock collections are stamped with. */
  def now(): Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Heap left (MB) after each collection that ended within [from, to]. */
  def afterGcMb(from: Long, to: Long): Seq[Double] = synchronized {
    samples.toSeq.collect { case (t, b) if t >= from && t <= to => b / 1048576.0 }
  }
}
