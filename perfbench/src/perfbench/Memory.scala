package perfbench

import com.sun.management.{GarbageCollectionNotificationInfo => GcNote}

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Memory the program keeps, sampled after every garbage collection: the
  * heap still in use once the collector is done, plus the JVM's non-heap
  * and direct-buffer memory at that moment. Unlike the process's resident
  * high-water mark, which a fixed heap pins near its ceiling, this follows
  * what the pipeline retains and promotes.
  */
object Memory {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
  private val samples = new ConcurrentLinkedQueue[Long]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GcNote.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GcNote.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val heap = info.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        val native = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed +
          buffers.map(_.getMemoryUsed).sum
        samples.add(heap + native)
      }
  }

  def watch(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

  /** Collect the heap, then forget every sample so far: what follows is
    * measured from a clean heap. */
  def reset(): Unit = {
    System.gc()
    Thread.sleep(50) // the collection's notification arrives asynchronously
    samples.clear()
  }

  /** The samples (MB) since the last `reset`. */
  def samplesMb: Seq[Double] = samples.asScala.toSeq.map(_ / (1024.0 * 1024.0))
}
