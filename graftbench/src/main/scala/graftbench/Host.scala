package graftbench

import scala.jdk.CollectionConverters._

/** Process-wide CPU, GC and heap readings. */
object Jvm {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Cumulative (GC seconds, collections) over all collectors. */
  def gc(): (Double, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum / 1000.0, beans.map(_.getCollectionCount).sum)
  }

  private val heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val liveHigh = new java.util.concurrent.atomic.AtomicLong(0)

  // Heap in use right after each collection is the live set; its high-water
  // mark is the peak a smaller heap would have to hold.
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          liveHigh.accumulateAndGet(live, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ =>
  }

  def resetPeakHeap(): Unit = liveHigh.set(0)

  /** Highest live heap after any collection since [[resetPeakHeap]]. */
  def peakHeapMb(): Double = liveHigh.get / 1048576.0
}

/** Local-filesystem helpers for work directories. */
object Files {
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(c => bytes(c.getPath)).sum else f.length()
  }
  def count(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(c => count(c.getPath)).sum else 1L
  }
  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => delete(c.getPath))
    f.delete()
  }
}
