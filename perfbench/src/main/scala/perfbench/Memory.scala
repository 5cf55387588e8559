package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The memory the program holds over a run: the peak of the live heap,
  * read after every collection, plus the peak of resident memory outside
  * the heap (RocksDB, buffers, metaspace, code, thread stacks), sampled.
  * The JVM runs with the heap pre-touched as it is committed, so all that
  * is resident beyond the committed heap lies outside it. Free heap the
  * collector keeps committed is in neither part: the sum moves with what
  * the program holds, not with how far the collector chose to grow the
  * heap, which differs from run to run. */
final class Memory {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val heap = ManagementFactory.getMemoryMXBean
  private val live, outside, committed = new AtomicLong(0L)

  private def peak(a: AtomicLong, v: Long): Unit = { a.accumulateAndGet(v, math.max); () }

  private def rssBytes(): Long =
    Files.readString(Paths.get("/proc/self/statm")).split(" ")(1).toLong * 4096L

  /** One sample. Resident memory is read before and after the committed
    * heap and the lower read is used, so a heap that grows or shrinks
    * between the reads does not show as memory outside it. */
  def sample(): Unit = {
    val r0 = rssBytes()
    val c = heap.getHeapMemoryUsage.getCommitted
    val r1 = rssBytes()
    peak(outside, math.min(r0, r1) - c)
    peak(committed, c)
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case gc: NotificationEmitter => gc.addNotificationListener(new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          peak(live, info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed }.sum)
        }
    }, null, null)
    case _ => ()
  }

  private val sampler = new Thread(() => {
    while (true) { sample(); Thread.sleep(20) }
  }, "perfbench-memory")
  sampler.setDaemon(true)
  sampler.start()

  /** VmHWM: the process's peak resident set, heap included. */
  private def rssHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def metrics: Map[String, Double] = {
    sample()
    val mb = 1024.0 * 1024.0
    Map(
      "mem_peak_mb" -> (live.get + outside.get) / mb,
      "mem.heap_live_peak_mb" -> live.get / mb,
      "mem.outside_heap_peak_mb" -> outside.get / mb,
      "mem.heap_committed_peak_mb" -> committed.get / mb,
      "mem.rss_hwm_mb" -> rssHwmMb())
  }
}
