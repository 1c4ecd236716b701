package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.sun.management.GarbageCollectionNotificationInfo

/** Host shape and JVM counters, read from outside the program. */
object Host {

  def cores: Int = Runtime.getRuntime.availableProcessors()
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  private def readLines(path: String): List[String] =
    Try {
      val s = scala.io.Source.fromFile(path)
      try s.getLines().toList finally s.close()
    }.getOrElse(Nil)

  /** Cumulative seconds during which some runnable task waited for a CPU
    * (the `some` line of the kernel's CPU pressure file), or -1. */
  def psiCpuStallSec: Double =
    readLines("/proc/pressure/cpu").find(_.startsWith("some")).flatMap { l =>
      l.split("\\s+").collectFirst { case t if t.startsWith("total=") =>
        t.stripPrefix("total=").toDouble / 1e6 }
    }.getOrElse(-1.0)

  /** Cumulative seconds this process's cgroup was throttled by its CPU
    * quota (cgroup v1 `throttled_time` ns or v2 `throttled_usec`), or -1. */
  def cgroupThrottledSec: Double = {
    val self = readLines("/proc/self/cgroup").map(_.split(":", 3))
    def stat(path: String, key: String, scale: Double): Option[Double] =
      readLines(path).map(_.split("\\s+")).collectFirst {
        case Array(k, v) if k == key => v.toDouble * scale
      }
    val v1 = self.collectFirst { case Array(_, ctl, p) if ctl.split(",").contains("cpu") => p }
      .flatMap(p => stat(s"/sys/fs/cgroup/cpu$p/cpu.stat", "throttled_time", 1e-9))
    lazy val v2 = self.collectFirst { case Array("0", "", p) => p }
      .flatMap(p => stat(s"/sys/fs/cgroup$p/cpu.stat", "throttled_usec", 1e-6))
    v1.orElse(v2).getOrElse(-1.0)
  }

  /** Share of a timed region's wall during which the CPU was contended:
    * PSI cpu stall and cgroup throttle, each as seconds per wall second. */
  final class Contention {
    private val psi0 = psiCpuStallSec
    private val thr0 = cgroupThrottledSec
    private val t0 = System.nanoTime()
    def shares: (Double, Double) = {
      val wall = (System.nanoTime() - t0) / 1e9
      def share(before: Double, now: Double) =
        if (before < 0 || now < 0 || wall <= 0) -1.0 else math.max(0.0, now - before) / wall
      (share(psi0, psiCpuStallSec), share(thr0, cgroupThrottledSec))
    }
  }

  /** Heap occupancy right after the benchmark's own full collections, in
    * MB (GC notifications report each pool's usage after the collection).
    * Only collections caused by `System.gc()` count. A young collection
    * leaves old-generation garbage behind, and a full one the JVM starts
    * by itself lands mid-operation and holds that operation's transient
    * data, so their readings wander with GC timing rather than with what
    * the program keeps live. */
  object HeapAfterGc {
    @volatile private var explicit = 0L
    @volatile private var last = 0L

    private val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcCause == "System.gc()") {
            last = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPools.contains(pool) => u.getUsed
            }.sum
            explicit += 1
          }
        }
    }
    private lazy val heapPools: Set[String] =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = {
      heapPools
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ => ()
      }
    }

    /** A full collection and the heap it left, in MB, once its
      * notification has arrived (they are delivered on another thread);
      * None if it did not arrive within ten seconds. */
    def fullGc(): Option[Double] = {
      val before = explicit
      System.gc()
      val until = System.nanoTime() + 10000000000L
      while (explicit == before && System.nanoTime() < until) Thread.sleep(5)
      if (explicit == before) None else Some(last / 1048576.0)
    }
  }
}
