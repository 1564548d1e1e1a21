package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

/** Process-level readings: CPU, GC, live heap, host steal, and the
  * machine fingerprint every run record carries, so a run that misses
  * its steadiness bound can be attributed to steal or to code from its
  * own record.
  */
object Probe {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, all threads (GC and JIT too). */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used so far, from each
    * thread's `/proc/self/task/<tid>/schedstat` (nanoseconds on a CPU).
    * The JVM runs with a fixed set of compiler threads, so none of them
    * exits and takes its time along. 0 where `/proc` is absent.
    */
  def jitCpuSeconds(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val name = java.nio.file.Files.readString(new java.io.File(t, "comm").toPath)
        if (!name.startsWith("C1 CompilerThre") && !name.startsWith("C2 CompilerThre")) 0L
        else java.nio.file.Files.readString(new java.io.File(t, "schedstat").toPath).trim
          .split(" ")(0).toLong
      } catch { case _: Throwable => 0L }
    }.sum / 1e9
  }

  /** Cumulative collector wall seconds over every collector. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Host steal seconds so far, summed over CPUs (`/proc/stat`, field 8
    * of the `cpu` line, in USER_HZ = 100 ticks per second). -1 where
    * the file is absent.
    */
  def stealSeconds(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      l.trim.split("\\s+")(8).toDouble / 100.0
    }.getOrElse(-1.0)
    finally src.close()
  } catch { case _: Throwable => -1.0 }

  def loadAvg(): Double = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ")(0).toDouble finally src.close()
  } catch { case _: Throwable => -1.0 }

  def cpuModel(): String = try {
    val src = scala.io.Source.fromFile("/proc/cpuinfo")
    try src.getLines().collectFirst {
      case l if l.startsWith("model name") => l.split(":", 2)(1).trim
    }.getOrElse("unknown") finally src.close()
  } catch { case _: Throwable => "unknown" }

  /** The single-thread xorshift loop `graft.Bench` reports as `cal_ms`
    * (same loop and count), so the two harnesses normalise alike.
    */
  def calibrateMs(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
    }
    val ms = (System.nanoTime() - t0) / 1000000
    if (acc == 42L) System.err.println("")
    ms
  }

  /** Highest heap in use right after any collection while armed, read
    * from GC notifications — it never forces a collection itself.
    */
  object LiveHeap extends NotificationListener {
    @volatile var armed = false
    @volatile private var peak = 0L

    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(this, null, null)
        case _ =>
      }

    def reset(): Unit = peak = 0L
    def peakMb: Double = peak / (1024.0 * 1024.0)

    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (armed && n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
}
