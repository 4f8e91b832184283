package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Host and JVM health signals read from /proc and the management beans.
  * They flag a noisy run (co-tenant steal, runqueue contention, GC) next
  * to the figures it produced; they are never optimisation targets.
  *
  * The runqueue wait is summed PER THREAD over /proc/self/task/<tid>
  * (executor threads do the work while the main thread sleeps), taking
  * max(0, after - before) per surviving thread so a thread that exits
  * between two samples cannot turn a delta negative. */
object Health {
  final case class Sample(
      wallNs: Long, cpuNs: Long, gcMs: Long, stealTicks: Long,
      runqWaitByTid: Map[String, Long], jitTicksByTid: Map[String, Long])

  private def readProc(p: File): String =
    new String(Files.readAllBytes(p.toPath), StandardCharsets.UTF_8)

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Hypervisor steal: /proc/stat's aggregate `cpu` line, column 8, in
    * clock ticks (USER_HZ, 100/s on Linux). */
  def stealTicks(): Long =
    try readProc(new File("/proc/stat")).linesIterator
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  /** ns each thread spent runnable but waiting for a CPU
    * (/proc/self/task/<tid>/schedstat field 2). */
  def runqWaitByTid(): Map[String, Long] =
    Option(new File("/proc/self/task").listFiles()).map(_.toSeq).getOrElse(Nil)
      .map { d =>
        d.getName -> (try readProc(new File(d, "schedstat")).trim.split("\\s+")(1).toLong
          catch { case _: Exception => 0L })
      }.toMap

  /** CPU clock ticks of each JIT compiler thread (utime + stime of
    * /proc/self/task/<tid>/stat). The JVM starts and stops compiler
    * threads as the compile queue grows and shrinks. */
  def jitTicksByTid(): Map[String, Long] =
    Option(new File("/proc/self/task").listFiles()).map(_.toSeq).getOrElse(Nil)
      .flatMap { d =>
        try {
          val st = readProc(new File(d, "stat"))
          val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler"))
            Some(d.getName -> (f(11).toLong + f(12).toLong))
          else None
        } catch { case _: Exception => None }
      }.toMap

  def loadavg1m(): Double =
    try readProc(new File("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => 0.0 }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try readProc(new File("/proc/self/status")).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  /** Wall ms of a fixed single-threaded integer loop: the host's current
    * speed, so a run that was slow because the machine was slow shows it.
    * Best of three, so one descheduling does not count. */
  def calibrationMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) println("unreachable") // keeps the loop live
    (System.nanoTime() - t0) / 1e6
  }.min

  def sample(): Sample =
    Sample(System.nanoTime(), processCpuNs(), gcMs(), stealTicks(), runqWaitByTid(),
      jitTicksByTid())

  /** Deltas between two samples, as per-layer metrics. */
  def delta(a: Sample, b: Sample): Map[String, Double] = {
    val runq = b.runqWaitByTid.iterator.map { case (tid, v) =>
      math.max(0L, v - a.runqWaitByTid.getOrElse(tid, 0L)) }.sum
    // a compiler thread that exits between the samples loses its share
    val jit = b.jitTicksByTid.iterator.map { case (tid, v) =>
      math.max(0L, v - a.jitTicksByTid.getOrElse(tid, 0L)) }.sum
    Map(
      "jvm.process_cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
      "jvm.jit_cpu_s" -> jit / 100.0,
      "jvm.gc_ms" -> (b.gcMs - a.gcMs).toDouble,
      "host.steal_s" -> (b.stealTicks - a.stealTicks) / 100.0,
      "host.runq_wait_s" -> runq / 1e9)
  }
}
