package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host-noise witnesses recorded beside every run: CPU time stolen by the
  * hypervisor and CPU used by other processes, both from /proc/stat, and
  * the 1-minute load. They should move no metric; they explain outliers.
  * On a host without /proc every reading is 0.
  */
object HostNoise {

  /** `busySec` is CPU the VM's vCPUs ran (steal excluded), all processes. */
  final case class Stamp(busySec: Double, stealSec: Double, procCpuSec: Double)
  final case class Sample(stealSec: Double, externalCpuSec: Double, load1: Double,
                          cpuSec: Double)

  /** The VM's vCPUs: the per-CPU lines of /proc/stat. */
  val vcpus: Int =
    try math.max(1, Files.readAllLines(Paths.get("/proc/stat")).asScala
      .count(_.matches("cpu\\d+ .*")))
    catch { case _: Exception => Runtime.getRuntime.availableProcessors }

  private def readStat(): (Double, Double) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .map(_.toDouble / 100.0) // user nice system idle iowait irq softirq steal ...
      val steal = if (f.length > 7) f(7) else 0.0
      (f(0) + f(1) + f(2) + f(5) + f(6), steal)
    } catch { case _: Exception => (0.0, 0.0) }

  private def procCpuSec: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def load1: Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(' ')(0).toDouble
    catch { case _: Exception => 0.0 }

  def stamp(): Stamp = {
    val (busy, steal) = readStat()
    Stamp(busy, steal, procCpuSec)
  }

  /** Steal and other processes' CPU seconds since `s`, the load now, and
    * this JVM's own CPU seconds since `s`. */
  def since(s: Stamp): Sample = {
    val now = stamp()
    Sample(
      math.max(0.0, now.stealSec - s.stealSec),
      math.max(0.0, (now.busySec - s.busySec) - (now.procCpuSec - s.procCpuSec)),
      load1,
      now.procCpuSec - s.procCpuSec)
  }

  /** Sum of the heap pools' peak usage since JVM start, in MB. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
}
