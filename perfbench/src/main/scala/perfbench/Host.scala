package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host contention and JVM heap readings. */
object Host {
  final case class Cpu(steal: Long, total: Long)

  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    catch { case _: java.io.IOException => "" }

  /** Aggregate jiffies from /proc/stat (steal is the 8th field). */
  def cpu(): Cpu = {
    val f = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    if (f.length < 8) Cpu(0, 0) else Cpu(f(7), f.take(8).sum)
  }

  def stealFrac(a: Cpu, b: Cpu): Double =
    if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0

  def load1(): Double =
    read("/proc/loadavg").split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)

  /** A pass is contended when the hypervisor took more than 5% of the
    * CPU, or the 1-minute load exceeds 1.5x the cores the run uses.
    */
  def contended(steal: Double, load: Double, cores: Int): Boolean =
    steal > 0.05 || load > 1.5 * cores

  /** Old-generation occupancy right after a full collection: the live
    * set the run holds, in MB.
    */
  def liveOldGenMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
      .sum / 1048576.0
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used (user + system), all threads but the
    * JIT compiler's. Time the hypervisor or other processes take from its
    * cores is not counted. JIT compilation is left out because it depends
    * on how long the JVM has run, not on the work: in the first minute it
    * is 30-40% of a pass's CPU and falls pass by pass, at a speed that
    * depends on the host's load. run.py keeps the compiler threads alive
    * for the whole run, so none of their time leaves with an exited thread.
    */
  def programCpuS(): Double = os.getProcessCpuTime / 1e9 - jitCpuS()

  /** CPU seconds of the JIT compiler threads (from /proc/self/task). */
  def jitCpuS(): Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0.0 else tasks.iterator.map { t =>
      val st = read(s"${t.getPath}/stat")
      val open = st.indexOf('(')
      val close = st.lastIndexOf(')')
      if (open < 0 || close < 0 || !st.substring(open + 1, close).contains("CompilerThre")) 0L
      else {
        val f = st.substring(close + 2).split(' ')
        f(11).toLong + f(12).toLong
      }
    }.sum / 100.0
  }

  /** Classes loaded since JVM start; in a warm JVM, mostly the classes
    * Spark's whole-stage codegen compiles anew.
    */
  def classesLoaded(): Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
