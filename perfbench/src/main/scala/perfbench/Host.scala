package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Process and host counters read from outside the program. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution (Spark's event
    * times are epoch ms, so op windows must share that clock). */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def processCpuS: Double = os.getProcessCpuTime / 1e9

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  def load1: Double = os.getSystemLoadAverage

  private def lines(path: String): Seq[String] =
    try Files.readAllLines(Paths.get(path)).asScala.toSeq catch { case _: Throwable => Nil }

  /** Host-wide hypervisor steal seconds (all vCPUs), from /proc/stat. */
  def stealS: Double = lines("/proc/stat").find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
    .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def rssPeakMb: Double = lines("/proc/self/status").find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON writer for the run files (maps keep insertion order). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
