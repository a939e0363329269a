package gatebench

import scala.util.Try

/** Process and box counters read from /proc. */
object Box {
  /** Jiffies from /proc/stat's cpu line and this process's own
    * utime+stime, read together (USER_HZ = 100), as graft.Bench reads
    * them. */
  final case class Jiffies(busy: Long, steal: Long, total: Long, self: Long)

  def jiffies(): Jiffies = Try {
    val parts = read("/proc/stat").linesIterator.next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal guest guest_nice;
    // guest time is already inside user, so sum the first eight only
    val first8 = parts.take(8)
    val idle = parts(3) + (if (parts.length > 4) parts(4) else 0L)
    val steal = if (parts.length > 7) parts(7) else 0L
    val stat = read("/proc/self/stat")
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    Jiffies(first8.sum - idle - steal, steal, first8.sum,
      rest(11).toLong + rest(12).toLong)
  }.getOrElse(Jiffies(0, 0, 0, 0))

  /** Peak resident set of this JVM in bytes (VmHWM). */
  def vmHwmBytes(): Long = Try {
    read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong * 1024L)
      .getOrElse(-1L)
  }.getOrElse(-1L)

  /** This process's I/O counters (rchar, wchar, syscr, syscw, ...). */
  def procIo(): Map[String, Long] = Try {
    read("/proc/self/io").linesIterator.map(_.split(":\\s*")).collect {
      case Array(k, v) => k -> v.trim.toLong
    }.toMap
  }.getOrElse(Map.empty)

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
}
