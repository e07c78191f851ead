package kgbench

/** Host preconditions recorded with every result, so that a run made on a
  * loaded box identifies itself: load average at the start and end of the
  * measured window, and the share of CPU ticks stolen by the hypervisor
  * over it. */
object Host {
  final case class Sample(loadavg: String, stealTicks: Long, busyTicks: Long)

  private def read(path: String): Option[String] = scala.util.Try {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }.toOption

  def sample(): Sample = {
    val load = read("/proc/loadavg").map(_.trim.split(" ").take(3)
      .mkString("[", ",", "]")).getOrElse("[]")
    // aggregate cpu line: user nice system idle iowait irq softirq steal
    val v = read("/proc/stat").map(_.linesIterator.next().trim.split("\\s+")
      .drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    if (v.length > 7) Sample(load, v(7), v(0) + v(1) + v(2) + v(5) + v(6))
    else Sample(load, 0L, 0L)
  }

  def stealPct(a: Sample, b: Sample): Double = {
    val steal = b.stealTicks - a.stealTicks
    100.0 * steal / math.max(1L, steal + b.busyTicks - a.busyTicks)
  }

  /** The JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = read("/proc/self/status").flatMap(
    _.linesIterator.find(_.startsWith("VmHWM:"))).map(
    _.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Just enough JSON writing for the result lines; values are passed
  * already encoded. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
