package whbench

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest order statistic with at least ten samples above it, or
    * the maximum when there are fewer than eleven samples (the summary
    * line prints the sample count next to it). */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(if (s.size >= 11) s.size - 11 else s.size - 1)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
}

/** What one call cost: wall time, and CPU time of the whole JVM (every
  * thread: driver, executor tasks, JIT, GC), both in ms. CPU time does
  * not count time the machine's scheduler took the CPUs away. */
final case class Cost(wallMs: Double, cpuMs: Double) {
  def +(o: Cost): Cost = Cost(wallMs + o.wallMs, cpuMs + o.cpuMs)
}

object Cost {
  val zero: Cost = Cost(0, 0)
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def of[T](body: => T): (T, Cost) = {
    val (w0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    val r = body
    (r, Cost((System.nanoTime() - w0) / 1e6, (os.getProcessCpuTime - c0) / 1e6))
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
