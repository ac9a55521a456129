package perfbench

/** Order statistics for the reported figures. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile with at least ten samples beyond it: the value
    * at 1-based rank n - 10, with its percentile. Falls back to the maximum
    * (percentile 100) when fewer than eleven samples exist. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** The machine's CPU time from /proc/stat: busy (user, nice, system, irq,
  * softirq) and stolen — time a vCPU wanted to run and the hypervisor ran
  * another guest instead. Both read 0 where /proc/stat is missing. */
object HostCpu {
  final case class Sample(wallNs: Long, busyS: Double, stealS: Double)

  def sample(): Sample = {
    val (busy, steal) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        val ticks = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
        ((ticks(0) + ticks(1) + ticks(2) + ticks(5) + ticks(6)) / 100.0, ticks(7) / 100.0)
      } catch { case _: Exception => (0.0, 0.0) }
    Sample(System.nanoTime(), busy, steal)
  }

  /** An interval's wall seconds; those seconds less the share the host
    * stole, wall × busy ÷ (busy + steal), equal to the wall seconds on a host
    * that steals nothing; and the machine's busy and stolen CPU seconds. */
  def interval(a: Sample, b: Sample): (Double, Double, Double, Double) = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val busy = b.busyS - a.busyS
    val steal = b.stealS - a.stealS
    (wall, if (busy + steal > 0) wall * busy / (busy + steal) else wall, busy, steal)
  }
}
