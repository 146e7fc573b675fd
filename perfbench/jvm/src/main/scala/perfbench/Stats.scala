package perfbench

import scala.io.Source

object Stats {
  /** Linear-interpolation quantile (the common "type 7" definition). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentile every workload reports. */
  val TailQ = 0.9

  /** Median of the last fifth over median of the first fifth. */
  def growth(xs: Seq[Double]): Double = {
    val k = math.max(1, xs.size / 5)
    if (xs.size < 2) 1.0 else median(xs.takeRight(k)) / median(xs.take(k))
  }
}

/** Host-noise readings, parsed as `graft.Bench` parses them: steal
  * jiffies from the aggregate `/proc/stat` cpu line (field 8) and the
  * `some total=` microseconds of `/proc/pressure/cpu`; -1 if unreadable. */
object Host {
  private def firstLine(path: String, prefix: String): Option[String] =
    try {
      val src = Source.fromFile(path)
      try src.getLines().find(_.startsWith(prefix)) finally src.close()
    } catch { case _: Exception => None }

  def stealJiffies(): Long = firstLine("/proc/stat", "cpu ") match {
    case Some(line) =>
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    case None => -1L
  }

  def psiCpuUs(): Long = firstLine("/proc/pressure/cpu", "some")
    .flatMap(l => "total=(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong))
    .getOrElse(-1L)
}
