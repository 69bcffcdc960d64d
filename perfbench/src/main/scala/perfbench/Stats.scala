package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  /** The middle sample, or the mean of the two middle samples. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** The highest of p99, p90 and p75 that has at least ten samples
    * beyond it; below 40 samples none does and the tail is the median. */
  def tailPercentile(n: Int): Double =
    Seq(99.0, 90.0, 75.0).find(p => n * (1.0 - p / 100.0) >= 10.0 - 1e-9).getOrElse(50.0)

  /** A latency summary: the median, the tail percentile the sample
    * count supports, which percentile that is, and the count. */
  final case class Summary(n: Int, p50: Double, tailPct: Double, tail: Double)

  def summary(xs: Seq[Double]): Summary = {
    val pct = tailPercentile(xs.size)
    Summary(xs.size, median(xs), pct,
      if (pct == 50.0) median(xs) else percentile(xs, pct))
  }
}

/** Just enough JSON for the result lines and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
