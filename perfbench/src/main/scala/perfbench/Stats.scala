package perfbench

/** Summary statistics for the benchmark's samples. */
object Stats {

  /** Minimum number of samples that must lie above a reported
    * percentile; fewer makes the tail a guess. */
  val MinBeyond = 10

  /** Nearest-rank percentile `q` (0 < q < 1) of `xs`. Refuses unless at
    * least `MinBeyond` samples lie above the chosen rank. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(q > 0 && q < 1, s"percentile $q outside (0, 1)")
    val n = xs.size
    val rank = math.max(1, math.ceil(q * n - 1e-9).toInt)
    val beyond = n - rank
    if (beyond < MinBeyond)
      throw new IllegalArgumentException(
        f"p${q * 100}%.0f needs $MinBeyond samples beyond it; " +
          s"$n samples leave $beyond")
    xs.sorted.apply(rank - 1)
  }

  /** Median of a handful of whole-run repetitions (set-up repeats,
    * batch passes). These are repeats of one measurement, not a latency
    * distribution, so no sample floor applies. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON writer for the result line and the trace file. */
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
    (b += '"').toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
