package perfbench

/** Statistics and output formatting for results. */
object Report {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A JSON number with every digit, or null when not finite. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String = graft.Json.quote(s)

  def unit(metric: String): String =
    if (metric == "output_bytes_per_input_byte") "B/B"
    else if (metric == "spark.parallel_eff") "ratio"
    else if (metric.endsWith("_s")) "s"
    else if (metric.contains("_ms")) "ms"
    else if (metric.endsWith("_mb")) "MB"
    else "count"

  def metricsJson(ms: Seq[(String, Double)]): String =
    ms.map { case (k, v) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(unit(k))}}"
    }.mkString("{", ", ", "}")
}
