package perfbench

/** A named, measured value with its unit. */
final case class Metric(name: String, value: Double, unit: String, note: String = "")

object Report {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the usual percentiles with at least ten samples beyond
    * it, as (label, value); None below twenty samples.
    */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(0.999 -> "p99.9", 0.99 -> "p99", 0.95 -> "p95", 0.9 -> "p90", 0.75 -> "p75", 0.5 -> "p50")
      .find { case (q, _) => xs.size * (1 - q) >= 10 - 1e-9 }
      .filter(_ => xs.size >= 20)
      .map { case (q, label) => label -> quantile(xs, q) }

  /** Median and tail of a latency sample, named `<prefix>.p50_<unit>` and
    * `<prefix>.<percentile>_<unit>`.
    */
  def timing(prefix: String, unit: String, xs: Seq[Double]): Seq[Metric] =
    if (xs.isEmpty) Nil
    else Metric(s"$prefix.p50_$unit", median(xs), unit, s"p50 of n=${xs.size}") +:
      tail(xs).toSeq.map { case (label, v) =>
        Metric(s"$prefix.${label}_$unit", v, unit, s"$label of n=${xs.size}") }

  def line(m: Metric): String =
    f"metric ${m.name}%-34s ${fmt(m.value)}%14s ${m.unit}%-8s ${m.note}".trim

  /** Nine significant digits, for the report lines (the JSON keeps all). */
  def fmt(v: Double): String =
    BigDecimal(v).round(new java.math.MathContext(9)).bigDecimal.stripTrailingZeros.toPlainString

  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${jsonNumber(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  private def jsonNumber(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.lang.Double.toString(v)
  }
}
