package perfbench

/** Order statistics of a sample, always reported with its size. */
final case class Summary(n: Int, p50: Double, p90: Double) {
  def json: String = f"""{"n": $n, "p50": ${Json.num(p50)}, "p90": ${Json.num(p90)}}"""
}

object Stats {
  /** Linear-interpolated quantile (the `inclusive` method of Python's
    * `statistics.quantiles`): q in [0, 1]. NaN on an empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toVector.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def summary(xs: Iterable[Double]): Summary =
    Summary(xs.size, quantile(xs, 0.5), quantile(xs, 0.9))
}

/** Just enough JSON writing for the result lines. */
object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
