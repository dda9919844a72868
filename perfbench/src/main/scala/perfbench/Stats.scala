package perfbench

import java.util.Locale

/** Summary statistics and record formatting. */
object Stats {

  /** Percentile `p` in [0, 1] by linear interpolation between closest
    * ranks (position p·(n−1) in the sorted samples).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The highest of the usual tail percentiles that still has at least
    * `beyond` samples above its interpolation position; None when even the
    * median lacks them.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5).find(p => n - 1 - math.ceil(p * (n - 1)) >= beyond)

  /** Least-squares line through (x, y): returns (intercept, slope). */
  def linearFit(xs: Seq[Double], ys: Seq[Double]): (Double, Double) = {
    require(xs.length == ys.length && xs.length >= 2, "linear fit needs two or more points")
    val mx = xs.sum / xs.length
    val my = ys.sum / ys.length
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    require(sxx > 0, "linear fit needs two distinct x values")
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    (my - slope * mx, slope)
  }

  /** A JSON number with 7 significant digits, locale-independent. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == 0.0) "0"
    else new java.math.BigDecimal(v).round(new java.math.MathContext(7))
      .stripTrailingZeros().toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => c.toString
    } + "\""

  /** One flat JSON object from (key, already-encoded value) pairs. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
