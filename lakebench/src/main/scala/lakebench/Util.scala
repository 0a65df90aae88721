package lakebench

/** Just enough JSON writing for the result line, records and traces. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d).replace("E", "e")
    case s: String => s
    case other => other.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}

/** Order statistics used by every metric. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value), the order statistic at rank n - 11 (0-based),
    * p = (n - 10) / n. None unless that percentile lies above the median
    * (n > 21); with fewer samples there is no tail to report.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    if (n <= 21) None
    else Some((100.0 * (n - 10) / n, xs.sorted.apply(n - 11)))
  }
}
