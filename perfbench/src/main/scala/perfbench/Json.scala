package perfbench

/** The few JSON and statistics helpers the result needs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile that leaves at least ten samples above
    * it: (percentile, value). Needs at least 11 samples.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (0, Double.NaN)
    else {
      val p = (100 * (n - 11)) / (n - 1)
      (p, s(math.round(p / 100.0 * (n - 1)).toInt))
    }
  }
}
