package lakebench

/** Summary statistics and JSON rendering for benchmark output. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** 1-based nearest rank of the `p`-th percentile of `n` samples. */
  private def rankOf(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Samples strictly above the nearest-rank `p`-th percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - rankOf(n, p)

  /** The tail rule: the highest percentile of `ladder` that leaves at
    * least `minBeyond` samples above it, or None when even the lowest
    * rung leaves fewer. A tail percentile with fewer samples beyond it
    * is one or two outliers, not a tail. */
  def tailPercentile(n: Int, minBeyond: Int = 10,
      ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)): Option[Double] =
    ladder.sorted.reverse.find(p => beyond(n, p) >= minBeyond)

  /** A JSON number with every digit the double carries. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** One reported metric: value, unit and the sample count behind it. */
final case class Metric(value: Double, unit: String, n: Int)
