package perfbench

/** Pure helpers the benchmark reports through; pinned by [[SelfTest]]. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** num / den, or 0 when nothing was attempted (den == 0). */
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  /** (recall, precision) of predicted same-cluster pairs against true pairs. */
  def recallPrecision(truePositives: Long, truePairs: Long, predictedPairs: Long): (Double, Double) =
    (ratio(truePositives, truePairs), ratio(truePositives, predictedPairs))
}
