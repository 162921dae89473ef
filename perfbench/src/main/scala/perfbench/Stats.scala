package perfbench

/** Sample summaries. A tail percentile is reported only when at least
  * [[MinBeyond]] samples lie beyond it; otherwise the highest percentile
  * of [[Ladder]] that meets the rule is reported instead, and the
  * result says which one it is. */
object Stats {

  val MinBeyond = 10
  val Ladder: Seq[Double] = Seq(99, 95, 90, 80, 75, 50)

  final case class Pct(requested: Double, used: Double, value: Double, n: Int) {
    def note: String =
      if (used == requested) f"p${requested}%.0f of $n samples"
      else f"p${requested}%.0f needs ${(MinBeyond / (1 - requested / 100)).ceil}%.0f samples, " +
        f"have $n: reporting p${used}%.0f"
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p / 100 * n - 1e-9).toInt)

  /** Samples strictly after the nearest-rank position of `p`. */
  def beyond(p: Double, n: Int): Int = n - rank(p, n)

  /** The requested percentile, or the highest ladder percentile below
    * it with at least [[MinBeyond]] samples beyond. The median is the
    * floor of the ladder and is always reported. */
  def tail(xs: Seq[Double], requested: Double): Pct = {
    require(xs.nonEmpty, "percentile of no samples")
    val n = xs.size
    val used = (requested +: Ladder.filter(_ < requested))
      .find(p => p == 50 || beyond(p, n) >= MinBeyond).getOrElse(50.0)
    val value = if (used == 50) median(xs) else xs.sorted.apply(rank(used, n) - 1)
    Pct(requested, used, value, n)
  }
}
