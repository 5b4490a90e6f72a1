package graftbench

/** A latency (or any) sample with a weight: the number of items it
  * stands for. A batch pass makes every item of the pass visible at its
  * end, so one pass time stands for all of the pass's items.
  */
final case class Sample(value: Double, weight: Long)

/** A reported percentile: the percentile actually used, its value and
  * the number of items behind it.
  */
final case class Pct(q: Double, value: Double, n: Long)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile over weighted samples: the smallest value
    * whose cumulative weight reaches ceil(q * total).
    */
  def nearestRank(samples: Seq[Sample], q: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val sorted = samples.sortBy(_.value)
    val total = sorted.iterator.map(_.weight).sum
    val rank = math.max(1L, math.ceil(q * total - 1e-9).toLong)
    var cum = 0L
    sorted.find { s => cum += s.weight; cum >= rank }.get.value
  }

  /** The percentile rule: report the highest percentile at or below
    * `want` that still has at least `minBeyond` items beyond it, never
    * below the median; with the item count, so a tail read off few
    * samples says so.
    */
  def percentile(samples: Seq[Sample], want: Double, minBeyond: Int = 10): Pct = {
    val n = samples.iterator.map(_.weight).sum
    val q = math.max(0.5, math.min(want, 1.0 - minBeyond.toDouble / n))
    Pct(q, nearestRank(samples, q), n)
  }
}
