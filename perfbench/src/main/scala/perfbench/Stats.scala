package perfbench

/** Order statistics used by every workload. Quantiles use linear
  * interpolation between closest ranks (numpy's default). */
object Stats {

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.toIndexedSeq.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail percentile that the sample can support: the highest
    * percentile at or below `target` that leaves at least `minBeyond`
    * samples strictly above its nearest rank. With n samples that is
    * min(target, (n - minBeyond) / n); fewer than minBeyond + 1 samples
    * support no tail at all.
    *
    * @return (percentile used, its value, sample count) */
  def tail(xs: Seq[Double], target: Double = 0.99,
           minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n <= minBeyond) None
    else {
      val p = math.min(target, (n - minBeyond).toDouble / n)
      val rank = math.max(1, math.ceil(p * n - 1e-9).toInt)
      val s = xs.toIndexedSeq.sorted
      Some(Tail(p, s(rank - 1), n, n - rank))
    }
  }

  final case class Tail(percentile: Double, value: Double, samples: Int,
                        beyond: Int)
}
