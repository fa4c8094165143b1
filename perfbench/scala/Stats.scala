package perfbench

/** Pure arithmetic behind the reported figures, kept apart so the
  * self-tests can pin it down.
  */
object Stats {

  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(math.max(rank, 1), s.size) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A pass as the host lets it run at its quietest: the sum over
    * operations of each one's fastest run. Interference from the rest of
    * a shared host (steal, cache and memory contention) only ever adds
    * time, so the fastest run is the one it disturbed least.
    */
  def passMs(perOp: Map[String, Seq[Double]]): Double = perOp.values.map(_.min).sum

  /** Work per second of a kernel alone: `amount` over the time of a
    * select with the kernel less the time of the same select without it
    * (at least a millisecond, so a kernel lost in the noise reads fast,
    * not infinite).
    */
  def kernelRate(amount: Double, withKernelS: Double, withoutS: Double): Double =
    amount / math.max(withKernelS - withoutS, 1e-3)

  /** Traced pass time over untraced pass time, minus one (medians). */
  def traceOverheadFrac(traced: Seq[Double], untraced: Seq[Double]): Double =
    median(traced) / median(untraced) - 1.0
}
