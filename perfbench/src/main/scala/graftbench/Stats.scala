package graftbench

object Stats {
  /** Linear-interpolated quantile (numpy's default) of unsorted values. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Consecutive windows of `size` values; a last window shorter than
    * `size` joins the one before.
    */
  def windows[A](xs: Seq[A], size: Int): Seq[Seq[A]] = {
    val ws = xs.grouped(size).toSeq
    if (ws.size > 1 && ws.last.size < size) ws.dropRight(2) :+ (ws(ws.size - 2) ++ ws.last)
    else ws
  }

  /** Median, over the [[windows]] of `size` values, of each window's
    * `q`-quantile. A host stall confined to one window moves one of the
    * medianed values rather than the whole run's tail.
    */
  def windowedQuantile(xs: Seq[Double], size: Int, q: Double): Double =
    median(windows(xs, size).map(quantile(_, q)))
}
