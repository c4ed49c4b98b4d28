package linkbench

object Stats {
  /** Quantile with linear interpolation between closest ranks; 0 when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean latency in ms with every operation name weighted
    * the same: the mean over names of each name's mean log latency. */
  def gmeanMs(recs: Seq[OpRecord]): Double = {
    val perName = recs.filter(_.seconds > 0).groupBy(_.name).values
      .map(rs => rs.map(r => math.log(r.seconds * 1000)).sum / rs.size)
    if (perName.isEmpty) 0.0 else math.exp(perName.sum / perName.size)
  }
}
