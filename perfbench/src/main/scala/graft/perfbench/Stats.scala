package graft.perfbench

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples that must lie beyond a reported tail percentile. */
  val MinBeyond = 10

  /** @param beyond samples strictly after the tail's rank */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  /** Nearest-rank tail: the highest percentile on [[TailLadder]] with at
    * least [[MinBeyond]] samples beyond it. Fewer than 20 samples leave
    * no rung that qualifies; the tail is then the [[median]], and
    * `beyond` says how thin it is.
    */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    def rank(p: Double): Int = math.max(1, math.ceil(p / 100 * n).toInt)
    TailLadder.find(p => n - rank(p) >= MinBeyond) match {
      case Some(p) => Tail(s(rank(p) - 1), p, n - rank(p), n)
      case None => Tail(median(s), 50.0, n / 2, n)
    }
  }
}
