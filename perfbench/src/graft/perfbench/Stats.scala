package graft.perfbench

/** Order statistics for the report. Percentiles are nearest-rank. */
object Stats {
  /** A percentile together with how many samples it rests on and lie beyond it. */
  final case class Pct(pct: Double, value: Double, n: Int, beyond: Int)

  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9, 99.99)

  private def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(xs: Seq[Double], p: Double): Pct = {
    val s = xs.sorted.toArray
    val r = rank(p, s.length)
    Pct(p, s(r - 1), s.length, s.length - r)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0).value

  /** The highest ladder percentile with at least ten samples beyond it; the
    * median when there are too few samples for any. */
  def tail(xs: Seq[Double]): Pct = {
    val n = xs.length
    val p = Ladder.filter(p => n - rank(p, n) >= 10).lastOption.getOrElse(50.0)
    percentile(xs, p)
  }

  /** Self-test on known samples; returns the failures. */
  def selfTest(): Seq[String] = {
    def one(n: Int, want: Pct): Option[String] = {
      val t = tail((1 to n).map(_.toDouble).reverse)
      if (t == want) None else Some(s"tail of 1..$n: got $t, want $want")
    }
    Seq(one(40, Pct(75.0, 30.0, 40, 10)), one(100, Pct(90.0, 90.0, 100, 10)),
      one(1000, Pct(99.0, 990.0, 1000, 10)), one(10000, Pct(99.9, 9990.0, 10000, 10)),
      one(12, Pct(50.0, 6.0, 12, 6))).flatten ++
      (if (median(Seq(3.0, 1.0, 2.0)) == 2.0) None else Some("median of 1,2,3 is not 2"))
  }
}
