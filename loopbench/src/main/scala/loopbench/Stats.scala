package loopbench

/** Pure summary statistics over latency samples and job intervals. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median latency of each op class, weighted by how many ops of the class
    * ran: what an average op takes when each runs at its class median. A
    * plain median over a mix of fast and slow classes lands between them
    * and jumps from run to run; this stays put and still moves when any
    * one class does. */
  def classMedian(samples: Seq[(String, Double)]): Double = {
    require(samples.nonEmpty, "class median of an empty sample")
    samples.groupBy(_._1).values.map(xs => xs.size * median(xs.map(_._2))).sum / samples.size
  }

  /** Index of the nearest-rank `p` percentile in an ascending sample of `n`. */
  private def rankIndex(n: Int, p: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(p * n - 1e-9).toInt - 1))

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** Samples required strictly after a tail percentile's rank. */
  val TailMinBeyond = 10

  /** A tail latency with the percentile it was read at and its evidence. */
  final case class Tail(p: Double, value: Double, samples: Int, beyond: Int)

  /** The highest ladder percentile with at least `TailMinBeyond` samples
    * ranked after it; None when the sample is too small for any. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val sorted = xs.sorted.toIndexedSeq
    val n = sorted.size
    TailLadder.iterator
      .map(p => (p, rankIndex(n, p)))
      .collectFirst { case (p, i) if n > 0 && n - 1 - i >= TailMinBeyond =>
        Tail(p, sorted(i), n, n - 1 - i)
      }
  }

  /** Splits an op's wall time into the part covered by Spark jobs and the
    * rest (the driver gap: planning, metadata IO, commit). Jobs are clipped
    * to the op and overlapping jobs count once, so the two parts always sum
    * to the op's wall time. Times in any one unit; returns (jobs, gap). */
  def jobSplit(opStart: Double, opEnd: Double,
      jobs: Seq[(Double, Double)]): (Double, Double) = {
    val clipped = jobs
      .map { case (s, e) => (math.max(s, opStart), math.min(e, opEnd)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    val wall = opEnd - opStart
    (covered, wall - covered)
  }

  /** Duration minus the part of its interval that `children` cover. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    jobSplit(start, end, children)._2
}
