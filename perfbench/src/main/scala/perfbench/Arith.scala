package perfbench

/** The benchmark's own arithmetic, kept free of Spark so ArithSpec can
  * pin it: percentile selection, interval unions (stage gaps and span
  * self time) and CPU steal from two /proc/stat samples.
  */
object Arith {

  /** NaN for no samples (every request of the run failed). */
  def median(xs: collection.Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it.
    */
  def nearestRank(xs: collection.Seq[Double], p: Int): Double = {
    require(p > 0 && p <= 100)
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size / 100.0).toInt - 1))
  }

  /** Highest whole percentile whose nearest-rank sample still has at
    * least `beyond` samples above it (314 samples → 96). None when the
    * run has too few samples for even the median to qualify.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p * n / 100.0).toInt >= beyond)

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Part of `[start, end)` covered by `children` (each clipped to it). */
  def covered(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    unionLength(children.map { case (s, e) => (math.max(s, start), math.min(e, end)) })

  /** A span's duration minus the part of it its children cover. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - covered(start, end, children)

  /** The aggregate `cpu` line of /proc/stat as its counters (jiffies). */
  def parseCpuLine(line: String): Array[Long] = {
    val f = line.trim.split("\\s+")
    require(f.head == "cpu", s"not the aggregate cpu line: $line")
    f.tail.map(_.toLong)
  }

  /** Share of CPU time stolen by the hypervisor between two samples.
    * Counters: user nice system idle iowait irq softirq steal [guest
    * guest_nice]; guest time is already inside user, so it is left out
    * of the total.
    */
  def stealFrac(before: Array[Long], after: Array[Long]): Double = {
    val d = after.zip(before).map { case (a, b) => a - b }.take(8)
    val total = d.sum
    if (total <= 0 || d.length < 8) 0.0 else d(7).toDouble / total
  }
}
