package perfbench

import scala.collection.mutable.ArrayBuffer

/** One benchmark workload. `setup` generates and writes the inputs from
  * the seed and builds what the cycles start from; it runs several times
  * in one session. `warmUp` then runs the cycle's calls once without
  * recording them. A plain cycle makes the user-level calls and records the
  * end-to-end figures; a traced cycle makes the layer calls under spans. */
trait Workload {
  def setup(): Unit
  def warmUp(): Unit
  def plainCycle(): Unit
  def tracedCycle(): Unit
  /** Per-layer metrics (name, value, unit) derived from the spans. */
  def perLayer(cores: Int): Seq[(String, Double, String)]
  /** Workload-specific figures printed for people, not in the result line. */
  def summary: Seq[(String, Double, String)]
  /** Cycles a run makes even after --seconds have passed, for steady medians. */
  def minCycles: Int

  /** One value per measured cycle (per day on crawl_gate). */
  val fitS = new ArrayBuffer[Double]
  val scoreS = new ArrayBuffer[Double]
  val qualities = new ArrayBuffer[Double]
}

object Stats {
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Milliseconds of [from, to] covered by at least one interval. */
  def coveredMs(intervals: collection.Seq[(Long, Long)], from: Double, to: Double): Double = {
    var covered = 0.0
    var reach = from
    intervals.map { case (a, b) => (math.max(a.toDouble, from), math.min(b.toDouble, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}
