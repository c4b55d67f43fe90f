package graft.objective

/** Objective surface for multi-target (vector-leaf) trees — the pluggable
  * gradient of `multi_strategy=multi_output_tree` (reference
  * `src/tree/hist/histogram.h:315-425` MultiHistogramBuilder consumes a
  * `[row][target][g|h]` gradient matrix; the objective that fills it is
  * any elementwise objective applied per target,
  * `src/objective/regression_obj.cu` with `n_targets > 1`).
  *
  * Implementations fill `out(2k) = g_k, out(2k+1) = h_k` (already
  * weighted) for the K output lanes. `scalarLabel` marks objectives whose
  * rows carry ONE label shared by all lanes (class index for softmax,
  * the scalar target for multi-quantile) rather than a K-vector.
  */
trait MultiObjective extends Serializable {
  def numTargets: Int
  def gradient(ys: Array[Double], m: Array[Double], w: Double, out: Array[Double]): Unit
  /** Per-lane starting margin from per-lane weighted label means. */
  def baseScore(laneMeans: Array[Double]): Array[Double]
  /** true ⇒ ys(0) feeds every lane's mean (class index / shared scalar). */
  def scalarLabel: Boolean = false
  /** Label-vector validity: one label per lane (one for [[scalarLabel]]
    * objectives), none NaN. */
  def validLabel(ys: Array[Double]): Boolean =
    ys != null && ys.length == (if (scalarLabel) 1 else numTargets) && !ys.exists(_.isNaN)
  def name: String
}

/** Any elementwise scalar [[Objective]] lifted to K independent target
  * lanes: lane k's (g, h) is the scalar objective at (margin_k, label_k).
  * This is exactly the reference's multi-target regression semantics —
  * one shared tree STRUCTURE (splits chosen by summed gain) with
  * per-target leaf values, for squarederror, logistic, poisson, gamma,
  * tweedie, hinge, pseudohuber, expectile, … */
final class ElementwiseMultiObjective(val inner: Objective, val numTargets: Int)
    extends MultiObjective {
  require(!inner.needsGlobalGradients,
    s"${inner.name} needs whole-group gradients and cannot run per target lane")
  require(!inner.usesIntervalLabels,
    s"${inner.name} takes interval labels; multi-target rows carry one label per lane")
  require(!inner.needsScale,
    s"${inner.name} rescales from per-iteration global stats; unsupported per lane " +
      "(use quantileAlphas for multi-quantile)")
  val name = s"multi[${inner.name}]"
  def gradient(ys: Array[Double], m: Array[Double], w: Double, out: Array[Double]): Unit = {
    val t = new Array[Double](2)
    var k = 0
    while (k < numTargets) {
      inner.gradient(m(k), ys(k), t)
      out(2 * k) = w * t(0)
      out(2 * k + 1) = w * math.max(t(1), 1e-16)
      k += 1
    }
  }
  def baseScore(laneMeans: Array[Double]): Array[Double] = laneMeans.map(inner.baseScore)
  override def validLabel(ys: Array[Double]): Boolean =
    super.validLabel(ys) && ys.forall(inner.validLabel)
}

/** Softmax over K class lanes; rows carry the class index in ys(0)
  * (`src/objective/multiclass_obj.cu:120-150` SoftmaxMultiClassObj). */
final class SoftmaxMultiObjective(val numTargets: Int) extends MultiObjective {
  val name = "multi:softprob"
  override def scalarLabel: Boolean = true
  override def validLabel(ys: Array[Double]): Boolean =
    super.validLabel(ys) && ys(0) >= 0 && ys(0) < numTargets && ys(0) == math.floor(ys(0))
  def gradient(ys: Array[Double], m: Array[Double], w: Double, out: Array[Double]): Unit = {
    val K = numTargets
    var mx = m(0); var k = 1
    while (k < K) { if (m(k) > mx) mx = m(k); k += 1 }
    var s = 0.0
    k = 0
    while (k < K) { s += math.exp(m(k) - mx); k += 1 }
    val label = ys(0).toInt
    k = 0
    while (k < K) {
      val p = math.exp(m(k) - mx) / s
      out(2 * k) = w * (p - (if (k == label) 1.0 else 0.0))
      out(2 * k + 1) = w * math.max(2.0 * p * (1.0 - p), 1e-16)
      k += 1
    }
  }
  def baseScore(laneMeans: Array[Double]): Array[Double] = new Array[Double](numTargets)
}

/** One pinball-loss lane per alpha over a shared scalar label
  * (`src/objective/quantile_obj.cu:60-76` with a vector quantile_alpha). */
final class MultiQuantileObjective(alphas: Array[Double]) extends MultiObjective {
  require(alphas.nonEmpty && alphas.forall(a => a > 0 && a < 1),
    "quantile alphas must lie in (0, 1)")
  val numTargets: Int = alphas.length
  val name = "reg:quantileerror"
  override def scalarLabel: Boolean = true
  def gradient(ys: Array[Double], m: Array[Double], w: Double, out: Array[Double]): Unit = {
    val y = ys(0)
    var k = 0
    while (k < numTargets) {
      // dL/dm of the pinball loss: −alpha when under-predicting, 1−alpha
      // when over-predicting; unit hessian
      out(2 * k) = w * (if (y > m(k)) -alphas(k) else 1.0 - alphas(k))
      out(2 * k + 1) = w
      k += 1
    }
  }
  /** Every alpha lane starts at the weighted label mean; the pinball
    * gradients pull each lane to its own quantile from there. */
  def baseScore(laneMeans: Array[Double]): Array[Double] = laneMeans.clone()
}
