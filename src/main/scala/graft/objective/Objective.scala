package graft.objective

/** Single-target objective: per-row (gradient, hessian) at the current raw
  * margin, plus the output transform and base-score initialization — the
  * reference's `ObjFunction` contract (`include/xgboost/objective.h:50-85`,
  * kernels in `src/objective/regression_loss.h` and friends, SURVEY §2.8).
  *
  * `gradient` returns the UNWEIGHTED pair; the trainer multiplies by the
  * instance weight (the reference folds weight inside each kernel — same
  * math). Gradients accumulate in Double, matching the reference's
  * `GradStats::GradType = double` (`src/tree/param.h:296-300`).
  */
trait Objective extends Serializable {
  def name: String
  /** g into out(0), h into out(1) (allocation-free hot path). */
  def gradient(margin: Double, label: Double, out: Array[Double]): Unit
  /** margin → user-facing prediction (ref `PredTransform`). */
  def predTransform(margin: Double): Double = margin
  /** prob/label-mean → initial margin (ref `ProbToMargin`). */
  def probToMargin(p: Double): Double = p
  /** base score from the (weighted) label mean (ref `InitEstimation`,
    * `src/objective/init_estimation.cc:21-51`). */
  def baseScore(labelMean: Double): Double = probToMargin(labelMean)
  /** label validity predicate (ref `CheckLabel`). */
  def validLabel(y: Double): Boolean = true
  /** true ⇒ per-row gradients depend on GLOBAL order statistics (risk
    * sets); the trainer must use the objective's distributed gradient
    * computation instead of this per-row kernel (survival:cox). */
  def needsGlobalGradients: Boolean = false
  /** true ⇒ labels are censoring intervals (lower, upper); the trainer
    * routes through `gradientInterval` (survival:aft). */
  def usesIntervalLabels: Boolean = false
  /** (g, h) for interval-censored labels [lower, upper]; upper = NaN or
    * +Inf means right-censored. Only called when `usesIntervalLabels`. */
  def gradientInterval(margin: Double, lower: Double, upper: Double,
      out: Array[Double]): Unit = gradient(margin, lower, out)
  /** interval-label validity (only consulted when `usesIntervalLabels`). */
  def validInterval(lower: Double, upper: Double): Boolean = true
  /** Hook run on the driver before each boosting iteration for objectives
    * with global scale statistics (reg:absoluteerror / reg:quantileerror,
    * `src/objective/regression_obj.cu:608-660`, `quantile_obj.cu:30-76`).
    * `stats` = (Σ w·√|residual|, Σ w) at current margins. */
  def setScale(sumWSqrtAbsRes: Double, sumW: Double): Unit = {}
  def needsScale: Boolean = false
  def defaultMetric: String = "rmse"
}

object Objective {
  @inline final def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** Registry, name-keyed like `XGBOOST_REGISTER_OBJECTIVE`. */
  def apply(name: String, maxDeltaStep: Double = 0.7, alpha: Double = 0.5,
      rho: Double = 1.5, delta: Double = 1.0,
      aftDistribution: String = "normal", aftScale: Double = 1.0,
      rankExpGain: Boolean = true, rankTopK: Int = 0,
      rankPairMethod: String = "mean", rankNumPair: Int = 8,
      rankUnbiased: Boolean = false, rankBiasNorm: Double = 1.0,
      rankNormalization: Boolean = true, rankScoreNormalization: Boolean = true,
      scalePosWeight: Double = 1.0): Objective = {
    // scale_pos_weight applies to the RegLoss family only
    // (RegLossParam, src/objective/regression_param.h:15)
    def pw(o: Objective): Objective =
      if (scalePosWeight == 1.0) o else new PosWeighted(o, scalePosWeight)
    name match {
    case "reg:squarederror" | "reg:linear" => pw(SquaredError)
    case "reg:squaredlogerror"             => pw(SquaredLogError)
    case "reg:logistic"                    => pw(new Logistic("reg:logistic"))
    case "binary:logistic"                 => pw(new Logistic("binary:logistic"))
    case "binary:logitraw"                 => pw(LogitRaw)
    case "binary:hinge"                    => Hinge
    case "count:poisson"                   => new Poisson(maxDeltaStep)
    case "reg:gamma"                       => Gamma
    case "reg:tweedie"                     => new Tweedie(rho)
    case "reg:pseudohubererror"            => new PseudoHuber(delta)
    case "reg:absoluteerror"               => new AbsoluteError
    case "reg:quantileerror"               => new QuantileError(alpha)
    case "reg:expectileerror"              => new ExpectileError(alpha)
    case "survival:cox"                    => Cox
    case "survival:aft"                    => new AFT(aftDistribution, aftScale)
    case "rank:ndcg"                       => new LambdaRankObjective("ndcg", rankExpGain, rankTopK, rankPairMethod, rankNumPair, rankUnbiased, rankBiasNorm, rankNormalization, rankScoreNormalization)
    case "rank:map"                        => new LambdaRankObjective("map", rankExpGain, rankTopK, rankPairMethod, rankNumPair, rankUnbiased, rankBiasNorm, rankNormalization, rankScoreNormalization)
    case "rank:pairwise"                   => new LambdaRankObjective("pairwise", rankExpGain, rankTopK, rankPairMethod, rankNumPair, rankUnbiased, rankBiasNorm, rankNormalization, rankScoreNormalization)
    case other => throw new IllegalArgumentException(s"unknown objective: $other")
    }
  }
}

/** scale_pos_weight (`src/objective/regression_param.h:15`, applied in the
  * RegLoss kernel `src/objective/regression_obj.cu:186-189`): rows with
  * label == 1 get BOTH g and h multiplied — the standard class-imbalance
  * rebalancer. A decorator so every RegLoss-family objective composes. */
private final class PosWeighted(inner: Objective, spw: Double) extends Objective {
  def name: String = inner.name
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    inner.gradient(m, y, out)
    if (y == 1.0) { out(0) *= spw; out(1) *= spw }
  }
  override def predTransform(m: Double): Double = inner.predTransform(m)
  override def probToMargin(p: Double): Double = inner.probToMargin(p)
  override def baseScore(labelMean: Double): Double = inner.baseScore(labelMean)
  override def validLabel(y: Double): Boolean = inner.validLabel(y)
  override def defaultMetric: String = inner.defaultMetric
}

/** reg:squarederror (`src/objective/regression_loss.h:16-33`): g=p−y, h=1. */
object SquaredError extends Objective {
  val name = "reg:squarederror"
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    out(0) = m - y; out(1) = 1.0
  }
}

/** reg:squaredlogerror (`regression_loss.h:35-61`); labels must be > −1. */
object SquaredLogError extends Objective {
  val name = "reg:squaredlogerror"
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val d = math.log1p(m) - math.log1p(y)
    out(0) = d / (m + 1.0)
    out(1) = math.max((1.0 - d) / ((m + 1.0) * (m + 1.0)), 1e-6)
  }
  override def validLabel(y: Double): Boolean = y > -1.0
  override def defaultMetric = "rmsle"
}

/** reg:logistic / binary:logistic (`regression_loss.h:64-101`). */
final class Logistic(val name: String) extends Objective {
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val p = Objective.sigmoid(m)
    out(0) = p - y
    out(1) = math.max(p * (1.0 - p), 1e-16)
  }
  override def predTransform(m: Double): Double = Objective.sigmoid(m)
  override def probToMargin(p: Double): Double =
    -math.log(1.0 / math.max(math.min(p, 1 - 1e-12), 1e-12) - 1.0)
  override def validLabel(y: Double): Boolean = y >= 0.0 && y <= 1.0
  override def defaultMetric = if (name == "binary:logistic") "logloss" else "rmse"
}

/** binary:logitraw (`regression_loss.h:104-125`): logistic gradient, raw
  * margin output. */
object LogitRaw extends Objective {
  val name = "binary:logitraw"
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val p = Objective.sigmoid(m)
    out(0) = p - y
    out(1) = math.max(p * (1.0 - p), 1e-16)
  }
  override def probToMargin(p: Double): Double =
    -math.log(1.0 / math.max(math.min(p, 1 - 1e-12), 1e-12) - 1.0)
  override def defaultMetric = "logloss"
}

/** binary:hinge (`src/objective/hinge.cc:60`): labels {0,1} mapped to ±1. */
object Hinge extends Objective {
  val name = "binary:hinge"
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val yy = 2.0 * y - 1.0
    if (m * yy < 1.0) { out(0) = -yy; out(1) = 1.0 }
    else { out(0) = 0.0; out(1) = 1e-16 }
  }
  override def predTransform(m: Double): Double = if (m > 0) 1.0 else 0.0
  override def probToMargin(p: Double): Double = 0.0
  override def validLabel(y: Double): Boolean = y == 0.0 || y == 1.0
  override def defaultMetric = "error"
}

/** count:poisson (`src/objective/poisson_obj.h:32-39`): log link;
  * h inflated by e^max_delta_step for stability. */
final class Poisson(maxDeltaStep: Double) extends Objective {
  val name = "count:poisson"
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val e = math.exp(m)
    out(0) = e - y
    out(1) = math.exp(m + maxDeltaStep)
  }
  override def predTransform(m: Double): Double = math.exp(m)
  override def probToMargin(p: Double): Double = math.log(math.max(p, 1e-16))
  override def validLabel(y: Double): Boolean = y >= 0.0
  override def defaultMetric = "poisson-nloglik"
}

/** reg:gamma (`regression_loss.h:128-145`): log-link gamma deviance. */
object Gamma extends Objective {
  val name = "reg:gamma"
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val ye = y * math.exp(-m)
    out(0) = 1.0 - ye
    out(1) = ye
  }
  override def predTransform(m: Double): Double = math.exp(m)
  override def probToMargin(p: Double): Double = math.log(math.max(p, 1e-16))
  override def validLabel(y: Double): Boolean = y > 0.0
  override def defaultMetric = "gamma-nloglik"
}

/** reg:tweedie (`src/objective/tweedie_obj.h:28-38`), variance power rho. */
final class Tweedie(rho: Double) extends Objective {
  val name = s"reg:tweedie"
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val a = y * math.exp((1.0 - rho) * m)
    val b = math.exp((2.0 - rho) * m)
    out(0) = -a + b
    out(1) = -a * (1.0 - rho) + b * (2.0 - rho)
  }
  override def predTransform(m: Double): Double = math.exp(m)
  override def probToMargin(p: Double): Double = math.log(math.max(p, 1e-16))
  override def validLabel(y: Double): Boolean = y >= 0.0
  override def defaultMetric = s"tweedie-nloglik@$rho"
}

/** reg:pseudohubererror (`src/objective/pseudohuber_obj.h:23-25`). */
final class PseudoHuber(slope: Double) extends Objective {
  val name = "reg:pseudohubererror"
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val r = m - y
    val scale = 1.0 + (r / slope) * (r / slope)
    val s = math.sqrt(scale)
    out(0) = r / s
    out(1) = 1.0 / (scale * s)
  }
  override def defaultMetric = "mphe"
}

/** reg:absoluteerror — this snapshot's smooth MM majorization
  * (`src/objective/regression_obj.cu:608-660`): per-iteration global scale
  * δ = (E_w[√|r|])²; pseudo-Huber-shaped g=r/q, h=1/q, q=√(1+(r/δ)²). */
final class AbsoluteError extends Objective {
  val name = "reg:absoluteerror"
  private var delta = 1.0
  override def needsScale: Boolean = true
  override def setScale(sumWSqrtAbsRes: Double, sumW: Double): Unit = {
    val m = if (sumW > 0) sumWSqrtAbsRes / sumW else 1.0
    delta = math.max(m * m, 1e-12)
  }
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val r = m - y
    val q = math.sqrt(1.0 + (r / delta) * (r / delta))
    out(0) = r / q
    out(1) = 1.0 / q
  }
  override def defaultMetric = "mae"
}

/** reg:quantileerror — logistic-smoothed pinball
  * (`src/objective/quantile_obj.cu:30-118`): S=(Σw√|r|/Σw)², x=r/(cS),
  * g=S/2·(tanh x+1−2α), h=1/(2c)·max(tanh x/x, 3e-4), c=0.04. */
final class QuantileError(alphaQ: Double) extends Objective {
  val name = "reg:quantileerror"
  private val c = 0.04
  private var s = 1.0
  override def needsScale: Boolean = true
  override def setScale(sumWSqrtAbsRes: Double, sumW: Double): Unit = {
    val m = if (sumW > 0) sumWSqrtAbsRes / sumW else 1.0
    s = math.max(m * m, 1e-12)
  }
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val r = m - y
    val x = r / (c * s)
    val t = math.tanh(x)
    out(0) = s / 2.0 * (t + 1.0 - 2.0 * alphaQ)
    out(1) = 1.0 / (2.0 * c) * math.max(if (x == 0.0) 1.0 else t / x, 3e-4)
  }
  override def defaultMetric = s"quantile@$alphaQ"
}

/** reg:expectileerror (`src/objective/regression_obj.cu:512`): asymmetric
  * squared loss with tilt τ. */
final class ExpectileError(tau: Double) extends Objective {
  val name = "reg:expectileerror"
  def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
    val r = m - y
    val w = if (r > 0) 1.0 - tau else tau
    out(0) = 2.0 * w * r
    out(1) = 2.0 * w
  }
}

/** survival:cox (`src/objective/regression_obj.cu:604`): negative partial
  * log-likelihood with Breslow risk sets. The gradient of row i is
  * g = w·(e^{p_i}·R(t_i) − 1{event}), h = w·(e^{p_i}·R − e^{2p_i}·S) where
  * R(t) = Σ_{events e: t_e ≤ t} 1/riskSum(t_e), S the squared analog, and
  * riskSum(t) = Σ_{|y_j| ≥ t} e^{p_j} — GLOBAL order statistics, so the
  * per-row kernel below is deliberately unusable: the trainer detects
  * `needsGlobalGradients` and computes the full distributed form in
  * [[CoxGradients]] (three partition-prefix passes over the |y|-sorted
  * cached data, no single-task scan). label < 0 = right-censored at |label|. */
object Cox extends Objective {
  val name = "survival:cox"
  override def needsGlobalGradients: Boolean = true
  def gradient(m: Double, y: Double, out: Array[Double]): Unit =
    throw new UnsupportedOperationException(
      "survival:cox gradients are risk-set based; the trainer computes them via CoxGradients")
  override def predTransform(m: Double): Double = math.exp(m)
  override def baseScore(labelMean: Double): Double = 0.0
  override def validLabel(y: Double): Boolean = y != 0.0 && !y.isNaN
  override def defaultMetric = "cox-nloglik"
}

/** survival:aft (`src/objective/aft_obj.cu:32-70`, distributions
  * `src/common/probability_distribution.h:31-100`): accelerated failure
  * time with interval-censored labels [lower, upper] on the TIME scale;
  * margin predicts log-time. z = (ln t − m)/σ.
  *   uncensored (lo == hi):   L = −ln f(z_lo) (+ const),
  *     g = −(dln f/dz)·(dz/dm) = (dln f/dz)/σ evaluated with the sign
  *     dz/dm = −1/σ; h analytically per distribution.
  *   censored: L = −ln(F(z_hi) − F(z_lo)), right-censored ⇒ F(z_hi)=1.
  * Hessians are clamped ≥ 1e-6 like the reference (`aft_obj.cu` uses
  * clamped closed forms to keep Newton steps finite in the flat tails). */
final class AFT(dist: String, sigma: Double) extends Objective {
  val name = "survival:aft"
  override def usesIntervalLabels: Boolean = true

  // standard pdf f, cdf F and dln f/dz per error distribution
  @inline private def pdf(z: Double): Double = dist match {
    case "normal"   => math.exp(-0.5 * z * z) / math.sqrt(2 * math.Pi)
    case "logistic" => { val e = math.exp(-z); e / ((1 + e) * (1 + e)) }
    case "extreme"  => { val ez = math.exp(z); ez * math.exp(-ez) }
  }
  @inline private def cdf(z: Double): Double = dist match {
    case "normal"   => 0.5 * (1.0 + AFT.erf(z / math.sqrt(2.0)))
    case "logistic" => 1.0 / (1.0 + math.exp(-z))
    case "extreme"  => 1.0 - math.exp(-math.exp(z))
  }
  /** f'(z) (derivative of the pdf). */
  @inline private def dpdf(z: Double): Double = dist match {
    case "normal"   => -z * pdf(z)
    case "logistic" => pdf(z) * (1.0 - 2.0 / (1.0 + math.exp(-z)))
    case "extreme"  => pdf(z) * (1.0 - math.exp(z))
  }

  def gradient(m: Double, y: Double, out: Array[Double]): Unit =
    gradientInterval(m, y, y, out)

  override def gradientInterval(m: Double, lo: Double, hi: Double,
      out: Array[Double]): Unit = {
    val rightCensored = hi.isNaN || hi.isInfinite
    val zLo = (math.log(lo) - m) / sigma
    if (!rightCensored && hi == lo) {
      // uncensored: L = −ln f(z); g = −(dlnf)·dz/dm with dz/dm = −1/σ
      dist match {
        case "normal" =>
          out(0) = -zLo / sigma
          out(1) = 1.0 / (sigma * sigma)
        case "logistic" =>
          val s = cdf(zLo)
          out(0) = (1.0 - 2.0 * s) / sigma
          out(1) = math.max(2.0 * s * (1.0 - s) / (sigma * sigma), 1e-6)
        case "extreme" =>
          val ez = math.exp(zLo)
          out(0) = (1.0 - ez) / sigma
          out(1) = math.max(ez / (sigma * sigma), 1e-6)
      }
    } else {
      val fLo = pdf(zLo); val dfLo = dpdf(zLo); val cLo = cdf(zLo)
      val (fHi, dfHi, cHi) =
        if (rightCensored) (0.0, 0.0, 1.0)
        else { val z = (math.log(hi) - m) / sigma; (pdf(z), dpdf(z), cdf(z)) }
      val d = math.max(cHi - cLo, 1e-12)
      val n = fHi - fLo
      out(0) = n / (sigma * d)
      out(1) = math.max((n * n - d * (dfHi - dfLo)) / (sigma * sigma * d * d), 1e-6)
    }
  }

  override def predTransform(m: Double): Double = math.exp(m)
  override def probToMargin(p: Double): Double = math.log(math.max(p, 1e-16))
  override def validInterval(lo: Double, hi: Double): Boolean =
    lo > 0.0 && (hi.isNaN || hi >= lo)
  override def defaultMetric = "aft-nloglik"

  /** Row negative log-likelihood — the aft-nloglik metric kernel
    * (`src/metric/survival_metric.cu:250`): −ln f(z)/(σ·t) uncensored,
    * −ln(F(z_hi) − F(z_lo)) censored (right-censored ⇒ F(z_hi) = 1). */
  def nloglik(m: Double, lo: Double, hi: Double): Double = {
    val rightCensored = hi.isNaN || hi.isInfinite
    val zLo = (math.log(lo) - m) / sigma
    val like =
      if (!rightCensored && hi == lo) pdf(zLo) / (sigma * lo)
      else {
        val cHi = if (rightCensored) 1.0 else cdf((math.log(hi) - m) / sigma)
        cHi - cdf(zLo)
      }
    -math.log(math.max(like, 1e-12))
  }
}

object AFT {
  /** erf via Abramowitz–Stegun 7.1.26 (|err| < 1.5e-7) — enough for
    * gradient computation; no external math dependency. */
  def erf(x: Double): Double = {
    val s = if (x < 0) -1.0 else 1.0
    val a = math.abs(x)
    val t = 1.0 / (1.0 + 0.3275911 * a)
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t * math.exp(-a * a)
    s * y
  }
}

object SoftmaxObjective {
  /** Overwrites the margins `m` with their softmax (max-shifted) and
    * returns `m`. */
  def softmaxInPlace(m: Array[Double]): Array[Double] = {
    var mx = m(0); var k = 1
    while (k < m.length) { if (m(k) > mx) mx = m(k); k += 1 }
    var s = 0.0; k = 0
    while (k < m.length) { m(k) = math.exp(m(k) - mx); s += m(k); k += 1 }
    k = 0
    while (k < m.length) { m(k) /= s; k += 1 }
    m
  }
}

/** multi:softmax / multi:softprob (`src/objective/multiclass_obj.cu:234`):
  * per-class g_k = p_k − 1{y=k}, h_k = 2·p_k·(1−p_k). */
final class SoftmaxObjective(val numClass: Int, val outputProb: Boolean) extends Serializable {
  def name: String = if (outputProb) "multi:softprob" else "multi:softmax"
  /** writes per-class (g,h) into out (2*numClass, interleaved). */
  def gradient(margins: Array[Double], label: Double, out: Array[Double]): Unit = {
    var max = margins(0); var k = 1
    while (k < numClass) { if (margins(k) > max) max = margins(k); k += 1 }
    var sum = 0.0; k = 0
    while (k < numClass) { sum += math.exp(margins(k) - max); k += 1 }
    val y = label.toInt
    k = 0
    while (k < numClass) {
      val p = math.exp(margins(k) - max) / sum
      out(2 * k) = if (k == y) p - 1.0 else p
      out(2 * k + 1) = math.max(2.0 * p * (1.0 - p), 1e-16)
      k += 1
    }
  }
}
