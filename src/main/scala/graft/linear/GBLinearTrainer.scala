package graft.linear

import org.apache.spark.rdd.RDD

import graft.objective.Objective
import graft.tree.TrainingInput

import scala.util.Random

/** Linear-booster hyper-parameters (the reference's `LinearTrainParam`,
  * `src/linear/param.h:15-50`). `lambda`/`alpha` are normalized penalties:
  * they are denormalized by the total instance weight before use
  * (`src/gbm/gblinear.cc:133` `LazySumWeights` + `DenormalizePenalties`).
  */
final case class LinearParams(
    objective: String = "reg:squarederror",
    numRounds: Int = 10,
    eta: Double = 0.5,
    lambda: Double = 0.0, // L2, normalized
    alpha: Double = 0.0, // L1, normalized
    updater: String = "shotgun", // | "coord_descent"
    featureSelector: String = "cyclic", // | shuffle | random | greedy | thrifty
    topK: Int = 0, // 0 = all features (greedy/thrifty: rank cap)
    seed: Long = 0L,
    baseScore: Option[Double] = None
)

/** Trained elastic-net GLM: `margin(x) = base + bias + Σ_f w_f·x_f`
  * (the reference's gblinear model, `src/gbm/gblinear_model.h`). Missing
  * (NaN) features contribute 0, matching the sparse-DMatrix semantics of
  * the reference (absent entry = no term). */
final case class LinearModel(
    weights: Array[Double],
    bias: Double,
    baseScore: Double,
    objective: String,
    numFeatures: Int
) extends Serializable {
  def margin(x: Array[Double]): Double = {
    var m = baseScore + bias
    var f = 0
    val n = math.min(x.length, weights.length)
    while (f < n) {
      val v = x(f)
      if (v == v) m += weights(f) * v
      f += 1
    }
    m
  }
  def predict(x: Array[Double]): Double = Objective(objective).predTransform(margin(x))
}

/** Multiclass gblinear model (ref gblinear with `num_output_group` > 1 —
  * the updaters loop groups with per-group gradient pairs,
  * `updater_shotgun.cc:38-47`; flat model layout `weight[fid·K + gid]`
  * with per-group bias appended, `src/gbm/gblinear_model.h`): one weight
  * vector and bias per class, softmax output. */
final case class MultiLinearModel(
    weights: Array[Array[Double]], // K × numFeatures
    bias: Array[Double], // K
    baseScore: Array[Double], // K margins
    objective: String,
    numFeatures: Int
) extends Serializable {
  def numClass: Int = weights.length
  def margin(x: Array[Double]): Array[Double] = {
    val out = new Array[Double](weights.length)
    var k = 0
    while (k < weights.length) {
      var m = baseScore(k) + bias(k)
      val wk = weights(k)
      val n = math.min(x.length, wk.length)
      var f = 0
      while (f < n) { val v = x(f); if (v == v) m += wk(f) * v; f += 1 }
      out(k) = m
      k += 1
    }
    out
  }
  def softprob(x: Array[Double]): Array[Double] = MultiLinearModel.softmax(margin(x))
  def predictClass(x: Array[Double]): Int = {
    val m = margin(x)
    var best = 0
    var k = 1
    while (k < m.length) { if (m(k) > m(best)) best = k; k += 1 }
    best
  }
}

object MultiLinearModel {
  private[linear] def softmax(m: Array[Double]): Array[Double] = {
    var mx = m(0); var k = 1
    while (k < m.length) { if (m(k) > mx) mx = m(k); k += 1 }
    val out = new Array[Double](m.length)
    var s = 0.0
    k = 0
    while (k < m.length) { out(k) = math.exp(m(k) - mx); s += out(k); k += 1 }
    k = 0
    while (k < m.length) { out(k) /= s; k += 1 }
    out
  }
}

/** Distributed gblinear: elastic-net coordinate descent re-expressed as
  * Spark aggregations (ref `src/gbm/gblinear.cc:120-170` DoBoost,
  * `src/linear/updater_shotgun.cc:96`, `updater_coordinate.cc:100`).
  *
  * Per boosting round every statistic the reference's updaters need is a
  * partial+final sum — one `graft.Agg` job computes, for all features at
  * once: `Σ g·x_f`, `Σ h·x_f`, `Σ h·x_f²` (plus the bias sums `Σ g`,
  * `Σ h`). The margin is NEVER materialized as an RDD: a linear margin is
  * O(nnz) to recompute from the broadcast weight vector, so each pass
  * rebuilds it on the fly — no cache to keep consistent, nothing shuffles,
  * and the driver state is O(numFeatures).
  *
  *  - `shotgun` (parallel CD): all features updated from one pass's sums;
  *    the bias delta is folded into each feature's gradient analytically
  *    (`Σ g'·x = Σ g·x + Δbias·Σ h·x`), making our round a clean Jacobi
  *    step where the reference's shared-memory version races (`:96` "in
  *    parallel, without any locking").
  *  - `coord_descent`: textbook sequential CD — one aggregation per
  *    selected feature with exact intermediate margins (ref
  *    `updater_coordinate.cc:100`); pick it for few features / exact path.
  *
  * Feature selectors (`src/linear/param.h:15-50`): cyclic, shuffle,
  * random, greedy (top-k by univariate delta magnitude, re-ranked each
  * round), thrifty (pre-sorted once per round). */
final class GBLinearTrainer(val params: LinearParams) {

  require(Set("shotgun", "coord_descent")(params.updater),
    s"unknown gblinear updater: ${params.updater}")
  require(Set("cyclic", "shuffle", "random", "greedy", "thrifty")(params.featureSelector),
    s"unknown feature_selector: ${params.featureSelector}")

  /** CoordinateDelta (ref `src/linear/coordinate_common.h:45-63`): closed
    * -form elastic-net update for one coordinate given sums at the current
    * margin; `lambdaD`/`alphaD` are already denormalized. */
  private[linear] def coordinateDelta(sumGrad: Double, sumHess: Double, w: Double,
      alphaD: Double, lambdaD: Double): Double = {
    if (sumHess < 1e-5) return 0.0
    val sumGradL2 = sumGrad + lambdaD * w
    val sumHessL2 = sumHess + lambdaD
    val tmp = w - sumGradL2 / sumHessL2
    if (tmp >= 0) math.max(-(sumGradL2 + alphaD) / sumHessL2, -w)
    else math.min(-(sumGradL2 - alphaD) / sumHessL2, -w)
  }

  /** Bias step (ref `coordinate_common.h:70-77`): unregularized. */
  private[linear] def biasDelta(sumGrad: Double, sumHess: Double): Double =
    if (sumHess < 1e-5) 0.0 else -sumGrad / sumHess

  /** One-partition inputs fold in-driver — see the localRows note in
    * [[fit]] for why this is bit-identical to the cluster path. Returns
    * null when the distributed path must run. Gated by estimated BYTES,
    * not rows: the probe pass tracks the widest feature vector alongside
    * the row count, and a 1-partition input only collects when
    * `rows × (nf·8 + 48)` (array payload + per-row tuple/array-header
    * overhead) fits in a 256 MB driver slice — a 1M-row × 1k-feature
    * single-partition RDD is ~8 GB and must stay on the cluster path
    * even though its row count alone looks collectable. */
  private[graft] def localFold(
      cached: RDD[(Array[Double], Double, Double)]): Array[(Array[Double], Double, Double)] =
    if (cached.getNumPartitions == 1) {
      val (rows, maxNf) = cached.mapPartitions({ it =>
        var n = 0L; var nf = 0
        while (n <= 1000000 && it.hasNext) {
          val x = it.next()._1; if (x.length > nf) nf = x.length; n += 1
        }
        Iterator((n, nf))
      }, preservesPartitioning = true).first()
      val estBytes = rows * (8L * maxNf + 48L)
      if (rows <= 1000000 && estBytes <= (256L << 20)) cached.collect() else null
    } else null

  /** Every round reads the rows: they are read from a persisted copy this
    * trainer owns, or from the caller's own cache. */
  def fit(data: RDD[(Array[Double], Double, Double)]): LinearModel = {
    val obj = Objective(params.objective)
    require(!obj.needsGlobalGradients && !obj.usesIntervalLabels,
      s"gblinear does not support ${params.objective}")
    TrainingInput.withRereadable(data, everyRound = true)(fitCached(obj, _))
  }

  private def fitCached(obj: Objective, cached: RDD[(Array[Double], Double, Double)]): LinearModel = {
    val sc = cached.sparkContext

    // numFeatures + Σ instance weight + weighted label mean, one pass
    // (ref LazySumWeights `gblinear.cc:133`, FitStump intercept)
    val (nf, sumW, sumWY) = graft.Agg.aggregate(cached)((0, 0.0, 0.0))(
      seqOp = { case ((f, sw, swy), (x, y, w)) =>
        (math.max(f, x.length), sw + w, swy + w * y) },
      combOp = { case ((f1, s1, y1), (f2, s2, y2)) =>
        (math.max(f1, f2), s1 + s2, y1 + y2) })
    val base = params.baseScore.getOrElse(obj.baseScore(sumWY / math.max(sumW, 1e-16)))
    val lambdaD = params.lambda * sumW
    val alphaD = params.alpha * sumW

    val weights = new Array[Double](nf)
    var bias = 0.0
    val rng = new Random(params.seed)

    // Local fast path for ONE-PARTITION inputs (golden-digest fixtures,
    // driver-distilled samples): sequential coordinate descent costs one
    // cluster pass per (round × selected feature) — ~325 scheduler
    // round-trips for a 64-bucket 5-round fit, ~20 ms each, all to fold a
    // few thousand rows that already sit in a single task. For a
    // one-partition RDD the in-driver fold is BIT-IDENTICAL to the
    // distributed answer: graft.Agg folds that partition with the
    // same seqOp in the same row order, and the single partial IS the
    // result (no zero-merge), so the pinned t_hash_* digests cannot move.
    // Multi-partition data always takes the cluster path — the
    // cross-partition combine order would otherwise change the FP sums.
    val localRows: Array[(Array[Double], Double, Double)] = localFold(cached)

    def sumAgg(zero: Array[Double])(
        seq: (Array[Double], (Array[Double], Double, Double)) => Array[Double]): Array[Double] =
      if (localRows != null) {
        var a = zero; var i = 0
        while (i < localRows.length) { a = seq(a, localRows(i)); i += 1 }
        a
      } else graft.Agg.aggregate(cached)(zero)(seq,
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })

    // one aggregation: per-feature [Σg·x, Σh·x, Σh·x²] + bias [Σg, Σh]
    def fullSums(): (Array[Double], Double, Double) = {
      val snap = (weights.clone(), bias)
      val bw = if (localRows != null) null else sc.broadcast(snap)
      // ship weights EITHER via broadcast (cluster) or direct capture
      // (local) — never both (a captured snapshot would ride every task)
      val snapCap = if (bw == null) snap else null
      val zero = new Array[Double](3 * nf + 2)
      val acc = sumAgg(zero)(
        { case (a, (x, y, w)) =>
          val (ws, b) = if (bw == null) snapCap else bw.value
          var m = base + b
          var f = 0
          val n = math.min(x.length, nf)
          while (f < n) { val v = x(f); if (v == v) m += ws(f) * v; f += 1 }
          val out = new Array[Double](2)
          obj.gradient(m, y, out)
          val g = w * out(0); val h = w * out(1)
          f = 0
          while (f < n) {
            val v = x(f)
            if (v == v && v != 0.0) {
              a(3 * f) += g * v; a(3 * f + 1) += h * v; a(3 * f + 2) += h * v * v
            }
            f += 1
          }
          a(3 * nf) += g; a(3 * nf + 1) += h
          a
        })
      if (bw != null) bw.destroy()
      (acc, acc(3 * nf), acc(3 * nf + 1))
    }

    // single-feature [Σg·x, Σh·x²] at exact current margins (coord_descent)
    def featureSums(feat: Int): (Double, Double) = {
      val snap = (weights.clone(), bias)
      val bw = if (localRows != null) null else sc.broadcast(snap)
      val snapCap = if (bw == null) snap else null
      val acc = sumAgg(new Array[Double](2))(
        { case (a, (x, y, w)) =>
          if (feat < x.length) {
            val v = x(feat)
            if (v == v && v != 0.0) {
              val (ws, b) = if (bw == null) snapCap else bw.value
              var m = base + b
              var f = 0
              val n = math.min(x.length, nf)
              while (f < n) { val u = x(f); if (u == u) m += ws(f) * u; f += 1 }
              val out = new Array[Double](2)
              obj.gradient(m, y, out)
              a(0) += w * out(0) * v; a(1) += w * out(1) * v * v
            }
          }
          a
        })
      if (bw != null) bw.destroy()
      (acc(0), acc(1))
    }

    def biasSums(): (Double, Double) = {
      val snap = (weights.clone(), bias)
      val bw = if (localRows != null) null else sc.broadcast(snap)
      val snapCap = if (bw == null) snap else null
      val acc = sumAgg(new Array[Double](2))(
        { case (a, (x, y, w)) =>
          val (ws, b) = if (bw == null) snapCap else bw.value
          var m = base + b
          var f = 0
          val n = math.min(x.length, nf)
          while (f < n) { val v = x(f); if (v == v) m += ws(f) * v; f += 1 }
          val out = new Array[Double](2)
          obj.gradient(m, y, out)
          a(0) += w * out(0); a(1) += w * out(1); a
        })
      if (bw != null) bw.destroy()
      (acc(0), acc(1))
    }

    val allFeatures = (0 until nf).toArray
    var round = 0
    while (round < params.numRounds) {
      if (params.updater == "shotgun") {
        val (acc, sumG, sumH) = fullSums()
        val db = params.eta * biasDelta(sumG, sumH)
        bias += db
        // selector over univariate deltas computed with bias-corrected grads
        val delta = new Array[Double](nf)
        var f = 0
        while (f < nf) {
          val sg = acc(3 * f) + db * acc(3 * f + 1) // Σg'·x = Σg·x + Δb·Σh·x
          delta(f) = coordinateDelta(sg, acc(3 * f + 2), weights(f), alphaD, lambdaD)
          f += 1
        }
        selectFeatures(delta, rng).foreach { f =>
          weights(f) += params.eta * delta(f)
        }
      } else { // coord_descent: exact sequential CD
        val (sumG, sumH) = biasSums()
        bias += params.eta * biasDelta(sumG, sumH)
        val order: Array[Int] = params.featureSelector match {
          case "cyclic" => allFeatures
          case "shuffle" => rng.shuffle(allFeatures.toSeq).toArray
          case "random" =>
            val k = if (params.topK > 0) params.topK else nf
            Array.fill(k)(rng.nextInt(nf))
          case _ => // greedy/thrifty: rank by univariate delta from one full pass
            val (acc, _, _) = fullSums()
            val d = allFeatures.map(f =>
              f -> math.abs(coordinateDelta(acc(3 * f), acc(3 * f + 2), weights(f), alphaD, lambdaD)))
            val sorted = d.sortBy(-_._2).map(_._1)
            if (params.topK > 0) sorted.take(params.topK) else sorted
        }
        val capped = if (params.topK > 0 && (params.featureSelector == "cyclic" || params.featureSelector == "shuffle"))
          order.take(params.topK) else order
        capped.foreach { f =>
          val (sg, shh) = featureSums(f)
          weights(f) += params.eta * coordinateDelta(sg, shh, weights(f), alphaD, lambdaD)
        }
      }
      round += 1
    }
    LinearModel(weights, bias, base, params.objective, nf)
  }

  /** Multiclass (softmax) gblinear: labels are class indices 0..K−1, one
    * weight vector + bias per class (ref gblinear `num_output_group` > 1,
    * `updater_shotgun.cc:38-47` — the updaters loop groups with per-group
    * gradient pairs; our lanes ARE those groups). Softmax gradients match
    * the tree path's `SoftmaxObjective`: g_k = p_k − 1{y=k},
    * h_k = max(2·p_k(1−p_k), ε). One aggregation per shotgun round
    * computes, for every (feature, class), `[Σg·x, Σh·x, Σh·x²]` plus the
    * per-class bias sums — driver state O(numFeatures·K). Selectors rank
    * features by the max |delta| across classes and apply ALL class lanes
    * of a selected feature (the reference updates every group per chosen
    * feature). Base margins start at 0 per class, like the tree softmax
    * path. */
  def fitMulti(data: RDD[(Array[Double], Double, Double)], numClass: Int): MultiLinearModel = {
    require(numClass >= 2, "fitMulti needs numClass >= 2")
    TrainingInput.withRereadable(data, everyRound = true)(fitMultiCached(_, numClass))
  }

  private def fitMultiCached(cached: RDD[(Array[Double], Double, Double)],
      numClass: Int): MultiLinearModel = {
    val sc = cached.sparkContext
    val K = numClass

    val (nf, sumW, badLabels) = graft.Agg.aggregate(cached)((0, 0.0, 0L))(
      seqOp = { case ((f, sw, bad), (x, y, w)) =>
        val ok = y == math.floor(y) && y >= 0 && y < K
        (math.max(f, x.length), sw + w, bad + (if (ok) 0L else 1L)) },
      combOp = { case ((f1, s1, b1), (f2, s2, b2)) =>
        (math.max(f1, f2), s1 + s2, b1 + b2) })
    require(badLabels == 0, s"$badLabels label(s) outside [0, $K) for multiclass gblinear")
    val lambdaD = params.lambda * sumW
    val alphaD = params.alpha * sumW

    val weights = Array.fill(K)(new Array[Double](nf))
    val bias = new Array[Double](K)
    val rng = new Random(params.seed)

    // per-row softmax gradient lanes at the broadcast weights
    def gh(x: Array[Double], y: Double, w: Double,
        ws: Array[Array[Double]], bs: Array[Double], g: Array[Double],
        h: Array[Double]): Unit = {
      val m = new Array[Double](K)
      var k = 0
      while (k < K) {
        var mm = bs(k)
        val wk = ws(k)
        val n = math.min(x.length, nf)
        var f = 0
        while (f < n) { val v = x(f); if (v == v) mm += wk(f) * v; f += 1 }
        m(k) = mm
        k += 1
      }
      val p = MultiLinearModel.softmax(m)
      val yi = y.toInt
      k = 0
      while (k < K) {
        g(k) = w * (p(k) - (if (k == yi) 1.0 else 0.0))
        h(k) = w * math.max(2.0 * p(k) * (1.0 - p(k)), 1e-16)
        k += 1
      }
    }

    // same one-partition local fast path as [[fit]] (bit-identical)
    val localRows: Array[(Array[Double], Double, Double)] = localFold(cached)

    def sumAgg(zero: Array[Double])(
        seq: (Array[Double], (Array[Double], Double, Double)) => Array[Double]): Array[Double] =
      if (localRows != null) {
        var a = zero; var i = 0
        while (i < localRows.length) { a = seq(a, localRows(i)); i += 1 }
        a
      } else graft.Agg.aggregate(cached)(zero)(seq,
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })

    // layout: feature f, class k → a((f·K + k)·3 + {0,1,2}); bias sums at
    // 3·nf·K + 2k
    def fullSums(): Array[Double] = {
      val snap = (weights.map(_.clone()), bias.clone())
      val bw = if (localRows != null) null else sc.broadcast(snap)
      val snapCap = if (bw == null) snap else null
      val acc = sumAgg(new Array[Double](3 * nf * K + 2 * K))(
        { case (a, (x, y, w)) =>
          val (ws, bs) = if (bw == null) snapCap else bw.value
          val g = new Array[Double](K)
          val h = new Array[Double](K)
          gh(x, y, w, ws, bs, g, h)
          val n = math.min(x.length, nf)
          var f = 0
          while (f < n) {
            val v = x(f)
            if (v == v && v != 0.0) {
              var k = 0
              while (k < K) {
                val off = (f * K + k) * 3
                a(off) += g(k) * v; a(off + 1) += h(k) * v; a(off + 2) += h(k) * v * v
                k += 1
              }
            }
            f += 1
          }
          var k = 0
          while (k < K) { a(3 * nf * K + 2 * k) += g(k); a(3 * nf * K + 2 * k + 1) += h(k); k += 1 }
          a
        })
      if (bw != null) bw.destroy()
      acc
    }

    // one feature at exact current margins: [Σg_k·x, Σh_k·x²] per class
    def featureSums(feat: Int): Array[Double] = {
      val snap = (weights.map(_.clone()), bias.clone())
      val bw = if (localRows != null) null else sc.broadcast(snap)
      val snapCap = if (bw == null) snap else null
      val acc = sumAgg(new Array[Double](2 * K))(
        { case (a, (x, y, w)) =>
          if (feat < x.length) {
            val v = x(feat)
            if (v == v && v != 0.0) {
              val (ws, bs) = if (bw == null) snapCap else bw.value
              val g = new Array[Double](K)
              val h = new Array[Double](K)
              gh(x, y, w, ws, bs, g, h)
              var k = 0
              while (k < K) { a(2 * k) += g(k) * v; a(2 * k + 1) += h(k) * v * v; k += 1 }
            }
          }
          a
        })
      if (bw != null) bw.destroy()
      acc
    }

    def biasSums(): Array[Double] = {
      val snap = (weights.map(_.clone()), bias.clone())
      val bw = if (localRows != null) null else sc.broadcast(snap)
      val snapCap = if (bw == null) snap else null
      val acc = sumAgg(new Array[Double](2 * K))(
        { case (a, (x, y, w)) =>
          val (ws, bs) = if (bw == null) snapCap else bw.value
          val g = new Array[Double](K)
          val h = new Array[Double](K)
          gh(x, y, w, ws, bs, g, h)
          var k = 0
          while (k < K) { a(2 * k) += g(k); a(2 * k + 1) += h(k); k += 1 }
          a
        })
      if (bw != null) bw.destroy()
      acc
    }

    val allFeatures = (0 until nf).toArray
    var round = 0
    while (round < params.numRounds) {
      if (params.updater == "shotgun") {
        val acc = fullSums()
        val db = new Array[Double](K)
        var k = 0
        while (k < K) {
          db(k) = params.eta * biasDelta(acc(3 * nf * K + 2 * k), acc(3 * nf * K + 2 * k + 1))
          bias(k) += db(k)
          k += 1
        }
        // per-(feature, class) deltas with the per-class bias correction
        // Σg'·x = Σg·x + Δb_k·Σh·x, selector ranked by max |delta| over k
        val delta = Array.ofDim[Double](nf, K)
        val rank = new Array[Double](nf)
        var f = 0
        while (f < nf) {
          k = 0
          while (k < K) {
            val off = (f * K + k) * 3
            val sg = acc(off) + db(k) * acc(off + 1)
            delta(f)(k) = coordinateDelta(sg, acc(off + 2), weights(k)(f), alphaD, lambdaD)
            rank(f) = math.max(rank(f), math.abs(delta(f)(k)))
            k += 1
          }
          f += 1
        }
        selectFeatures(rank, rng).foreach { ff =>
          k = 0
          while (k < K) { weights(k)(ff) += params.eta * delta(ff)(k); k += 1 }
        }
      } else { // coord_descent: exact sequential CD over features
        val bAcc = biasSums()
        var k = 0
        while (k < K) { bias(k) += params.eta * biasDelta(bAcc(2 * k), bAcc(2 * k + 1)); k += 1 }
        val order: Array[Int] = params.featureSelector match {
          case "cyclic" => allFeatures
          case "shuffle" => rng.shuffle(allFeatures.toSeq).toArray
          case "random" =>
            val kk = if (params.topK > 0) params.topK else nf
            Array.fill(kk)(rng.nextInt(nf))
          case _ =>
            val acc = fullSums()
            val d = allFeatures.map { f =>
              var best = 0.0
              var c = 0
              while (c < K) {
                val off = (f * K + c) * 3
                best = math.max(best,
                  math.abs(coordinateDelta(acc(off), acc(off + 2), weights(c)(f), alphaD, lambdaD)))
                c += 1
              }
              f -> best
            }
            val sorted = d.sortBy(-_._2).map(_._1)
            if (params.topK > 0) sorted.take(params.topK) else sorted
        }
        val capped = if (params.topK > 0 && (params.featureSelector == "cyclic" || params.featureSelector == "shuffle"))
          order.take(params.topK) else order
        capped.foreach { ff =>
          val acc = featureSums(ff)
          k = 0
          while (k < K) {
            weights(k)(ff) += params.eta *
              coordinateDelta(acc(2 * k), acc(2 * k + 1), weights(k)(ff), alphaD, lambdaD)
            k += 1
          }
        }
      }
      round += 1
    }
    MultiLinearModel(weights, bias, new Array[Double](K),
      if (params.objective.startsWith("multi:")) params.objective else "multi:softprob", nf)
  }

  /** Which features to apply this round's shotgun deltas to. */
  private def selectFeatures(delta: Array[Double], rng: Random): Array[Int] = {
    val nf = delta.length
    val all = (0 until nf).toArray
    params.featureSelector match {
      case "cyclic" => all
      case "shuffle" => rng.shuffle(all.toSeq).toArray
      case "random" =>
        val k = if (params.topK > 0) params.topK else nf
        Array.fill(k)(rng.nextInt(nf)).distinct
      case "greedy" | "thrifty" =>
        val ranked = all.sortBy(f => -math.abs(delta(f)))
        if (params.topK > 0) ranked.take(params.topK) else ranked
    }
  }
}
