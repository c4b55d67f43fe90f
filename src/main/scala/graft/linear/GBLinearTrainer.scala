package graft.linear

import org.apache.spark.rdd.RDD

import graft.objective.{Objective, SoftmaxObjective}
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
  def softprob(x: Array[Double]): Array[Double] = SoftmaxObjective.softmaxInPlace(margin(x))
  def predictClass(x: Array[Double]): Int = {
    val m = margin(x)
    var best = 0
    var k = 1
    while (k < m.length) { if (m(k) > m(best)) best = k; k += 1 }
    best
  }
}

/** Distributed gblinear: elastic-net coordinate descent re-expressed as
  * Spark aggregations (ref `src/gbm/gblinear.cc:120-170` DoBoost,
  * `src/linear/updater_shotgun.cc:96`, `updater_coordinate.cc:100`).
  *
  * One body trains K output lanes: K = 1 for a scalar objective ([[fit]]),
  * one lane per class for softmax ([[fitMulti]]) — the reference's
  * updaters likewise loop output groups with per-group gradient pairs
  * (`updater_shotgun.cc:38-47`). Per boosting round every statistic the
  * updaters need is a partial+final sum — one `graft.Agg` job computes,
  * for every (feature, lane) at once: `Σ g·x_f`, `Σ h·x_f`, `Σ h·x_f²`
  * (plus the per-lane bias sums `Σ g`, `Σ h`). The margin is NEVER
  * materialized as an RDD: a linear margin is O(nnz) to recompute from the
  * broadcast weights, so each pass rebuilds it on the fly — no cache to
  * keep consistent, nothing shuffles, and the driver state is
  * O(numFeatures·K).
  *
  *  - `shotgun` (parallel CD): all features updated from one pass's sums;
  *    each lane's bias delta is folded into its feature gradients
  *    analytically (`Σ g'·x = Σ g·x + Δbias·Σ h·x`), making our round a
  *    clean Jacobi step where the reference's shared-memory version races
  *    (`:96` "in parallel, without any locking").
  *  - `coord_descent`: textbook sequential CD — one aggregation per
  *    selected feature with exact intermediate margins (ref
  *    `updater_coordinate.cc:100`); pick it for few features / exact path.
  *
  * Feature selectors (`src/linear/param.h:15-50`): cyclic, shuffle,
  * random, greedy (top-k by univariate delta magnitude, re-ranked each
  * round), thrifty (pre-sorted once per round). A feature's rank is its
  * max |delta| over lanes, and a selected feature updates every lane (the
  * reference updates every group per chosen feature). */
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
    * [[fitLanes]] for why this is bit-identical to the cluster path.
    * Returns null when the distributed path must run. Gated by estimated
    * BYTES, not rows: the probe pass tracks the widest feature vector
    * alongside the row count, and a 1-partition input only collects when
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
    val m = TrainingInput.withRereadable(data, everyRound = true)(fitLanes(_, 1,
      (margin, y, gh) => obj.gradient(margin(0), y, gh), _ => false,
      mean => Array(params.baseScore.getOrElse(obj.baseScore(mean)))))
    LinearModel(m.weights(0), m.bias(0), m.baseScore(0), params.objective, m.numFeatures)
  }

  /** Multiclass (softmax) gblinear: labels are class indices 0..K−1, one
    * weight vector + bias per class (ref gblinear `num_output_group` > 1;
    * our lanes ARE those groups). The lane gradients are the tree path's
    * [[SoftmaxObjective]]: g_k = p_k − 1{y=k}, h_k = max(2·p_k(1−p_k), ε).
    * Base margins start at 0 per class, like the tree softmax path. */
  def fitMulti(data: RDD[(Array[Double], Double, Double)], numClass: Int): MultiLinearModel = {
    require(numClass >= 2, "fitMulti needs numClass >= 2")
    val softmax = new SoftmaxObjective(numClass, outputProb = true)
    TrainingInput.withRereadable(data, everyRound = true)(fitLanes(_, numClass,
      softmax.gradient, y => !(y == math.floor(y) && y >= 0 && y < numClass),
      _ => new Array[Double](numClass)))
      .copy(objective = if (params.objective.startsWith("multi:")) params.objective
        else "multi:softprob")
  }

  /** The K-lane body of [[fit]] and [[fitMulti]]. `grad` writes a row's
    * unweighted (g, h) for every lane, interleaved at (2k, 2k+1), from its
    * K margins; `badLabel` flags a label outside the lanes; `baseOf` maps
    * the weighted label mean to the per-lane base margins. */
  private def fitLanes(cached: RDD[(Array[Double], Double, Double)], K: Int,
      grad: (Array[Double], Double, Array[Double]) => Unit, badLabel: Double => Boolean,
      baseOf: Double => Array[Double]): MultiLinearModel = {
    val sc = cached.sparkContext

    // numFeatures + Σ instance weight + weighted label sum + bad labels,
    // one pass (ref LazySumWeights `gblinear.cc:133`, FitStump intercept)
    val (nf, sumW, sumWY, badLabels) = graft.Agg.aggregate(cached)((0, 0.0, 0.0, 0L))(
      seqOp = { case ((f, sw, swy, bad), (x, y, w)) =>
        (math.max(f, x.length), sw + w, swy + w * y, if (badLabel(y)) bad + 1 else bad) },
      combOp = { case ((f1, s1, y1, b1), (f2, s2, y2, b2)) =>
        (math.max(f1, f2), s1 + s2, y1 + y2, b1 + b2) })
    require(badLabels == 0, s"$badLabels label(s) outside [0, $K) for multiclass gblinear")
    val base = baseOf(sumWY / math.max(sumW, 1e-16))
    val lambdaD = params.lambda * sumW
    val alphaD = params.alpha * sumW

    val weights = Array.fill(K)(new Array[Double](nf))
    val bias = new Array[Double](K)
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

    // a row's weighted (g, h) lanes at the snapshot weights (ws, bs)
    def rowGrad(x: Array[Double], y: Double, w: Double, ws: Array[Array[Double]],
        bs: Array[Double], gh: Array[Double]): Unit = {
      val m = new Array[Double](K)
      val n = math.min(x.length, nf)
      var k = 0
      while (k < K) {
        var mk = base(k) + bs(k)
        val wk = ws(k)
        var f = 0
        while (f < n) { val v = x(f); if (v == v) mk += wk(f) * v; f += 1 }
        m(k) = mk
        k += 1
      }
      grad(m, y, gh)
      k = 0
      while (k < 2 * K) { gh(k) = w * gh(k); k += 1 }
    }

    // One pass at the current weights. feat < 0: every feature, feature f
    // and lane k at a((f·K + k)·3 + {0,1,2}) = [Σg·x, Σh·x, Σh·x²], the
    // bias sums [Σg, Σh] at 3·nf·K + 2k. feat ≥ 0: that feature alone at
    // exact current margins, [Σg·x, Σh·x²] at 2k (coord_descent).
    def sums(feat: Int): Array[Double] = {
      val snap = (weights.map(_.clone()), bias.clone())
      val bw = if (localRows != null) null else sc.broadcast(snap)
      // ship weights EITHER via broadcast (cluster) or direct capture
      // (local) — never both (a captured snapshot would ride every task)
      val snapCap = if (bw == null) snap else null
      val full = feat < 0
      val acc = sumAgg(new Array[Double](if (full) 3 * nf * K + 2 * K else 2 * K))(
        { case (a, (x, y, w)) =>
          val u = if (full || feat >= x.length) 0.0 else x(feat)
          if (full || (u == u && u != 0.0)) {
            val (ws, bs) = if (bw == null) snapCap else bw.value
            val gh = new Array[Double](2 * K)
            rowGrad(x, y, w, ws, bs, gh)
            var k = 0
            if (full) {
              val n = math.min(x.length, nf)
              var f = 0
              while (f < n) {
                val v = x(f)
                if (v == v && v != 0.0) {
                  k = 0
                  while (k < K) {
                    val off = (f * K + k) * 3
                    val g = gh(2 * k); val h = gh(2 * k + 1)
                    a(off) += g * v; a(off + 1) += h * v; a(off + 2) += h * v * v
                    k += 1
                  }
                }
                f += 1
              }
              k = 0
              while (k < 2 * K) { a(3 * nf * K + k) += gh(k); k += 1 }
            } else
              while (k < K) {
                a(2 * k) += gh(2 * k) * u; a(2 * k + 1) += gh(2 * k + 1) * u * u
                k += 1
              }
          }
          a
        })
      if (bw != null) bw.destroy()
      acc
    }

    // per-(feature, lane) deltas from a full pass; a lane's bias step db(k),
    // when given, folds in as Σg'·x = Σg·x + Δb_k·Σh·x. rank(f) is the max
    // |delta| over lanes, the selectors' key.
    def deltas(acc: Array[Double], db: Array[Double]): (Array[Array[Double]], Array[Double]) = {
      val delta = Array.ofDim[Double](nf, K)
      val rank = new Array[Double](nf)
      var f = 0
      while (f < nf) {
        var k = 0
        while (k < K) {
          val off = (f * K + k) * 3
          val sg = if (db == null) acc(off) else acc(off) + db(k) * acc(off + 1)
          delta(f)(k) = coordinateDelta(sg, acc(off + 2), weights(k)(f), alphaD, lambdaD)
          rank(f) = math.max(rank(f), math.abs(delta(f)(k)))
          k += 1
        }
        f += 1
      }
      (delta, rank)
    }

    var round = 0
    while (round < params.numRounds) {
      val acc = sums(-1) // coord_descent reads only its bias sums
      val db = Array.tabulate(K)(k =>
        params.eta * biasDelta(acc(3 * nf * K + 2 * k), acc(3 * nf * K + 2 * k + 1)))
      var k = 0
      while (k < K) { bias(k) += db(k); k += 1 }
      if (params.updater == "shotgun") {
        val (delta, rank) = deltas(acc, db)
        selectFeatures(nf, rng, sequential = false)(rank).foreach { f =>
          k = 0
          while (k < K) { weights(k)(f) += params.eta * delta(f)(k); k += 1 }
        }
      } else // coord_descent: exact sequential CD; greedy/thrifty rank from one more pass
        selectFeatures(nf, rng, sequential = true)(deltas(sums(-1), null)._2).foreach { f =>
          val fs = sums(f)
          k = 0
          while (k < K) {
            weights(k)(f) += params.eta *
              coordinateDelta(fs(2 * k), fs(2 * k + 1), weights(k)(f), alphaD, lambdaD)
            k += 1
          }
        }
      round += 1
    }
    MultiLinearModel(weights, bias, base, params.objective, nf)
  }

  /** The features one round updates, in order. Shotgun applies each at
    * most once; `sequential` (coord_descent) caps cyclic and shuffle at
    * `topK` too and may revisit a random draw. `rank` (max |delta| per
    * feature) is read only by greedy and thrifty. */
  private def selectFeatures(nf: Int, rng: Random, sequential: Boolean)(
      rank: => Array[Double]): Array[Int] = {
    val all = (0 until nf).toArray
    def cap(order: Array[Int]) =
      if (sequential && params.topK > 0) order.take(params.topK) else order
    params.featureSelector match {
      case "cyclic" => cap(all)
      case "shuffle" => cap(rng.shuffle(all.toSeq).toArray)
      case "random" =>
        val draws = Array.fill(if (params.topK > 0) params.topK else nf)(rng.nextInt(nf))
        if (sequential) draws else draws.distinct
      case _ => // greedy | thrifty
        val r = rank
        val ranked = all.sortBy(f => -r(f))
        if (params.topK > 0) ranked.take(params.topK) else ranked
    }
  }
}
