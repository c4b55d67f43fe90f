package graft.tree

import org.apache.spark.rdd.RDD

import graft.data.{Binning, HistogramCuts}
import graft.model.{BoosterModel, Node, Tree}

import scala.collection.mutable.ArrayBuffer

/** Multi-target tree growth — ONE tree per round with VECTOR leaves (the
  * reference's `multi_strategy=multi_output_tree`:
  * `src/tree/hist/histogram.h:315-425` `MultiHistogramBuilder`,
  * `evaluate_splits.h:609` `HistMultiEvaluator`, model
  * `src/tree/multi_target_tree_model.cc`), instead of one tree per class.
  *
  * Distribution shape: ONE cached `RDD[((bins, labels, weight), margins)]`
  * (margins packed with the row — no cross-generation zip, one block per
  * partition); each tree level runs ONE `graft.Agg` job whose partial is
  * `frontier × totalBins × 2K` doubles (the per-target lanes of the
  * single-target layout), with the `2K` gradient vector recomputed inline
  * from the packed margin for frontier rows. Split gain sums the per-target gains over a
  * shared split point (`HistMultiEvaluator` semantics); leaves carry one
  * weight per target. Rows are never repartitioned — node position is
  * recomputed from the broadcast tree shape, like the single-target path.
  *
  * Objectives ([[graft.objective.MultiObjective]]): ANY elementwise scalar
  * objective lifted per lane over vector labels
  * ([[graft.objective.ElementwiseMultiObjective]] — squarederror,
  * logistic, poisson, gamma, tweedie, hinge, pseudohuber, expectile, …),
  * `multi:softmax`/`multi:softprob` with class-index labels, vector-alpha
  * `reg:quantileerror`, or a user-supplied custom MultiObjective.
  * Categorical splits, monotone and interaction constraints are
  * single-target-path features (the reference's multi-target updater is
  * similarly restricted).
  */
final class MultiTargetTrainer(params: TrainParams, numTargets: Int,
    customObj: Option[graft.objective.MultiObjective] = None) extends Serializable {
  require(numTargets >= 2, "use GBTTrainer for single-target models")
  TrainingInput.requireTreeLimits(params)

  import graft.objective.{ElementwiseMultiObjective, MultiObjective, MultiQuantileObjective, Objective, SoftmaxMultiObjective}

  private val mobj: MultiObjective = customObj.getOrElse {
    params.objective match {
      case "multi:softprob" | "multi:softmax" => new SoftmaxMultiObjective(numTargets)
      case "reg:quantileerror" if params.quantileAlphas.length >= 2 =>
        new MultiQuantileObjective(params.quantileAlphas)
      case name =>
        new ElementwiseMultiObjective(Objective(name,
          maxDeltaStep = if (params.maxDeltaStep > 0) params.maxDeltaStep else 0.7,
          rho = params.tweedieVariancePower, delta = params.pseudoHuberSlope,
          scalePosWeight = params.scalePosWeight), numTargets)
    }
  }
  require(mobj.numTargets == numTargets,
    s"objective ${mobj.name} has ${mobj.numTargets} lanes but numTargets is $numTargets")

  /** data: (features, labels — K targets or a class index, weight). */
  def fit(data: RDD[(Array[Double], Array[Double], Double)]): BoosterModel =
    // the plain quantile sketch: categorical splits are single-target features
    TrainingInput.prepare(params, data)(
      rows => Binning.findCuts(rows.map(r => (r._1, r._3)), 0, params.maxBin),
      (r, cuts, _) => (cuts.binRow(r._1), r._2, r._3)) { p =>
      Owned(owned => boost(p.binned, p.cuts, owned))
    }

  private def boost(binned: RDD[(Array[Int], Array[Double], Double)], cuts: HistogramCuts,
      owned: Owned): BoosterModel = {
    val sc = binned.sparkContext
    val K = numTargets
    val nf = cuts.numFeatures

    // base score per target: per-lane weighted label means through the
    // objective's link (ref FitStump per target; scalar-label objectives
    // share ys(0) across lanes). Only (ys, w) are read.
    val base: Array[Double] = {
      val scalarLab = mobj.scalarLabel
      val (sums, sw) = graft.Agg.aggregate(binned)((new Array[Double](K), 0.0))(
        { case ((s, c), (_, ys, w)) =>
          var k = 0
          while (k < K) { s(k) += w * ys(if (scalarLab) 0 else k); k += 1 }
          (s, c + w)
        },
        { case ((a, ca), (b, cb)) =>
          var k = 0
          while (k < K) { a(k) += b(k); k += 1 }
          (a, ca + cb)
        })
      mobj.baseScore(sums.map(_ / math.max(sw, 1e-16)))
    }

    // Margins PACKED with the binned row — same rework as GBTTrainer's
    // packed prediction cache (§ "The prediction cache is PACKED into the
    // row"): one RDD[((bins, ys, w), margins)] instead of `binned` plus a
    // separately-persisted margin RDD re-`zip`ped every iteration. No
    // cross-generation zip to mis-align, one cached block per partition
    // instead of two, and gradients are computed inline in the histogram
    // passes (frontier rows only) instead of a third persisted RDD. The
    // all-base first generation is a lazy map over the persisted binned
    // rows; the first flush persists its successor.
    var cache: RDD[((Array[Int], Array[Double], Double), Array[Double])] =
      binned.map(r => (r, base.clone()))

    // Deferred margin flush — the same rework as GBTTrainer's packed
    // cache (§ marginFlushInterval): committed-but-unflushed trees ride
    // the gradient passes as on-the-fly leaf adjustments, and the cache
    // advances once per `marginFlushInterval` trees (one count job per
    // flush instead of one per round — measured ~330 ms/round of pure
    // materialization at bench scale). Bit-identical by the same
    // argument: the adjusted margin adds pending trees' contributions in
    // commit order onto the stored margin, exactly the order the
    // per-round materialization accumulated them, so every gradient —
    // and therefore every split and leaf — is unchanged. The final
    // round's flush is skipped entirely (the model never reads the
    // cache again).
    val flushInterval = math.max(1, params.marginFlushInterval)
    val trees = new ArrayBuffer[Tree]
    val pending = new ArrayBuffer[MShape]
    var flushCount = 0
    var iter = 0
    while (iter < params.numRounds) {
      // NOT destroyed eagerly: the flush closure below rides the cache
      // lineage until the next localCheckpoint truncation, and growTree's
      // jobs may serialize that lineage — the ContextCleaner reclaims
      // these once the lineage is released
      val bPending = sc.broadcast(pending.toArray)
      val shape = growTree(cache, cuts, nf, K, bPending)
      trees += shapeToTree(shape, cuts, K)
      pending += shape

      if (pending.length >= flushInterval && iter + 1 < params.numRounds) {
        val bP = sc.broadcast(pending.toArray)
        val eta = params.eta
        val next = owned.persist(cache.map { case (r, m) =>
          val out = m.clone()
          val ps = bP.value
          var p = 0
          while (p < ps.length) {
            val leafW = ps(p).leafOf(r._1)
            var k = 0
            while (k < K) { out(k) += eta * leafW(k); k += 1 }
            p += 1
          }
          (r, out)
        })
        flushCount += 1
        // checkpoint cadence ≈ every checkpointInterval ITERATIONS, as
        // the per-round path had
        if (flushCount % math.max(1, params.checkpointInterval / flushInterval) == 0)
          next.localCheckpoint()
        next.count()
        owned.unpersist(cache)
        cache = next
        pending.clear()
      }
      iter += 1
    }
    BoosterModel(trees.toArray, Array.fill(trees.length)(params.eta),
      new Array[Int](trees.length), base, params.objective, K, nf)
  }

  /** Bin-space vector-leaf tree shape. */
  private[tree] final case class MShape(
      feature: Array[Int], splitBin: Array[Int], defaultLeft: Array[Boolean],
      left: Array[Int], right: Array[Int], leaf: Array[Array[Double]],
      sumHess: Array[Double], gain: Array[Double]) extends Serializable {
    def position(bins: Array[Int]): Int = {
      var i = 0
      while (feature(i) >= 0) {
        val b = bins(feature(i))
        i = if (b < 0) { if (defaultLeft(i)) left(i) else right(i) }
        else if (b <= splitBin(i)) left(i)
        else right(i)
      }
      i
    }
    def leafOf(bins: Array[Int]): Array[Double] = leaf(position(bins))
  }

  private final class MNode(val g: Array[Double], val h: Array[Double], val depth: Int) {
    var feature: Int = -1
    var splitBin: Int = -1
    var defaultLeft: Boolean = true
    var left: Int = -1
    var right: Int = -1
    var gain: Double = 0.0
    var weight: Array[Double] = _
    def hTotal: Double = { var s = 0.0; var k = 0; while (k < h.length) { s += h(k); k += 1 }; s }
  }

  private def growTree(cache: RDD[((Array[Int], Array[Double], Double), Array[Double])],
      cuts: HistogramCuts, nf: Int, K: Int,
      bPending: org.apache.spark.broadcast.Broadcast[Array[MShape]]): MShape = {
    val sc = cache.sparkContext
    val obj = mobj
    val totalBins = cuts.totalBins
    val nodes = new ArrayBuffer[MNode]
    val etaAdj = params.eta

    // stored margin + committed-but-unflushed trees' contributions in
    // commit order — bit-identical to the materialized accumulation
    @inline def adjMargin(bins: Array[Int], m: Array[Double]): Array[Double] = {
      val ps = bPending.value
      if (ps.isEmpty) m
      else {
        val out = m.clone()
        var p = 0
        while (p < ps.length) {
          val leafW = ps(p).leafOf(bins)
          var k = 0
          while (k < K) { out(k) += etaAdj * leafW(k); k += 1 }
          p += 1
        }
        out
      }
    }

    // root totals (per-row gradient computed inline at the cached margin)
    val rootTot = graft.Agg.aggregate(cache)(new Array[Double](2 * K))(
      { case (a, ((bins, ys, w), m)) =>
        val g = new Array[Double](2 * K)
        obj.gradient(ys, adjMargin(bins, m), w, g)
        var i = 0; while (i < a.length) { a(i) += g(i); i += 1 }; a
      },
      (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    nodes += new MNode(
      Array.tabulate(K)(k => rootTot(2 * k)),
      Array.tabulate(K)(k => rootTot(2 * k + 1)), 0)

    var frontier = Array(0)
    var depth = 0
    var leaves = 1
    while (frontier.nonEmpty && depth < params.maxDepth &&
        (params.maxLeaves == 0 || leaves < params.maxLeaves)) {
      val shape = partialShape(nodes)
      val bShape = sc.broadcast(shape)
      val bFrontier = sc.broadcast(frontier)
      val featOff = cuts.featureOffset // small driver array, ships in closure
      val lanes = 2 * K * totalBins
      // ONE aggregation for the whole frontier: [node][globalBin][target][g|h];
      // the 2K gradient is recomputed inline for frontier rows only — no
      // separately-persisted grads RDD, no zip
      val hist = graft.Agg.aggregate(cache)(new Array[Double](frontier.length * lanes))(
        seqOp = { case (a, ((bins, ys, w), m)) =>
          val pos = bShape.value.position(bins)
          val fi = java.util.Arrays.binarySearch(bFrontier.value, pos)
          if (fi >= 0) {
            val g = new Array[Double](2 * K)
            obj.gradient(ys, adjMargin(bins, m), w, g)
            val baseOff = fi * lanes
            var f = 0
            while (f < nf) {
              val b = bins(f)
              if (b >= 0) {
                val off = baseOff + (featOff(f) + b) * 2 * K
                var k = 0
                while (k < 2 * K) { a(off + k) += g(k); k += 1 }
              }
              f += 1
            }
          }
          a
        },
        combOp = { (a, b) => var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
      bShape.destroy(); bFrontier.destroy()

      val nextFrontier = new ArrayBuffer[Int]
      frontier.zipWithIndex.foreach { case (nid, fi) =>
        val n = nodes(nid)
        bestMultiSplit(hist, fi * 2 * K * totalBins, cuts, n, K) match {
          case Some((f, bin, defaultLeft2, gain, gl, hl)) if gain > params.gamma &&
              (params.maxLeaves == 0 || leaves + 1 <= math.max(params.maxLeaves, 2)) =>
            n.feature = f; n.splitBin = bin; n.defaultLeft = defaultLeft2; n.gain = gain
            val gr = Array.tabulate(K)(k => n.g(k) - gl(k))
            val hr = Array.tabulate(K)(k => n.h(k) - hl(k))
            val l = new MNode(gl, hl, n.depth + 1)
            val r = new MNode(gr, hr, n.depth + 1)
            n.left = nodes.length; nodes += l
            n.right = nodes.length; nodes += r
            leaves += 1
            nextFrontier += n.left
            nextFrontier += n.right
          case _ => // stays a leaf
        }
      }
      frontier = nextFrontier.toArray
      depth += 1
    }
    nodes.foreach { n =>
      n.weight = Array.tabulate(K)(k => SplitEnumerator.calcWeight(n.g(k), n.h(k), params))
    }
    MShape(
      Array.tabulate(nodes.length)(i => nodes(i).feature),
      Array.tabulate(nodes.length)(i => nodes(i).splitBin),
      Array.tabulate(nodes.length)(i => nodes(i).defaultLeft),
      Array.tabulate(nodes.length)(i => nodes(i).left),
      Array.tabulate(nodes.length)(i => nodes(i).right),
      Array.tabulate(nodes.length)(i => nodes(i).weight),
      Array.tabulate(nodes.length)(i => nodes(i).hTotal),
      Array.tabulate(nodes.length)(i => nodes(i).gain))
  }

  private def partialShape(nodes: ArrayBuffer[MNode]): MShapeLite = MShapeLite(
    Array.tabulate(nodes.length)(i => nodes(i).feature),
    Array.tabulate(nodes.length)(i => nodes(i).splitBin),
    Array.tabulate(nodes.length)(i => nodes(i).defaultLeft),
    Array.tabulate(nodes.length)(i => nodes(i).left),
    Array.tabulate(nodes.length)(i => nodes(i).right),
    null)

  /** Summed-gain split search over one node's multi-target histogram (ref
    * `HistMultiEvaluator::EvaluateSplits`): forward and backward scans per
    * feature score missing-right and missing-left; gain is the SUM of
    * per-target gains at a shared split point; min_child_weight applies to
    * the summed hessian. Returns (feature, bin, defaultLeft, gain,
    * leftG[], leftH[]). */
  private def bestMultiSplit(hist: Array[Double], off: Int, cuts: HistogramCuts,
      n: MNode, K: Int): Option[(Int, Int, Boolean, Double, Array[Double], Array[Double])] = {
    var best: (Int, Int, Boolean, Double, Array[Double], Array[Double]) = null
    val parentGain = (0 until K).map(k => SplitEnumerator.calcGain(n.g(k), n.h(k), params)).sum
    var f = 0
    while (f < cuts.numFeatures) {
      val nb = cuts.numBins(f)
      val fOff = off + cuts.featureOffset(f) * 2 * K
      // forward scan: cumulative from the left; missing mass goes RIGHT
      scanDirection(hist, fOff, nb, n, K, parentGain, forward = true).foreach { c =>
        if (best == null || c._4 > best._4) best = (f, c._1, c._2, c._4, c._5, c._6)
      }
      // backward scan: missing mass goes LEFT
      scanDirection(hist, fOff, nb, n, K, parentGain, forward = false).foreach { c =>
        if (best == null || c._4 > best._4) best = (f, c._1, c._2, c._4, c._5, c._6)
      }
      f += 1
    }
    Option(best)
  }

  private def scanDirection(hist: Array[Double], fOff: Int, nb: Int, n: MNode,
      K: Int, parentGain: Double, forward: Boolean)
      : Option[(Int, Boolean, Int, Double, Array[Double], Array[Double])] = {
    val gAcc = new Array[Double](K)
    val hAcc = new Array[Double](K)
    var best: (Int, Boolean, Int, Double, Array[Double], Array[Double]) = null
    var i = 0
    while (i < nb - 1) {
      val b = if (forward) i else nb - 1 - i
      var k = 0
      while (k < K) {
        gAcc(k) += hist(fOff + b * 2 * K + 2 * k)
        hAcc(k) += hist(fOff + b * 2 * K + 2 * k + 1)
        k += 1
      }
      // forward: acc = left side (bins <= b), missing right
      // backward: acc = right side (bins > b-1), missing left
      val (gl, hl) =
        if (forward) (gAcc, hAcc)
        else (Array.tabulate(K)(k => n.g(k) - gAcc(k)), Array.tabulate(K)(k => n.h(k) - hAcc(k)))
      var hlSum = 0.0; var hrSum = 0.0
      k = 0
      while (k < K) { hlSum += hl(k); hrSum += n.h(k) - hl(k); k += 1 }
      if (hlSum >= params.minChildWeight && hrSum >= params.minChildWeight) {
        var gain = -parentGain
        k = 0
        while (k < K) {
          gain += SplitEnumerator.calcGain(gl(k), hl(k), params) +
            SplitEnumerator.calcGain(n.g(k) - gl(k), n.h(k) - hl(k), params)
          k += 1
        }
        val splitBin = if (forward) b else b - 1
        if (splitBin >= 0 && (best == null || gain > best._4))
          best = (splitBin, !forward, splitBin, gain, gl.clone(), hl.clone())
      }
      i += 1
    }
    best match {
      case null => None
      case (bin, dl, _, gain, gl, hl) => Some((bin, dl, bin, gain, gl, hl))
    }
  }

  private def shapeToTree(s: MShape, cuts: HistogramCuts, K: Int): Tree =
    Tree(Array.tabulate(s.feature.length) { i =>
      if (s.feature(i) < 0) Node.makeLeaf(s.leaf(i), s.sumHess(i))
      else Node(s.feature(i), cuts.cuts(s.feature(i))(s.splitBin(i)),
        s.defaultLeft(i), s.left(i), s.right(i), s.leaf(i), s.gain(i),
        s.sumHess(i), Array.empty)
    })
}

/** Routing-only shape broadcast during growth (no leaf vectors yet). */
private[tree] final case class MShapeLite(
    feature: Array[Int], splitBin: Array[Int], defaultLeft: Array[Boolean],
    left: Array[Int], right: Array[Int], leaf: Array[Array[Double]])
    extends Serializable {
  def position(bins: Array[Int]): Int = {
    var i = 0
    while (feature(i) >= 0) {
      val b = bins(feature(i))
      i = if (b < 0) { if (defaultLeft(i)) left(i) else right(i) }
      else if (b <= splitBin(i)) left(i)
      else right(i)
    }
    i
  }
}
