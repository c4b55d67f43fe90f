package graft.tree

import graft.data.HistogramCuts

/** Driver-side split search over collected per-node histograms — the
  * reference's `EnumerateSplit<±1>` / `EvaluateSplits`
  * (`src/tree/hist/evaluate_splits.h:205-360`) and gain/weight formulas
  * (`src/tree/param.h:233-292`). Histograms are tiny (≤ bins×features×16 B)
  * so this is pure driver math — the distributed work already happened in
  * the histogram aggregation.
  *
  * Missing-value handling is the reference's sparsity-aware scheme: the
  * histogram holds only non-missing mass; a forward scan scores
  * missing-goes-RIGHT (right side = parent − left prefix, which absorbs the
  * missing mass), a backward scan scores missing-goes-LEFT.
  */
object SplitEnumerator {

  /** ThresholdL1 (`param.h:233`): soft-threshold gradient by alpha. */
  @inline def thresholdL1(g: Double, alpha: Double): Double =
    if (g > alpha) g - alpha else if (g < -alpha) g + alpha else 0.0

  /** CalcWeight (`param.h:252`): −ThresholdL1(G,α)/(H+λ), clamped by
    * max_delta_step and the monotone-constraint bounds. */
  def calcWeight(g: Double, h: Double, p: TrainParams,
      lo: Double = Double.NegativeInfinity, hi: Double = Double.PositiveInfinity): Double = {
    if (h <= 0) return 0.0
    var w = -thresholdL1(g, p.alpha) / (h + p.lambda)
    if (p.maxDeltaStep > 0) w = math.max(-p.maxDeltaStep, math.min(p.maxDeltaStep, w))
    math.max(lo, math.min(hi, w))
  }

  /** CalcGainGivenWeight (`param.h:267`): −(2Gw + (H+λ)w²); equals
    * ThresholdL1(G,α)²/(H+λ) for an unconstrained weight. */
  @inline def gainGivenWeight(g: Double, h: Double, w: Double, p: TrainParams): Double =
    -(2.0 * g * w + (h + p.lambda) * w * w)

  def calcGain(g: Double, h: Double, p: TrainParams,
      lo: Double = Double.NegativeInfinity, hi: Double = Double.PositiveInfinity): Double =
    gainGivenWeight(g, h, calcWeight(g, h, p, lo, hi), p)

  /** Best split for a node whose per-lane (g, h) totals are `gh`: the
    * scalar scan below for one lane, the summed-gain scan for more. */
  def bestSplit(hist: Array[Double], cuts: HistogramCuts, features: Array[Int],
      gh: Array[Double], p: TrainParams, lo: Double, hi: Double): Option[SplitCandidate] =
    if (gh.length == 2) bestSplit(hist, cuts, features, gh(0), gh(1), p, lo, hi)
    else bestLanesSplit(hist, cuts, features, gh, p)

  /** Best split for one node. `hist`: (g,h) interleaved in global bin space;
    * `g`/`h`: node totals including missing mass; `lo`/`hi`: monotone weight
    * bounds inherited from ancestors. */
  def bestSplit(hist: Array[Double], cuts: HistogramCuts, features: Array[Int],
      g: Double, h: Double, p: TrainParams,
      lo: Double, hi: Double): Option[SplitCandidate] = {
    val parentGain = calcGain(g, h, p, lo, hi)
    var best: SplitCandidate = null

    @inline def consider(f: Int, splitBin: Int, defaultLeft: Boolean,
        gl: Double, hl: Double, catRight: Array[Int]): Unit = {
      val gr = g - gl
      val hr = h - hl
      if (hl >= p.minChildWeight && hr >= p.minChildWeight) {
        val wl = calcWeight(gl, hl, p, lo, hi)
        val wr = calcWeight(gr, hr, p, lo, hi)
        val mono = if (p.monotoneConstraints.isEmpty) 0 else p.monotoneConstraints(f)
        val monoOk = mono == 0 || (mono > 0 && wl <= wr) || (mono < 0 && wl >= wr)
        if (monoOk) {
          val gain = gainGivenWeight(gl, hl, wl, p) + gainGivenWeight(gr, hr, wr, p) -
            parentGain - p.gamma
          if (gain > 1e-10 && (best == null || gain > best.gain))
            best = SplitCandidate(f, splitBin, defaultLeft, gain, Array(gl, hl), Array(gr, hr),
              wl, wr, catRight)
        }
      }
    }

    var fi = 0
    while (fi < features.length) {
      val f = features(fi)
      val off = cuts.featureOffset(f)
      val nb = cuts.numBins(f)
      if (p.catFeatures.contains(f)) {
        enumerateCategorical(hist, off, nb, f, g, h, p, consider)
      } else {
        // forward scan: missing → right (EnumerateSplit<+1>)
        var gl = 0.0; var hl = 0.0
        var b = 0
        while (b < nb - 1) {
          gl += hist(2 * (off + b)); hl += hist(2 * (off + b) + 1)
          consider(f, b, defaultLeft = false, gl, hl, null)
          b += 1
        }
        // backward scan: missing → left (EnumerateSplit<-1>); left side =
        // parent − right suffix, so it absorbs the missing mass
        var gr = 0.0; var hr = 0.0
        b = nb - 1
        while (b >= 1) {
          gr += hist(2 * (off + b)); hr += hist(2 * (off + b) + 1)
          consider(f, b - 1, defaultLeft = true, g - gr, h - hr, null)
          b -= 1
        }
      }
      fi += 1
    }
    Option(best)
  }

  /** Best split for a node of K > 1 gradient lanes (ref
    * `HistMultiEvaluator::EvaluateSplits`, `evaluate_splits.h:609`): one
    * split point shared by every lane, scored by the SUM of the per-lane
    * gains; min_child_weight applies to the summed hessian. `hist` holds
    * lane k's (g, h) of global bin b at 2K·b + 2k and 2K·b + 2k + 1, and
    * `gh` the node's per-lane totals in the same layout. Numeric splits
    * only, without monotone bounds; forward and backward scans score
    * missing-right and missing-left as in [[bestSplit]]. The candidate's
    * gain is net of `gamma`. */
  private def bestLanesSplit(hist: Array[Double], cuts: HistogramCuts, features: Array[Int],
      gh: Array[Double], p: TrainParams): Option[SplitCandidate] = {
    val width = gh.length
    var parentGain = 0.0
    var k = 0
    while (k < width) { parentGain += calcGain(gh(k), gh(k + 1), p); k += 2 }
    var best: SplitCandidate = null
    var bestGain = 0.0

    // `left` = the left child's per-lane totals; the right child gets the rest
    def consider(f: Int, splitBin: Int, defaultLeft: Boolean, left: Array[Double]): Unit = {
      var hl = 0.0; var hr = 0.0
      var k = 1
      while (k < width) { hl += left(k); hr += gh(k) - left(k); k += 2 }
      if (hl >= p.minChildWeight && hr >= p.minChildWeight) {
        var gain = -parentGain
        k = 0
        while (k < width) {
          gain += calcGain(left(k), left(k + 1), p) +
            calcGain(gh(k) - left(k), gh(k + 1) - left(k + 1), p)
          k += 2
        }
        if (best == null || gain > bestGain) {
          bestGain = gain
          best = SplitCandidate(f, splitBin, defaultLeft, 0.0, left.clone(),
            Array.tabulate(width)(j => gh(j) - left(j)), 0.0, 0.0, null)
        }
      }
    }

    val acc = new Array[Double](width)
    val left = new Array[Double](width)
    var fi = 0
    while (fi < features.length) {
      val f = features(fi)
      val off = width * cuts.featureOffset(f)
      val nb = cuts.numBins(f)
      // forward scan: left = prefix of bins, missing → right
      java.util.Arrays.fill(acc, 0.0)
      var b = 0
      while (b < nb - 1) {
        var j = 0
        while (j < width) { acc(j) += hist(off + width * b + j); j += 1 }
        consider(f, b, defaultLeft = false, acc)
        b += 1
      }
      // backward scan: left = parent − suffix of bins, missing → left
      java.util.Arrays.fill(acc, 0.0)
      b = nb - 1
      while (b >= 1) {
        var j = 0
        while (j < width) {
          acc(j) += hist(off + width * b + j)
          left(j) = gh(j) - acc(j)
          j += 1
        }
        consider(f, b - 1, defaultLeft = true, left)
        b -= 1
      }
      fi += 1
    }
    Option(best).map(_.copy(gain = bestGain - p.gamma))
  }

  /** Categorical enumeration: one-hot for few categories
    * (`evaluate_splits.h:64-121`), gradient-ratio-sorted optimal partition
    * (Fisher 1958) otherwise (`evaluate_splits.h:122-204`). `consider`'s
    * (gl,hl) is the LEFT side; `catRight` lists category bins routed right. */
  private def enumerateCategorical(hist: Array[Double], off: Int, nb: Int, f: Int,
      g: Double, h: Double, p: TrainParams,
      consider: (Int, Int, Boolean, Double, Double, Array[Int]) => Unit): Unit = {
    if (nb <= p.maxCatToOnehot) {
      var c = 0
      while (c < nb) {
        val gc = hist(2 * (off + c)); val hc = hist(2 * (off + c) + 1)
        if (hc > 0) {
          // right = {c}: missing left (default) and missing right variants
          consider(f, -1, true, g - gc, h - hc, Array(c))
          consider(f, -1, false, g - gc - missingG(hist, off, nb, g),
            h - hc - missingH(hist, off, nb, h), Array(c))
        }
        c += 1
      }
    } else {
      val cats = (0 until nb).filter(c => hist(2 * (off + c) + 1) > 0).toArray
      val sorted = cats.sortBy(c => hist(2 * (off + c)) / (hist(2 * (off + c) + 1) + 1e-12))
      val gm = missingG(hist, off, nb, g)
      val hm = missingH(hist, off, nb, h)
      var grs = 0.0; var hrs = 0.0 // prefix of sorted order = RIGHT set
      val maxK = math.min(sorted.length - 1, p.maxCatThreshold)
      var k = 0
      while (k < maxK) {
        val c = sorted(k)
        grs += hist(2 * (off + c)); hrs += hist(2 * (off + c) + 1)
        val right = java.util.Arrays.copyOf(sorted, k + 1)
        java.util.Arrays.sort(right)
        // missing left: left = parent − right(non-missing)
        consider(f, -1, true, g - grs, h - hrs, right)
        // missing right: left = non-missing complement of right
        consider(f, -1, false, g - grs - gm, h - hrs - hm, right)
        k += 1
      }
    }
  }

  @inline private def missingG(hist: Array[Double], off: Int, nb: Int, g: Double): Double = {
    var s = 0.0; var c = 0
    while (c < nb) { s += hist(2 * (off + c)); c += 1 }
    g - s
  }
  @inline private def missingH(hist: Array[Double], off: Int, nb: Int, h: Double): Double = {
    var s = 0.0; var c = 0
    while (c < nb) { s += hist(2 * (off + c) + 1); c += 1 }
    h - s
  }
}
