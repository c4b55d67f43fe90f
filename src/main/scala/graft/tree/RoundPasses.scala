package graft.tree

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD

import graft.Agg
import graft.data.HistogramCuts
import graft.objective.{Objective, SoftmaxObjective}

/** The gradient pair of one row for one tree: the objective's (g, h) for
  * output group `grp` at the cached margin less the `dropped` trees (DART
  * dropout; pending trees of the deferred margin cache ride along with
  * negated weights), and the round's deterministic row sampling. Built on
  * the driver once per tree and shipped with each task of [[RoundPasses]];
  * `meanU` is the round's mean regularized gradient magnitude for
  * gradient-based sampling. */
private[tree] final class RowGrad(
    params: TrainParams, obj: Objective, softmax: SoftmaxObjective,
    grp: Int, iter: Int, dropped: Array[(TreeShape, Double, Int)],
    meanU: Double) extends Serializable {

  val numGroups: Int = math.max(params.numClass, 1)
  val gradBased: Boolean = RowGrad.gradBased(params)

  /** Deterministic per-(row, iteration) uniform in [0,1). */
  @inline private def rand01(rowId: Long): Double = {
    var z = rowId ^ (params.seed + 0x9E3779B97F4A7C15L * (iter + 1))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Per-iteration deterministic row subsample predicate
    * (ref `src/tree/hist/sampler.cc:204`; seeded per iteration). */
  @inline def sampled(rowId: Long): Boolean =
    params.subsample >= 1.0 || rand01(rowId) < params.subsample

  /** Gradient-based sampling (ref `CalcSamplingInfo`/`GradientBasedSampling`,
    * `src/tree/hist/sampler.cc:39-120`): keep probability
    * `p = min(1, subsample · u / ū)` with `u = √(g² + λ·h²)` the
    * regularized gradient magnitude, and kept gradients rescaled by `1/p`
    * (unbiased). `ū` (meanU) comes from one aggregation per iteration;
    * the reference solves the exact threshold by search — the mean-scaled
    * form is the standard one-shot approximation. Returns 0 (drop row) or
    * the scale factor. */
  @inline def sampleScale(rowId: Long, g: Double, h: Double): Double = {
    val p = math.min(1.0, params.subsample * magnitude(g, h) / math.max(meanU, 1e-300))
    if (rand01(rowId) < p) 1.0 / p else 0.0
  }

  /** Regularized gradient magnitude `√(g² + λ·h²)`. */
  @inline def magnitude(g: Double, h: Double): Double =
    math.sqrt(g * g + params.lambda * h * h)

  /** Adjusted margin for group g under DART dropout: cached full-ensemble
    * margin minus dropped trees' contributions (ref DropTrees,
    * `src/gbm/gbtree.h:369`). */
  @inline private def adjustedMargin(m: Array[Double], r: BInst, g: Int): Double = {
    var out = m(g)
    var i = 0
    while (i < dropped.length) {
      val (sh, w, tg) = dropped(i)
      if (tg == g) out -= w * sh.predictLeaf(r)(0)
      i += 1
    }
    out
  }

  /** Writes the row's weighted (g, h) into `out(0)`, `out(1)`. `pre` holds
    * precomputed risk-set gradients (already weighted), or null. */
  def gradOf(r: BInst, m: Array[Double], pre: Array[Double], out: Array[Double],
      scratch: Array[Double]): Unit = {
    if (pre != null) {
      out(0) = pre(0); out(1) = pre(1)
    } else if (softmax != null) {
      // softmax needs all group margins (dropout adjustment per group)
      if (dropped.isEmpty) softmax.gradient(m, r.label, scratch)
      else {
        val adj = new Array[Double](numGroups)
        var g = 0
        while (g < numGroups) { adj(g) = adjustedMargin(m, r, g); g += 1 }
        softmax.gradient(adj, r.label, scratch)
      }
      out(0) = scratch(2 * grp) * r.weight
      out(1) = scratch(2 * grp + 1) * r.weight
    } else {
      val margin = if (dropped.isEmpty) m(0) else adjustedMargin(m, r, 0)
      if (obj.usesIntervalLabels) obj.gradientInterval(margin, r.label, r.label2, out)
      else obj.gradient(margin, r.label, out)
      out(0) *= r.weight
      out(1) *= r.weight
    }
  }
}

private[tree] object RowGrad {
  /** `sampling_method=gradient_based` is in effect. */
  def gradBased(params: TrainParams): Boolean =
    params.samplingMethod == "gradient_based" && params.subsample < 1.0
}

/** The Spark passes the boosting loop runs on every round: attach the
  * gradients, sum the root totals, build a level's histograms, take the
  * gradient-based sampling mean, and advance the margin cache.
  *
  * They live here rather than in [[GBTTrainer]] because of Spark's
  * `ClosureCleaner`: for every closure an RDD operation or job cleans, it
  * reads the whole bytecode of the class that defines the closure.
  * `GBTTrainer.class` is about 150 KB and a round runs several jobs, so
  * that read was a fixed driver cost on every job; this object is under
  * 20 KB. Keep closures that run on every round out of `GBTTrainer`.
  */
private[tree] object RoundPasses {
  type Margins = RDD[(BInst, Array[Double])]

  /** Attach the (optional) precomputed per-row gradients to the packed
    * (row, margin) cache. The gradients RDD is derived from `cache` by a
    * mapPartitions-style transform in the SAME iteration (never persisted
    * across margin generations), so the zip is positional, shuffle-free
    * and alignment-safe. `pre == null` ⇒ compute from the objective
    * kernel. */
  def withGrads(cache: Margins, grads: Option[RDD[Array[Double]]])
      : RDD[(BInst, Array[Double], Array[Double])] =
    grads match {
      case Some(g) => cache.zip(g).map { case ((r, m), gh) => (r, m, gh) }
      case None => cache.map { case (r, m) => (r, m, null) }
    }

  /** Root (G, H) of one tree. */
  def totals(cache: Margins, grads: Option[RDD[Array[Double]]], rg: RowGrad): (Double, Double) =
    Agg.reducePartitions(withGrads(cache, grads)) { it =>
      val out = new Array[Double](2)
      val scratch = new Array[Double](2 * rg.numGroups)
      var g = 0.0; var h = 0.0
      it.foreach { case (r, m, pre) =>
        if (rg.gradBased) {
          rg.gradOf(r, m, pre, out, scratch)
          val s = rg.sampleScale(r.rowId, out(0), out(1))
          if (s > 0) { g += s * out(0); h += s * out(1) }
        } else if (rg.sampled(r.rowId)) {
          rg.gradOf(r, m, pre, out, scratch)
          g += out(0); h += out(1)
        }
      }
      (g, h)
    }((a, b) => (a._1 + b._1, a._2 + b._2))

  /** (Σ regularized gradient magnitude, rows): the mean ū of gradient-based
    * sampling (ref CalcSamplingInfo, sampler.cc:39-77). */
  def magnitudeSum(cache: Margins, grads: Option[RDD[Array[Double]]], rg: RowGrad): (Double, Long) =
    Agg.reducePartitions(withGrads(cache, grads)) { it =>
      val out = new Array[Double](2)
      val scratch = new Array[Double](2 * rg.numGroups)
      var s = 0.0; var c = 0L
      it.foreach { case (r, m, pre) =>
        rg.gradOf(r, m, pre, out, scratch)
        s += rg.magnitude(out(0), out(1))
        c += 1
      }
      (s, c)
    }((a, b) => (a._1 + b._1, a._2 + b._2))

  /** ONE pass building histograms for every node in `buildSet` — the analog
    * of `HistogramBuilder::BuildHist` + allreduce (`histogram.h:44-202`):
    * per-partition dense accumulation (allocation-free inner loop), then
    * the partials merge at the driver — the reference's histogram
    * allreduce. Hist layout per node: g at 2·bin, h at 2·bin+1 in global
    * bin space. */
  def histograms(cache: Margins, grads: Option[RDD[Array[Double]]], rg: RowGrad,
      cuts: HistogramCuts, buildSet: Array[Int], shape: TreeShape): Array[Array[Double]] = {
    val bShape = cache.sparkContext.broadcast(shape)
    val histLen = 2 * cuts.totalBins
    val nBuild = buildSet.length
    val offsets = cuts.featureOffset
    val numFeatures = cuts.numFeatures
    // dense position→slot map (node ids are small ints)
    val maxNid = if (buildSet.isEmpty) 0 else buildSet.max
    val slotOf = Array.fill(maxNid + 1)(-1)
    buildSet.zipWithIndex.foreach { case (nid, s) => slotOf(nid) = s }

    val result = Agg.reducePartitions(withGrads(cache, grads)) { it =>
      val hists = new Array[Array[Double]](nBuild)
      val out = new Array[Double](2)
      val scratch = new Array[Double](2 * rg.numGroups)
      val sh = bShape.value
      it.foreach { case (r, m, pre) =>
        if (rg.gradBased || rg.sampled(r.rowId)) {
          val pos = sh.position(r)
          val slot = if (pos <= maxNid) slotOf(pos) else -1
          if (slot >= 0) {
            var hist = hists(slot)
            if (hist == null) { hist = new Array[Double](histLen); hists(slot) = hist }
            rg.gradOf(r, m, pre, out, scratch)
            val sampleScale =
              if (rg.gradBased) rg.sampleScale(r.rowId, out(0), out(1)) else 1.0
            val g = sampleScale * out(0); val h = sampleScale * out(1)
            if (sampleScale > 0) {
            if (r.idx == null) {
              var f = 0
              while (f < numFeatures) {
                val b = r.bins(f)
                if (b >= 0) {
                  val gb = 2 * (offsets(f) + b)
                  hist(gb) += g
                  hist(gb + 1) += h
                }
                f += 1
              }
            } else {
              // sparse row: O(nnz) accumulation over present features only;
              // absent mass reaches the split search as (total − Σ bins),
              // i.e. the same missing-direction machinery as NaN
              var k = 0
              while (k < r.idx.length) {
                val b = r.bins(k)
                if (b >= 0) {
                  val gb = 2 * (offsets(r.idx(k)) + b)
                  hist(gb) += g
                  hist(gb + 1) += h
                }
                k += 1
              }
            }
            }
          }
        }
      }
      hists
    } { (a, b) =>
      var s = 0
      while (s < nBuild) {
        if (a(s) == null) a(s) = b(s)
        else if (b(s) != null) {
          val x = a(s); val y = b(s)
          var i = 0
          while (i < histLen) { x(i) += y(i); i += 1 }
        }
        s += 1
      }
      a
    }
    bShape.destroy()
    result.map(h => if (h == null) new Array[Double](histLen) else h)
  }

  /** The margin cache with `trees` = (shape, weight, group) added in order
    * (`m(group) += weight · leaf`), persisted by `owned` and computed; `c`
    * is released. `checkpoint` truncates the lineage. */
  def advance(c: Margins, trees: Broadcast[Array[(TreeShape, Double, Int)]],
      checkpoint: Boolean, owned: Owned): Margins = {
    val next = owned.persist(c.map { case (r, m) =>
      val out = m.clone()
      val p = trees.value
      var i = 0
      while (i < p.length) {
        val (sh, w, g) = p(i)
        out(g) += w * sh.predictLeaf(r)(0)
        i += 1
      }
      (r, out)
    })
    if (checkpoint) next.localCheckpoint()
    materialize(next)
    owned.unpersist(c)
    next
  }

  /** Computes every partition of `rdd` (storing it, if persisted) in one
    * job whose only cleaned closure is [[Agg]]'s. */
  def materialize[T](rdd: RDD[T]): Unit = {
    Agg.aggregate(rdd)(0L)((n, _) => n + 1, _ + _)
    ()
  }
}
