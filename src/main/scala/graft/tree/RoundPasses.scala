package graft.tree

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD

import graft.Agg
import graft.data.HistogramCuts
import graft.objective.{MultiObjective, Objective, SoftmaxObjective}

/** The gradient lanes of one row for one tree: the objective's (g, h) for
  * output group `grp` — or, with a [[MultiObjective]], the (g, h) of every
  * lane of a vector-leaf tree — at the cached margins less the `dropped`
  * trees (DART dropout; pending trees of the deferred margin cache ride
  * along with negated weights), and the round's deterministic row
  * sampling. Built on the driver once per tree and shipped with each task
  * of [[RoundPasses]]; `meanU` is the round's mean regularized gradient
  * magnitude for gradient-based sampling. */
private[tree] final class RowGrad(
    params: TrainParams, obj: Objective, softmax: SoftmaxObjective, mobj: MultiObjective,
    grp: Int, iter: Int, dropped: Array[(TreeShape, Double, Int)],
    meanU: Double) extends Serializable {

  /** margins per row */
  val numGroups: Int = if (mobj != null) mobj.numTargets else math.max(params.numClass, 1)
  /** gradient lanes of the tree: one (g, h) pair per lane */
  val lanes: Int = if (mobj != null) mobj.numTargets else 1
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

  /** The row can enter this tree: gradient-based sampling decides in
    * [[sampledGradOf]], uniform sampling here. */
  @inline def kept(rowId: Long): Boolean = gradBased || sampled(rowId)

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

  /** The cached margins less the dropped trees' contributions, each leaf
    * lane of a tree landing on its group onward (ref DropTrees,
    * `src/gbm/gbtree.h:369`); `m` itself when nothing is dropped. */
  @inline private def adjusted(m: Array[Double], r: BInst): Array[Double] =
    if (dropped.isEmpty) m
    else {
      val out = m.clone()
      var i = 0
      while (i < dropped.length) {
        val (sh, w, tg) = dropped(i)
        val leaf = sh.predictLeaf(r)
        var j = 0
        while (j < leaf.length) { out(tg + j) -= w * leaf(j); j += 1 }
        i += 1
      }
      out
    }

  /** Writes the row's weighted (g, h) of lane k into `out(2k)`, `out(2k+1)`.
    * `pre` holds precomputed risk-set gradients (already weighted), or
    * null. */
  def gradOf(r: BInst, m: Array[Double], pre: Array[Double], out: Array[Double],
      scratch: Array[Double]): Unit = {
    if (pre != null) {
      out(0) = pre(0); out(1) = pre(1)
    } else if (mobj != null) {
      mobj.gradient(r.labels, adjusted(m, r), r.weight, out)
    } else if (softmax != null) {
      // softmax needs all group margins
      softmax.gradient(adjusted(m, r), r.label, scratch)
      out(0) = scratch(2 * grp) * r.weight
      out(1) = scratch(2 * grp + 1) * r.weight
    } else {
      val margin = adjusted(m, r)(0)
      if (obj.usesIntervalLabels) obj.gradientInterval(margin, r.label, r.label2, out)
      else obj.gradient(margin, r.label, out)
      out(0) *= r.weight
      out(1) *= r.weight
    }
  }

  /** [[gradOf]] for a row [[kept]] admits, rescaled by its gradient-based
    * sample weight; false when that sampling drops the row. */
  def sampledGradOf(r: BInst, m: Array[Double], pre: Array[Double], out: Array[Double],
      scratch: Array[Double]): Boolean = {
    gradOf(r, m, pre, out, scratch)
    !gradBased || {
      val s = sampleScale(r.rowId, out(0), out(1))
      out(0) *= s; out(1) *= s
      s > 0
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

  /** Root per-lane (g, h) totals of one tree, laid out as [[RowGrad.gradOf]]
    * writes them. */
  def totals(cache: Margins, grads: Option[RDD[Array[Double]]], rg: RowGrad): Array[Double] =
    Agg.reducePartitions(withGrads(cache, grads)) { it =>
      val out = new Array[Double](2 * rg.lanes)
      val scratch = new Array[Double](2 * rg.numGroups)
      val sum = new Array[Double](out.length)
      it.foreach { case (r, m, pre) =>
        if (rg.kept(r.rowId) && rg.sampledGradOf(r, m, pre, out, scratch)) addInto(sum, out)
      }
      sum
    }(addInto)

  /** `a += b` elementwise; returns `a`. */
  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** (Σ regularized gradient magnitude, rows): the mean ū of gradient-based
    * sampling (ref CalcSamplingInfo, sampler.cc:39-77). */
  def magnitudeSum(cache: Margins, grads: Option[RDD[Array[Double]]], rg: RowGrad): (Double, Long) =
    Agg.reducePartitions(withGrads(cache, grads)) { it =>
      val out = new Array[Double](2 * rg.lanes)
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
    * allreduce. Hist layout per node, in global bin space: lane k's g at
    * 2·lanes·bin + 2k and its h at 2·lanes·bin + 2k + 1 (the reference's
    * `[bin][target][g|h]` multi-target layout, `histogram.h:315-425`; one
    * lane is the plain (g, h) pair). */
  def histograms(cache: Margins, grads: Option[RDD[Array[Double]]], rg: RowGrad,
      cuts: HistogramCuts, buildSet: Array[Int], shape: TreeShape): Array[Array[Double]] = {
    val bShape = cache.sparkContext.broadcast(shape)
    val width = 2 * rg.lanes
    val histLen = width * cuts.totalBins
    val nBuild = buildSet.length
    val offsets = cuts.featureOffset
    val numFeatures = cuts.numFeatures
    // dense position→slot map (node ids are small ints)
    val maxNid = if (buildSet.isEmpty) 0 else buildSet.max
    val slotOf = Array.fill(maxNid + 1)(-1)
    buildSet.zipWithIndex.foreach { case (nid, s) => slotOf(nid) = s }

    val result = Agg.reducePartitions(withGrads(cache, grads)) { it =>
      val hists = new Array[Array[Double]](nBuild)
      val out = new Array[Double](width)
      val scratch = new Array[Double](2 * rg.numGroups)
      val sh = bShape.value
      it.foreach { case (r, m, pre) =>
        if (rg.kept(r.rowId)) {
          val pos = sh.position(r)
          val slot = if (pos <= maxNid) slotOf(pos) else -1
          if (slot >= 0 && rg.sampledGradOf(r, m, pre, out, scratch)) {
            var hist = hists(slot)
            if (hist == null) { hist = new Array[Double](histLen); hists(slot) = hist }
            // a sparse row holds its present features only: absent mass
            // reaches the split search as (total − Σ bins), i.e. the same
            // missing-direction machinery as NaN
            val dense = r.idx == null
            val n = if (dense) numFeatures else r.idx.length
            var k = 0
            while (k < n) {
              val b = r.bins(k)
              if (b >= 0) {
                val at = width * (offsets(if (dense) k else r.idx(k)) + b)
                var j = 0
                while (j < width) { hist(at + j) += out(j); j += 1 }
              }
              k += 1
            }
          }
        }
      }
      hists
    } { (a, b) =>
      var s = 0
      while (s < nBuild) {
        if (a(s) == null) a(s) = b(s)
        else if (b(s) != null) addInto(a(s), b(s))
        s += 1
      }
      a
    }
    bShape.destroy()
    result.map(h => if (h == null) new Array[Double](histLen) else h)
  }

  /** The margin cache with `trees` = (shape, weight, group) added in order
    * (`m(group + k) += weight · leaf(k)` for each leaf lane k), persisted by
    * `owned` and computed; `c` is released. `checkpoint` truncates the
    * lineage. */
  def advance(c: Margins, trees: Broadcast[Array[(TreeShape, Double, Int)]],
      checkpoint: Boolean, owned: Owned): Margins = {
    val next = owned.persist(c.map { case (r, m) =>
      val out = m.clone()
      val p = trees.value
      var i = 0
      while (i < p.length) {
        val (sh, w, g) = p(i)
        val leaf = sh.predictLeaf(r)
        var k = 0
        while (k < leaf.length) { out(g + k) += w * leaf(k); k += 1 }
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
