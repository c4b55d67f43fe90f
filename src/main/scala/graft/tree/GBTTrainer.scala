package graft.tree

import org.apache.spark.rdd.RDD

import graft.data.{Binning, HistogramCuts}
import graft.model.{BoosterModel, Node, Tree}
import graft.objective.{CoxGradients, LambdaRankGradients, LambdaRankObjective, Objective, SoftmaxObjective}

import scala.collection.mutable.ArrayBuffer

/** Training hyper-parameters (the reference's `TrainParam`,
  * `src/tree/param.h:82-205`, plus learner/booster params). */
final case class TrainParams(
    objective: String = "reg:squarederror",
    numRounds: Int = 10,
    eta: Double = 0.3,
    maxDepth: Int = 6,
    minChildWeight: Double = 1.0,
    lambda: Double = 1.0, // L2 on leaf weights
    alpha: Double = 0.0, // L1 on leaf weights
    gamma: Double = 0.0, // min_split_loss
    maxBin: Int = 256,
    subsample: Double = 1.0,
    samplingMethod: String = "uniform", // | "gradient_based"
    colsampleBytree: Double = 1.0,
    colsampleBylevel: Double = 1.0,
    colsampleBynode: Double = 1.0,
    maxDeltaStep: Double = 0.0,
    seed: Long = 0L,
    growPolicy: String = "depthwise", // | "lossguide"
    maxLeaves: Int = 0, // 0 = unlimited (subject to maxDepth)
    numClass: Int = 1,
    baseScore: Option[Double] = None,
    monotoneConstraints: Array[Int] = Array.empty, // per-feature −1/0/+1
    interactionConstraints: Seq[Set[Int]] = Nil,
    catFeatures: Set[Int] = Set.empty,
    maxCatToOnehot: Int = 4,
    maxCatThreshold: Int = 64,
    treeMethod: String = "hist", // | "approx"
    quantileAlpha: Double = 0.5,
    quantileAlphas: Array[Double] = Array.empty, // ≥2 entries ⇒ multi-quantile (one output lane per alpha)
    tweedieVariancePower: Double = 1.5,
    pseudoHuberSlope: Double = 1.0,
    aftDistribution: String = "normal", // | "logistic" | "extreme"
    aftScale: Double = 1.0,
    ndcgExpGain: Boolean = true, // rank:ndcg gain 2^rel−1 vs linear
    lambdarankTopK: Int = 0, // >0 selects pair_method=topk with this k
    lambdarankPairMethod: String = "mean", // | "topk" | "all" (ranking_utils.h:73)
    lambdarankNumPair: Int = 8, // sampled pairs per doc (pair_method=mean)
    lambdarankUnbiased: Boolean = false, // position debiasing (Unbiased LambdaMART)
    lambdarankBiasNorm: Double = 1.0, // t± update regularizer 1/(1+norm) (ranking_utils.h:82)
    lambdarankNormalization: Boolean = true, // group λ rescale (ranking_utils.h:81, default true)
    lambdarankScoreNormalization: Boolean = true, // Δ/(|score gap|+0.01) (ranking_utils.h:82, default true)
    evalMetric: Option[String] = None, // per-iteration watch metric (default: objective's)
    evalMetrics: Seq[String] = Nil, // MULTIPLE watch metrics (ref eval_metric list,
    // `python-package/xgboost/training.py` params with repeated eval_metric: every
    // watch is evaluated under every metric; the LAST metric drives early stopping).
    // Takes precedence over evalMetric when non-empty.
    earlyStoppingRounds: Int = 0, // 0 = off; else stop after this many non-improving rounds
    scalePosWeight: Double = 1.0, // positive-class gradient rebalance (RegLoss family)
    featureWeights: Array[Double] = Array.empty, // weighted column sampling (random.h:40-68)
    numParallelTree: Int = 1, // boosted-random-forest layer width (gbtree.cc:282)
    // DART (`src/gbm/gbtree.h:88-120`)
    booster: String = "gbtree", // | "dart"
    rateDrop: Double = 0.0,
    skipDrop: Double = 0.0,
    oneDrop: Boolean = false,
    sampleType: String = "uniform", // | "weighted" (drop prob ∝ tree weight)
    normalizeType: String = "tree", // | "forest"
    checkpointInterval: Int = 15,
    // deferred prediction-cache updates: plain gbtree fits accumulate up to
    // this many freshly-grown trees as on-the-fly margin adjustments (the
    // same per-row tree-walk machinery DART dropout uses) before
    // materializing a new margin RDD — one cache-advance Spark job per
    // FLUSH instead of one per iteration. 1 = advance every iteration.
    marginFlushInterval: Int = 8,
    // training parallelism floor: −1 = auto (repartition up to
    // defaultParallelism when the input arrives under-partitioned, e.g. a
    // single parquet file); 0 = never repartition (pins partition contents;
    // NOTE full bit-reproducibility across runs additionally requires a
    // single input partition — multi-partition float sums merge in task-
    // completion order, which near-tie split gains can amplify into
    // different-but-equally-valid trees; see TrainQueries' golden rows);
    // >0 = explicit floor
    minTrainPartitions: Int = -1
)

/** Bin-space tree shape, broadcast to executors for row routing — numeric
  * condition is on BIN index (`bin <= splitBin` goes left), the analog of
  * the reference's `FindSplitConditions`/`UpdatePosition`
  * (`src/tree/common_row_partitioner.h:57,97-130`): rows are never
  * physically repartitioned, position is recomputed from the broadcast
  * shape. */
final case class TreeShape(
    feature: Array[Int], // -1 ⇒ leaf
    splitBin: Array[Int],
    defaultLeft: Array[Boolean],
    left: Array[Int],
    right: Array[Int],
    catRight: Array[Array[Int]], // sorted cat-bin ids routed right; null ⇒ numeric
    leaf: Array[Array[Double]],
    sumHess: Array[Double],
    gain: Array[Double]
) extends Serializable {
  def position(r: BInst): Int = {
    var i = 0
    while (feature(i) >= 0) {
      val b = r.binOf(feature(i))
      i =
        if (b < 0) { if (defaultLeft(i)) left(i) else right(i) }
        else if (catRight(i) != null) {
          if (java.util.Arrays.binarySearch(catRight(i), b) >= 0) right(i) else left(i)
        } else if (b <= splitBin(i)) left(i)
        else right(i)
    }
    i
  }
  def predictLeaf(r: BInst): Array[Double] = leaf(position(r))
}

/** One training instance after quantization: local bin id per feature
  * (−1 = missing), label, weight, and a stable row id (for deterministic
  * per-iteration subsampling, ref `seed_per_iteration`
  * `src/learner.cc:1119-1123`). `label2` is the censoring upper bound for
  * interval objectives (survival:aft; NaN elsewhere). `qid` is the ranking
  * query group (rank:* objectives; −1 elsewhere).
  *
  * Sparse rows (ref CSR adapter `src/data/adapter.h:216-308`): `idx` holds
  * the SORTED present feature ids and `bins` is parallel to `idx` (length
  * nnz, not numFeatures); absent features are missing. `idx == null` ⇒
  * dense. Storage per row is O(nnz) — wide one-hot/text data stays
  * tractable. */
/** rowId is a UNIQUE id (zipWithUniqueId — no extra partition-count job),
  * not a contiguous index: it only seeds the per-row subsample hash. */
final case class BInst(bins: Array[Int], label: Double, weight: Double, rowId: Long,
    label2: Double = Double.NaN, qid: Long = -1L, idx: Array[Int] = null) {
  /** bin of feature f (−1 = missing), for either representation. */
  @inline def binOf(f: Int): Int =
    if (idx == null) bins(f)
    else {
      val p = java.util.Arrays.binarySearch(idx, f)
      if (p >= 0) bins(p) else -1
    }
}

private final class BuildNode(
    var g: Double, var h: Double, // totals INCLUDING missing mass
    var depth: Int,
    var lowerBound: Double = Double.NegativeInfinity, // monotone-constraint weight bounds
    var upperBound: Double = Double.PositiveInfinity,
    var allowed: Option[Set[Int]] = None // interaction-constraint feature set
) {
  var feature: Int = -1
  var splitBin: Int = -1
  var defaultLeft: Boolean = false
  var left: Int = -1
  var right: Int = -1
  var gain: Double = 0.0
  var catRight: Array[Int] = null
  var weight: Double = 0.0 // leaf weight (pre-eta)
  var childG: (Double, Double) = null // (GL, GR) set when split chosen
  var childH: (Double, Double) = null
}

private[tree] final case class SplitCandidate(
    feature: Int, splitBin: Int, defaultLeft: Boolean, gain: Double,
    gl: Double, hl: Double, gr: Double, hr: Double, wl: Double, wr: Double,
    catRight: Array[Int])

/** Distributed gradient-boosted-tree trainer: the reference's learner loop
  * (`src/learner.cc:1114` UpdateOneIter) + hist updater
  * (`src/tree/updater_quantile_hist.cc:96-180`) re-expressed as a
  * driver-coordinated loop of Spark aggregations. Each histogram allreduce
  * (`src/tree/hist/histogram.h:177-202`) becomes one [[graft.Agg]] call —
  * one `runJob` whose partials merge at the driver; the
  * collective/tracker/barrier machinery of the reference is replaced by
  * Spark's scheduler (SURVEY §3.1).
  *
  * The passes a round runs (gradients, totals, histograms, margin advance)
  * are defined in [[RoundPasses]], not here: Spark's `ClosureCleaner` reads
  * the whole bytecode of a closure's defining class on every job, and this
  * class is large.
  *
  * Every entry point is a thin call into [[TrainingInput.prepare]]: it
  * states its `require`s and its row → [[BInst]] mapping, and the prepare
  * path lays the rows out, cuts and bins them into one persisted cache,
  * runs [[fitBinned]] on it and releases what it persisted — also when the
  * fit throws. Which input rows get persisted is decided there alone; the
  * trainer never persists an RDD the caller passed in.
  *
  * Scale design: the quantized matrix (`Array[Int]` bins, the
  * `GHistIndexMatrix` analog `src/data/gradient_index.h`) is cached once;
  * per level ONE pass builds histograms for ALL frontier nodes; the
  * subtraction trick (`histogram.h:203-213`) halves that work; margins are
  * a cached sibling RDD updated per iteration (prediction cache,
  * `src/gbm/gbtree.cc:631-660`) with periodic localCheckpoint to bound
  * lineage. Nothing driver-side scales with rows — only with
  * nodes × features × bins.
  */
final class GBTTrainer(params: TrainParams) extends Serializable {
  TrainingInput.requireTreeLimits(params)

  private val isMulti = params.numClass > 1
  private val numGroups = math.max(params.numClass, 1)

  // ---- driver-side training hooks (ref callback.py:51-640, custom
  // objective `objective.py` / custom feval `training.py:53`) ----
  @transient private var callbacks: Seq[TrainingCallback] = Nil
  private var customObj: Option[Objective] = None
  private var customMetric: Option[CustomEvalMetric] = None
  /** Per-iteration callbacks (monitoring, checkpointing, custom stop). */
  def withCallbacks(cbs: Seq[TrainingCallback]): this.type = { callbacks = cbs; this }
  /** User objective: any [[Objective]] implementation replaces the
    * registry lookup for `params.objective` (single-output only). */
  def withCustomObjective(o: Objective): this.type = { customObj = Some(o); this }
  /** User eval metric for the watch/early-stopping loop. */
  def withCustomMetric(m: CustomEvalMetric): this.type = { customMetric = Some(m); this }

  /** Dense rows (features with NaN = missing, label, weight) through
    * [[TrainingInput.prepare]]; the cuts follow `params.treeMethod`. */
  private def prepareDense[R](data: RDD[(Array[Double], Double, Double)])(
      train: Prepared[(Array[Double], Double, Double), BInst] => R): R =
    TrainingInput.prepare(params, data)(
      rows => TrainingInput.denseCuts(params, rows.map(r => (r._1, r._3))),
      (r, cuts, id) => BInst(cuts.binRow(r._1), r._2, r._3, id))(train)

  /** data: (dense features with NaN=missing, label, weight). */
  def fit(data: RDD[(Array[Double], Double, Double)]): BoosterModel =
    params.treeMethod match {
      case "hist" | "exact" => prepareDense(data)(p => fitBinned(p.binned, p.cuts, p.cuts.numFeatures))
      case "approx" => fitApprox(data)
      case other => throw new IllegalArgumentException(
        s"unknown tree_method: $other (supported: exact, hist, approx)")
    }

  /** hist fit with an eval WATCH set (ref watches + EvalOneIter,
    * `src/learner.cc:1164`; early stopping `python-package/xgboost/
    * callback.py:311`): the eval set is binned with the TRAIN cuts, its
    * margin cache advances with every committed tree, and
    * `earlyStoppingRounds` stops training when the watch metric stops
    * improving — the returned model is truncated to the best iteration. */
  def fit(data: RDD[(Array[Double], Double, Double)],
      evalSet: RDD[(Array[Double], Double, Double)]): BoosterModel =
    fitWatches(data, Seq("eval" -> evalSet))

  /** Named watchlist fit (ref `xgb.train(evals=[(dtrain,'train'),...])`,
    * `learner.cc` EvalOneIter): every watch set is binned with the TRAIN
    * cuts and evaluated each round; the LAST entry drives early stopping.
    * Full per-watch log via [[evalHistoryFull]]. */
  def fitWatches(data: RDD[(Array[Double], Double, Double)],
      watches: Seq[(String, RDD[(Array[Double], Double, Double)])]): BoosterModel = {
    require(params.treeMethod == "hist", "eval watches support tree_method=hist only")
    prepareDense(data) { p =>
      fitBinned(p.binned, p.cuts, p.cuts.numFeatures, watches.map { case (n, d) => (n, p.bin(d)) })
    }
  }

  /** Per-row base-margin fit (ref `base_margin_` in MetaInfo,
    * `include/xgboost/data.h:77`; margins replace base_score as the
    * boosting start point): rows are (features, label, weight, baseMargin).
    * The returned model's baseScore is 0 — at predict time the caller adds
    * its own margins, exactly like the reference's inplace-predict with
    * base_margin. Single-output hist only. */
  def fitWithBaseMargin(data: RDD[(Array[Double], Double, Double, Double)]): BoosterModel = {
    require(params.treeMethod == "hist", "base margins support tree_method=hist only")
    require(!isMulti, "per-row base margins support single-output objectives only")
    prepareWithMargins(data, Array(0.0), 0)(r => (r._1, r._3),
      (r, cuts, id) => (BInst(cuts.binRow(r._1), r._2, r._3, id), Array(r._4)))
  }

  /** Continue boosting from an existing model (the reference's `xgb_model`
    * continuation, `python-package/xgboost/training.py:40-46` /
    * `Learner::Configure` resuming BoostedRounds): numRounds NEW trees are
    * appended, with margins seeded from the previous model's predictions.
    * gbtree + hist only (dart dropout would have to rescale prior trees). */
  def fitContinue(data: RDD[(Array[Double], Double, Double)], prev: BoosterModel): BoosterModel = {
    require(params.treeMethod == "hist", "continuation supports tree_method=hist only")
    require(params.booster != "dart", "continuation supports the gbtree booster only")
    require(prev.numGroups == numGroups,
      s"previous model has ${prev.numGroups} output groups, params give $numGroups")
    val bPrev = data.sparkContext.broadcast(prev)
    val cont =
      try prepareWithMargins(data, prev.baseScore.clone(), prev.numFeatures)(r => (r._1, r._3),
        (r, cuts, id) => (BInst(cuts.binRow(r._1), r._2, r._3, id), bPrev.value.margin(r._1)))
      finally bPrev.destroy()
    BoosterModel(prev.trees ++ cont.trees, prev.treeWeights ++ cont.treeWeights,
      prev.treeGroup ++ cont.treeGroup, prev.baseScore, params.objective,
      numGroups, cont.numFeatures)
  }

  /** hist fit from per-row initial margins, built in the binning pass so
    * that each margin pairs with its own row; `sketch` gives a row's
    * (features, weight), and the trees start from `base`. */
  private def prepareWithMargins[T: scala.reflect.ClassTag](data: RDD[T], base: Array[Double],
      minFeatures: Int)(sketch: T => (Array[Double], Double),
      binRow: (T, HistogramCuts, Long) => (BInst, Array[Double])): BoosterModel =
    TrainingInput.prepare(params, data)(
      rows => TrainingInput.denseCuts(params, rows.map(sketch)), binRow) { p =>
      fitBinned(p.binned.map(_._1), p.cuts, math.max(p.cuts.numFeatures, minFeatures),
        initMargins = Some(p.binned.map(_._2)), baseOverride = Some(base))
    }

  /** (iteration, watch-metric value) per evaluated round of the last fit. */
  def evalHistory: Seq[(Int, Double)] = lastHistory.toSeq

  /** Per-iteration eval log over EVERY watch set, keyed "<name>-<metric>"
    * (bare metric name for the implicit train watch) — the reference's
    * `evals_result` surface. */
  def evalHistoryFull: Seq[(Int, Map[String, Double])] = lastFullHistory.toSeq
  /** best (lowest/highest) watch-metric iteration of the last fit. */
  def bestIteration: Int = lastBestIteration
  private val lastHistory = new ArrayBuffer[(Int, Double)]
  private val lastFullHistory = new ArrayBuffer[(Int, Map[String, Double])]

  /** Fitted t⁺/t⁻ position-bias ratios after an unbiased LambdaRank fit
    * (the reference exposes them as objective config "ti+"/"tj-"). */
  def positionBias: Option[(Array[Double], Array[Double])] = lastPositionBias
  private var lastPositionBias: Option[(Array[Double], Array[Double])] = None
  private var lastBestIteration: Int = -1

  /** grow_histmaker / approx (`src/tree/updater_approx.cc:46-100`): the
    * quantile sketch is REBUILT every iteration with the current hessians
    * as sketch weights (`BatchParam.hess` regen), concentrating bins where
    * the loss curvature is — then one tree is grown on the fresh binning.
    * Costs one sketch + re-bin pass per iteration on top of hist.
    * Single-output per-row objectives only (the reference gates approx the
    * same way for risk-set objectives). */
  private def fitApprox(data: RDD[(Array[Double], Double, Double)]): BoosterModel = {
    require(!isMulti, "tree_method=approx supports single-output objectives only")
    require(params.booster != "dart", "tree_method=approx supports the gbtree booster only")
    require(params.numParallelTree <= 1, "num_parallel_tree requires tree_method=hist")
    val obj = Objective(params.objective,
      maxDeltaStep = if (params.maxDeltaStep > 0) params.maxDeltaStep else 0.7,
      alpha = params.quantileAlpha, rho = params.tweedieVariancePower,
      delta = params.pseudoHuberSlope, scalePosWeight = params.scalePosWeight)
    require(!obj.needsGlobalGradients && !obj.usesIntervalLabels,
      s"tree_method=approx does not support ${params.objective}")
    val sc = data.sparkContext
    Owned { owned =>
      // the laid-out rows are read twice: the fused validation pass (label
      // and weight checks, base-score stats, unified column count), then
      // the margin-packed cache below
      val (cache0, base, numFeatures) =
        TrainingInput.withRereadable(TrainingInput.atFloor(data, params)) { rows =>
          val stats = TrainingInput.validate(rows, params.objective)(
            r => obj.validLabel(r._2), _._2, _._3, _._1.length)
          val labelMean = if (stats.sumW > 0) stats.sumWy / stats.sumW else 0.0
          val base = Array(params.baseScore.map(obj.probToMargin).getOrElse(obj.baseScore(labelMean)))
          // margins packed with the RAW rows (re-binned every iteration, so
          // the persistent pair carries features, not bins); the
          // per-iteration binned twin is derived 1:1 from this cache and
          // written back through a same-iteration positional zip of parent
          // and direct child — never a zip across persisted generations
          val c = owned.persist(rows.map(r => (r, base.clone())))
          c.count()
          (c, base, stats.width)
        }
      var cacheRaw = cache0

      val colSampler = new ColumnSampler(numFeatures, params.seed, params.featureWeights)
      val treesBuf = new ArrayBuffer[Tree]
      var iter = 0
      while (iter < params.numRounds) {
        if (obj.needsScale) {
          val (s1, s2) = graft.Agg.aggregate(cacheRaw)((0.0, 0.0))(
            { case ((a1, a2), (r, m)) =>
              val res = math.abs(r._2 - m(0))
              (a1 + r._3 * math.sqrt(res), a2 + r._3)
            }, (a, b) => (a._1 + b._1, a._2 + b._2))
          obj.setScale(s1, s2)
        }
        // hessian-weighted re-sketch (updater_approx.cc:46-53)
        val cuts = Binning.findCuts(cacheRaw.map { case ((f, y, w), m) =>
          val o = new Array[Double](2)
          obj.gradient(m(0), y, o)
          (f, math.max(o(1) * w, 1e-16))
        }, numFeatures, params.maxBin)
        val binned = owned.persist(cacheRaw.zipWithUniqueId().map { case (((f, y, w), m), id) =>
          (BInst(cuts.binRow(f), y, w, id), m)
        })
        binned.count()

        val shape = growTree(binned, None, cuts, numFeatures, obj, null, 0,
          iter, colSampler, Array.empty)
        treesBuf += shapeToTree(shape, cuts)

        val bShape = sc.broadcast(shape)
        val old = cacheRaw
        cacheRaw = owned.persist(binned.zip(old).map { case ((r, m), (row, _)) =>
          val o = m.clone(); o(0) += params.eta * bShape.value.predictLeaf(r)(0); (row, o)
        })
        if ((iter + 1) % params.checkpointInterval == 0) cacheRaw.localCheckpoint()
        cacheRaw.count()
        owned.unpersist(old)
        owned.unpersist(binned)
        iter += 1
      }
      val n = treesBuf.length
      BoosterModel(treesBuf.toArray, Array.fill(n)(params.eta), Array.fill(n)(0), base,
        params.objective, 1, numFeatures)
    }
  }

  /** survival:aft entry: (features, lowerBound, upperBound, weight) with
    * upperBound = NaN or +Inf for right-censored rows (ref interval labels
    * `labels_lower_bound_`/`labels_upper_bound_`, `include/xgboost/
    * data.h:77`). */
  def fitSurvival(data: RDD[(Array[Double], Double, Double, Double)]): BoosterModel = {
    require(params.treeMethod == "hist", "survival objectives support tree_method=hist only")
    TrainingInput.prepare(params, data)(
      rows => TrainingInput.denseCuts(params, rows.map(r => (r._1, r._4))),
      (r, cuts, id) => BInst(cuts.binRow(r._1), r._2, r._4, id, label2 = r._3)) { p =>
      fitBinned(p.binned, p.cuts, p.cuts.numFeatures)
    }
  }

  /** Sparse entry (ref CSR adapter `src/data/adapter.h:216-308`): rows are
    * (sorted feature indices, parallel values, label, weight); absent
    * features are missing (same routing as NaN). Identical cuts, histograms
    * and trees as the equivalent NaN-dense encoding, at O(nnz) row cost. */
  def fitSparse(data: RDD[(Array[Int], Array[Double], Double, Double)],
      numFeatures: Int): BoosterModel = {
    require(params.treeMethod == "hist", "sparse input supports tree_method=hist only")
    TrainingInput.prepare(params, data)(
      rows => Binning.findCutsSparse(rows.map(r => (r._1, r._2, r._4)), numFeatures, params.maxBin),
      (r, cuts, id) => BInst(cuts.binRowSparse(r._1, r._2), r._3, r._4, id, idx = r._1)) { p =>
      fitBinned(p.binned, p.cuts, numFeatures)
    }
  }

  /** rank:* entry: (features, relevance label, weight, qid). The rows are
    * co-partitioned by qid ONCE, and sorted by qid within each partition
    * (the reference Spark layer's `sortPartitionIfNeeded`,
    * `XGBoostEstimator.scala:142-144`), so every per-iteration λ-gradient
    * pass is a shuffle-free partition walk over contiguous groups. */
  def fitRanking(data: RDD[(Array[Double], Double, Double, Long)]): BoosterModel = {
    require(params.treeMethod == "hist", "rank objectives support tree_method=hist only")
    TrainingInput.prepare(params, data)(
      rows => TrainingInput.denseCuts(params, rows.map(r => (r._1, r._3))),
      (r, cuts, id) => BInst(cuts.binRow(r._1), r._2, r._3, id, qid = r._4), qid = _._4) { p =>
      fitBinned(p.binned, p.cuts, p.cuts.numFeatures)
    }
  }

  /** Boosts over already-binned rows: the loop every entry point runs once
    * [[TrainingInput.prepare]] has built the binned cache. `binnedIn` is
    * read, never persisted or released; the caches this fit persists
    * (margins, watch sets, sorted rows) are released when it returns or
    * throws. `initMargins` must pair 1:1 with `binnedIn` (two maps of one
    * persisted RDD do). */
  def fitBinned(binnedIn: RDD[BInst], cuts: HistogramCuts, numFeatures: Int,
      watchSets: Seq[(String, RDD[BInst])] = Nil,
      initMargins: Option[RDD[Array[Double]]] = None,
      baseOverride: Option[Array[Double]] = None): BoosterModel =
    Owned(boost(binnedIn, cuts, numFeatures, watchSets, initMargins, baseOverride, _))

  private def boost(binnedIn: RDD[BInst], cuts: HistogramCuts, numFeatures: Int,
      watchSets: Seq[(String, RDD[BInst])], initMargins: Option[RDD[Array[Double]]],
      baseOverride: Option[Array[Double]], owned: Owned): BoosterModel = {
    val sc = binnedIn.sparkContext
    val softmax = if (isMulti) new SoftmaxObjective(params.numClass, params.objective == "multi:softprob") else null
    val obj: Objective =
      if (isMulti) null
      else customObj.getOrElse(Objective(params.objective,
        maxDeltaStep = if (params.maxDeltaStep > 0) params.maxDeltaStep else 0.7,
        alpha = params.quantileAlpha, rho = params.tweedieVariancePower,
        delta = params.pseudoHuberSlope,
        aftDistribution = params.aftDistribution, aftScale = params.aftScale,
        rankExpGain = params.ndcgExpGain, rankTopK = params.lambdarankTopK,
        rankPairMethod = params.lambdarankPairMethod, rankNumPair = params.lambdarankNumPair,
        rankUnbiased = params.lambdarankUnbiased, rankBiasNorm = params.lambdarankBiasNorm,
        rankNormalization = params.lambdarankNormalization,
        rankScoreNormalization = params.lambdarankScoreNormalization,
        scalePosWeight = params.scalePosWeight))
    val needsGlobalGrads = !isMulti && obj.needsGlobalGradients
    if (needsGlobalGrads && params.booster == "dart")
      throw new IllegalArgumentException(
        s"${params.objective} does not compose with dart dropout (risk-set gradients need the full-ensemble margin)")

    // fail-fast label/weight validation fused with the base-score stats
    val kMulti = params.numClass
    val multi = isMulti
    val intervalLabels = !isMulti && obj.usesIntervalLabels
    val stats = TrainingInput.validate(binnedIn, params.objective)(
      r =>
        if (multi) r.label >= 0 && r.label < kMulti && r.label == math.floor(r.label)
        else if (intervalLabels) obj.validInterval(r.label, r.label2)
        else obj.validLabel(r.label),
      _.label, _.weight, _ => 0)

    // survival:cox needs |label|-sorted data for its risk-set scans; the
    // order is fixed across iterations, so sort ONCE per fit (range
    // partitioning keeps it distributed) and run every pass on the sorted
    // copy. rank:* objectives instead require qid-contiguous partitions,
    // which fitRanking establishes before binning — no re-sort here.
    val needsCoxSort = needsGlobalGrads && !obj.isInstanceOf[LambdaRankObjective]
    val binned =
      if (needsCoxSort) {
        val sorted = owned.persist(binnedIn.sortBy(r => math.abs(r.label)))
        sorted.count()
        sorted
      } else binnedIn

    // ---- base score (ref FitStump / InitEstimation, fit_stump.cc:50-82) ----
    require(initMargins.isEmpty || !needsCoxSort,
      "per-row initial margins do not compose with risk-set objectives (binned rows are re-sorted)")
    val base: Array[Double] = baseOverride.getOrElse {
      val labelMean = if (stats.sumW > 0) stats.sumWy / stats.sumW else 0.0
      if (isMulti) Array.fill(numGroups)(0.0)
      else Array(params.baseScore.map(obj.probToMargin).getOrElse(obj.baseScore(labelMean)))
    }

    // The prediction cache is PACKED into the row: one RDD[(BInst,
    // margins)] instead of a second RDD zip-aligned to `binned` — no
    // cross-generation zip to mis-align, and one cached block per
    // partition instead of two. The one construction-time zip (caller-
    // supplied initMargins for continuation / base_margin) pairs two maps
    // of the same persisted binning pass — positional by construction. The all-base
    // initial cache is a constant-per-row map over the already-persisted
    // binned rows: leaving it lazy skips one persist+count job and its
    // storage; the first advance/flush persists its successor.
    var cache: RDD[(BInst, Array[Double])] = initMargins match {
      case Some(m) =>
        val p = owned.persist(binned.zip(m)); p.count(); p
      case None => binned.map(r => (r, base.clone()))
    }
    var watchCaches: Array[RDD[(BInst, Array[Double])]] = watchSets.map { case (_, eb) =>
      val em = owned.persist(eb.map(r => (r, base.clone())))
      em.count(); em
    }.toArray

    val shapes = new ArrayBuffer[TreeShape]
    val treeGroupBuf = new ArrayBuffer[Int]
    val treeWeightsBuf = new ArrayBuffer[Double]
    val rng = new java.util.Random(params.seed)
    val colSampler = new ColumnSampler(numFeatures, params.seed, params.featureWeights)

    // watch / early-stopping state (ref EvalOneIter + EarlyStopping): a fit
    // watches when it is given watch sets, or asked for a metric, early
    // stopping or a user metric; callbacks alone see an empty evalLog
    val watching = watchSets.nonEmpty || params.earlyStoppingRounds > 0 ||
      params.evalMetric.isDefined || params.evalMetrics.nonEmpty || customMetric.isDefined
    lazy val watchSession = Watch.session()
    lastHistory.clear()
    lastFullHistory.clear()
    lastBestIteration = -1
    var bestValue = Double.NaN
    var roundsSinceBest = 0
    var stop = false
    var stopFromCallback = false // callback stop keeps all trees (no truncation)

    // ---- prediction cache (gbtree.cc:631-660) ----
    // New trees and DART weight deltas go on `pending`, and the margin
    // caches are rewritten — one Spark job each — only when it flushes.
    // Until then `gradOf` adds the pending trees to the cached margins on
    // the fly (DART dropout subtracts w·leaf, so a pending tree rides the
    // same list at weight −w); the risk-set and ranking gradient passes
    // take the list too. The list flushes every round when something reads
    // the cached margins mid-loop: DART (its dropout owns the list), the
    // watch, the per-round scale stats; else every `marginFlushInterval`
    // trees. Tree contributions are added in the same order either way,
    // so the model is bit-identical; the caches are never read after the
    // loop, so the last partial batch is never flushed.
    val flushTrees =
      if (params.booster == "dart" || watching || (!isMulti && obj.needsScale)) 1
      else math.max(1, params.marginFlushInterval)
    val pending = new ArrayBuffer[(TreeShape, Double, Int)]
    var flushCount = 0

    // ---- Unbiased LambdaMART position-bias state (driver-side: 4 arrays
    // of maxPositions ≤ 32 doubles; ref lambdarank_obj.cc li_full_/
    // lj_full_/ti_plus_/tj_minus_). t± start at 1 (no bias assumed) and
    // are re-fit from the accumulated eq.30/31 numerators each iteration.
    val unbiasedLR: Option[LambdaRankObjective] = obj match {
      case lr: LambdaRankObjective if lr.unbiased => Some(lr)
      case _ => None
    }
    val biasK = unbiasedLR.map(_.maxPositions).getOrElse(0)
    val tPlus = Array.fill(biasK)(1.0)
    val tMinus = Array.fill(biasK)(1.0)
    val liTotal = new Array[Double](biasK)
    val ljTotal = new Array[Double](biasK)

    // ---- ranking group-weight normalizer (RankingCache,
    // ranking_utils.cc:37-44): w_norm = n_groups / Σ_g weight(g), the
    // group weight read from each group's FIRST row (the reference's
    // one-weight-per-query contract; unit weights ⇒ 1.0, so unweighted
    // fits are unchanged). Every λ-pair is scaled `· w · w_norm`
    // (lambdarank_obj.cc:247-250) — uniformly rescaled group weights
    // leave the trained model identical. One pass, computed once per fit
    // (weights never change across iterations).
    val rankWeightNorm: Double = obj match {
      case _: LambdaRankObjective =>
        val (nGroups, sumGW) = graft.Agg.reducePartitions(cache) { it =>
          var n = 0L; var s = 0.0; var last = 0L; var first = true
          it.foreach { case (r, _) =>
            if (first || r.qid != last) { n += 1; s += r.weight; last = r.qid; first = false }
          }
          (n, s)
        }((a, b) => (a._1 + b._1, a._2 + b._2))
        if (sumGW > 0) nGroups.toDouble / sumGW else 1.0
      case _ => 1.0
    }
    def flushPending(): Unit = {
      flushCount += 1
      // lineage grows one map per flush; truncate about every checkpointInterval rounds
      val checkpoint = flushCount % math.max(1, params.checkpointInterval / flushTrees) == 0
      val trees = sc.broadcast(pending.toArray)
      cache = RoundPasses.advance(cache, trees, checkpoint, owned)
      watchCaches = watchCaches.map(RoundPasses.advance(_, trees, checkpoint, owned))
      pending.clear()
    }

    var iter = 0
    while (iter < params.numRounds && !stop) {
      callbacks.foreach(_.beforeIteration(iter))
      // per-iteration objective scale stats (absoluteerror / quantile)
      if (!isMulti && obj.needsScale) {
        val (s1, s2) = graft.Agg.aggregate(cache)((0.0, 0.0))(
          { case ((a1, a2), (r, m)) =>
            val res = math.abs(r.label - m(0))
            (a1 + r.weight * math.sqrt(res), a2 + r.weight)
          },
          (a, b) => (a._1 + b._1, a._2 + b._2))
        obj.setScale(s1, s2)
      }

      // per-round learning rate: a LearningRateScheduler callback overrides
      // params.eta for this round's tree weight (eta lives in tree weights,
      // so the schedule lands in the committed model and the margin cache)
      val iterEta = callbacks.collectFirst {
        case s: LearningRateScheduler => s.etaFor(iter)
      }.getOrElse(params.eta)
      // DART: choose dropped trees for this iteration
      val (droppedIdx, newTreeWeight, dropFactor) = dartDrop(treeWeightsBuf, rng, iterEta)
      val dartDroppedShapes = droppedIdx.map(i => (shapes(i), treeWeightsBuf(i), treeGroupBuf(i)))
      // pending (deferred-cache) trees ride the same adjustment list with
      // negated weights: adjustedMargin's `out -= (−w)·leaf` ≡ `out += w·leaf`
      val droppedShapes =
        if (pending.isEmpty) dartDroppedShapes
        else dartDroppedShapes ++ pending.map { case (sh, w, g) => (sh, -w, g) }

      // risk-set objectives (survival:cox): per-row (g,h) precomputed once
      // per iteration from global order statistics, cached for reuse by
      // every tree level's histogram pass
      val globalGrads: Option[RDD[Array[Double]]] =
        if (needsGlobalGrads) {
          val pendingArr = pending.toArray
          val raw = obj match {
            case lr: LambdaRankObjective =>
              LambdaRankGradients.compute(cache, lr, pendingArr,
                if (lr.unbiased) tPlus else null, if (lr.unbiased) tMinus else null,
                rankWeightNorm)
            case _ => CoxGradients.compute(cache, pendingArr)
          }
          val g = owned.persist(raw)
          RoundPasses.materialize(g)
          // position-bias update (UpdatePositionBias, lambdarank_obj.cc:103):
          // accumulate this iteration's per-position numerators into the
          // running totals, then re-fit t±(i) = (l(i)/l(0))^regularizer
          unbiasedLR.foreach { lr =>
            val (li, lj) = LambdaRankGradients.positionBias(
              cache, lr, pendingArr, tPlus, tMinus)
            var i = 0
            while (i < biasK) { liTotal(i) += li(i); ljTotal(i) += lj(i); i += 1 }
            val reg = lr.regularizer
            i = 0
            while (i < biasK) {
              if (liTotal(0) >= 1e-16) tPlus(i) = math.pow(liTotal(i) / liTotal(0), reg)
              if (ljTotal(0) >= 1e-16) tMinus(i) = math.pow(ljTotal(i) / ljTotal(0), reg)
              i += 1
            }
          }
          Some(g)
        } else None

      // gradient-based sampling: one pass for this iteration's mean
      // regularized gradient magnitude (ref CalcSamplingInfo,
      // sampler.cc:39-77); the aggregations then sample ∝ u/ū with 1/p
      // rescaling
      if (gradBased) {
        require(!isMulti, "sampling_method=gradient_based supports single-output objectives")
        val (uSum, n) = RoundPasses.magnitudeSum(cache, globalGrads,
          rowGrad(obj, softmax, 0, iter, droppedShapes))
        gbMeanU = if (n > 0) uSum / n else 1.0
      }

      // num_parallel_tree (ref InitNewTrees loop `src/gbm/gbtree.cc:282`):
      // K trees per group per round, all from the SAME gradients but with
      // per-tree sampling streams (virtual iteration salt), each committed
      // at weight/K so the complete layer uses the full weight — a bagged
      // forest layer (gbtree.cc:539).
      val kPar = math.max(params.numParallelTree, 1)
      val newShapes = new Array[TreeShape](numGroups * kPar)
      val newGroups = new Array[Int](numGroups * kPar)
      var k = 0
      while (k < numGroups * kPar) {
        val grp = k / kPar
        val saltIter = if (kPar == 1) iter else iter * kPar + (k % kPar)
        newShapes(k) = growTree(cache, globalGrads, cuts, numFeatures, obj, softmax, grp, saltIter, colSampler, droppedShapes)
        newGroups(k) = grp
        k += 1
      }

      // commit: eta lives in the TREE WEIGHT, not the leaf, so DART
      // renormalization (ref NormalizeTrees, `src/gbm/gbtree.h:370`)
      // composes: dropped trees scaled by k/(k+eta), new tree eta/(k+eta).
      val kDrop = droppedIdx.length
      val weightDeltas: Array[(Int, Double)] =
        if (params.booster == "dart" && kDrop > 0) {
          droppedIdx.map { i =>
            val old = treeWeightsBuf(i)
            treeWeightsBuf(i) = old * dropFactor
            (i, treeWeightsBuf(i) - old)
          }
        } else Array.empty
      val newW = newTreeWeight / kPar
      newShapes.zipWithIndex.foreach { case (s, i) =>
        shapes += s; treeGroupBuf += newGroups(i); treeWeightsBuf += newW
      }

      // the new trees at newW, then the DART weight deltas of the dropped trees
      pending ++= newShapes.indices.map(p => (newShapes(p), newW, newGroups(p)))
      pending ++= weightDeltas.map { case (i, d) => (shapes(i), d, treeGroupBuf(i)) }
      if (pending.length >= flushTrees) flushPending()
      globalGrads.foreach(owned.unpersist)

      // ---- watch metrics + early stopping (learner.cc:1164 EvalOneIter,
      // callback.py:311) ---- every watch set is evaluated each round; the
      // LAST entry drives early stopping (reference watchlist semantics:
      // "the last entry in evals will be used for early stopping"). With
      // no explicit watches the training set itself is the implicit watch
      // and log keys stay the bare metric name; named watches log as
      // "<name>-<metric>" like the reference's printed eval lines.
      val evalLog: Map[String, Double] = if (!watching) Map.empty else {
        val watchList =
          if (watchSets.nonEmpty) watchSets.map(_._1).zip(watchCaches) else Seq(("", cache))
        // every metric in the list is evaluated per watch; the LAST one of
        // the LAST watch drives early stopping (reference semantics for a
        // repeated eval_metric param)
        val metricNames: Seq[String] =
          if (params.evalMetrics.nonEmpty) params.evalMetrics
          else Seq(params.evalMetric.getOrElse(
            if (isMulti) "mlogloss" else obj.defaultMetric))
        val evals = watchList.flatMap { case (wName, c) =>
          Watch.evaluate(watchSession, c, obj, params, metricNames, customMetric)
            .map { case (mName, v, maximize) =>
              (if (wName.isEmpty) mName else s"$wName-$mName", v, maximize)
            }
        }
        val (_, v, maximize) = evals.last
        lastHistory += ((iter, v))
        val improved = bestValue.isNaN || (if (maximize) v > bestValue else v < bestValue)
        if (improved) { bestValue = v; lastBestIteration = iter; roundsSinceBest = 0 }
        else {
          roundsSinceBest += 1
          if (params.earlyStoppingRounds > 0 && roundsSinceBest >= params.earlyStoppingRounds)
            stop = true
        }
        val log = evals.map { case (k, value, _) => (k, value) }.toMap
        lastFullHistory += ((iter, log))
        log
      }
      if (callbacks.exists(_.afterIteration(iter, evalLog))) {
        stop = true; stopFromCallback = true
      }
      if (callbacks.nonEmpty) {
        // lazy model-as-of-this-round builder (checkpoint callbacks);
        // committed trees only — costs nothing unless a callback calls it
        val snap = () => BoosterModel(shapes.toArray.map(shapeToTree(_, cuts)),
          treeWeightsBuf.toArray, treeGroupBuf.toArray, base,
          params.objective, numGroups, numFeatures)
        callbacks.foreach(_.afterIterationSnapshot(iter, snap))
      }
      iter += 1
    }
    callbacks.foreach(_.afterTraining(lastBestIteration))
    unbiasedLR.foreach(_ => lastPositionBias = Some((tPlus.clone(), tMinus.clone())))

    // early stop ⇒ truncate to the best iteration
    // (numGroups × num_parallel_tree trees per round = one layer)
    val layer = numGroups * math.max(params.numParallelTree, 1)
    val keep =
      if (stop && !stopFromCallback && lastBestIteration >= 0) (lastBestIteration + 1) * layer
      else shapes.length
    val trees = shapes.take(keep).toArray.map(shapeToTree(_, cuts))
    BoosterModel(trees, treeWeightsBuf.take(keep).toArray, treeGroupBuf.take(keep).toArray,
      base, params.objective, numGroups, numFeatures)
  }

  /** DART dropout selection + new-tree weight + dropped-tree rescale
    * factor (ref DropTrees `src/gbm/gbtree.cc:566-608` / NormalizeTrees
    * `:537-563`). Our leaves are unscaled with eta carried in treeWeights
    * (reference folds lr into leaves with weight_drop on top — same math):
    * no-drop rounds commit at weight eta, so rate_drop=0 dart boosts
    * identically to gbtree.
    *
    * sample_type=weighted: drop prob_i = rate_drop·N·w_i/Σw (weight ratios
    * are identical in both weight conventions, the lr factor cancels).
    * normalize_type=tree: new eta/(k+eta), dropped ×k/(k+eta);
    * normalize_type=forest: new eta/(1+eta), dropped ×1/(1+eta). */
  private def dartDrop(weights: scala.collection.Seq[Double],
      rng: java.util.Random, eta: Double): (Array[Int], Double, Double) = {
    if (params.booster != "dart") return (Array.empty, eta, 1.0)
    val numTrees = weights.length
    if (numTrees == 0) return (Array.empty, eta, 1.0)
    if (params.skipDrop > 0 && rng.nextDouble() < params.skipDrop)
      return (Array.empty, eta, 1.0)
    val weighted = params.sampleType == "weighted"
    val sumW = if (weighted) weights.sum else 0.0
    val dropped =
      if (weighted && sumW > 0)
        (0 until numTrees).filter(i =>
          rng.nextDouble() < params.rateDrop * numTrees * weights(i) / sumW).toArray
      else (0 until numTrees).filter(_ => rng.nextDouble() < params.rateDrop).toArray
    val finalDropped =
      if (dropped.nonEmpty || !params.oneDrop) dropped
      else if (weighted && sumW > 0) {
        // discrete draw ∝ weight (ref one_drop weighted branch)
        var u = rng.nextDouble() * sumW
        var i = 0
        while (i < numTrees - 1 && u >= weights(i)) { u -= weights(i); i += 1 }
        Array(i)
      } else Array(rng.nextInt(numTrees))
    val k = finalDropped.length
    if (k == 0) (finalDropped, eta, 1.0)
    else if (params.normalizeType == "forest")
      (finalDropped, eta / (1.0 + eta), 1.0 / (1.0 + eta))
    else (finalDropped, eta / (k + eta), k.toDouble / (k + eta))
  }

  /** Grow one tree for output group `grp` (ref `src/tree/driver.h:1-126`,
    * `grow_policy` `src/tree/param.h:38,99-106`). One driver serves both
    * expand policies. It keeps a queue of the nodes whose best split
    * gains; each pass expands either the single best of them (lossguide,
    * by `(gain, -nid)`) or every queued node — all at the current depth —
    * in nid order, up to `maxLeaves` (depthwise, ref UpdateTree
    * `updater_quantile_hist.cc:96-180`). The pass then builds the smaller
    * child of every expanded node in ONE histogram aggregation and derives
    * each sibling by subtraction from its parent (ref BuildHistLeftRight,
    * `histogram.h:203-213,386-425`); it is skipped when the children sit
    * at the depth cap or no leaf is left to spend. A depthwise tree costs
    * one aggregation per level, a lossguide tree one per split — the price
    * of unbalanced trees. `maxDepth = 0` means no split for depthwise and
    * no depth cap for lossguide. */
  private def growTree(
      cache: RDD[(BInst, Array[Double])],
      globalGrads: Option[RDD[Array[Double]]], cuts: HistogramCuts,
      numFeatures: Int, obj: Objective, softmax: SoftmaxObjective, grp: Int,
      iter: Int, colSampler: ColumnSampler,
      droppedShapes: Array[(TreeShape, Double, Int)]): TreeShape = {
    val lossguide = params.growPolicy match {
      case "depthwise" => false
      case "lossguide" => true
      case other => throw new IllegalArgumentException(
        s"unknown grow_policy: $other (supported: depthwise, lossguide)")
    }
    val depthCap = if (lossguide && params.maxDepth == 0) Int.MaxValue else params.maxDepth
    val maxLeaves = if (params.maxLeaves > 0) params.maxLeaves else Int.MaxValue
    val rg = rowGrad(obj, softmax, grp, iter, droppedShapes)
    val treeCols = colSampler.sampleTree(iter, params.colsampleBytree)
    val (rootG, rootH) = RoundPasses.totals(cache, globalGrads, rg)
    val nodes = ArrayBuffer(new BuildNode(rootG, rootH, 0))
    if (params.interactionConstraints.nonEmpty)
      nodes(0).allowed = Some((0 until numFeatures).toSet)

    // a node's histogram is kept while the node waits in the queue
    val hists = collection.mutable.Map[Int, Array[Double]]()
    val queue = new ArrayBuffer[(Int, SplitCandidate)]
    def evaluate(nid: Int): Unit = {
      val n = nodes(nid)
      val sampled = colSampler.sampleNode(
        colSampler.sampleLevel(treeCols, iter, n.depth, params.colsampleBylevel),
        iter, n.depth, nid, params.colsampleBynode)
      val cols = n.allowed.fold(sampled)(a => sampled.filter(a.contains))
      SplitEnumerator.bestSplit(hists(nid), cuts, cols, n.g, n.h, params,
        n.lowerBound, n.upperBound) match {
        case Some(c) if c.gain > 0 => queue += ((nid, c))
        case _ => hists.remove(nid)
      }
    }
    def build(nids: Array[Int]): Array[Array[Double]] =
      RoundPasses.histograms(cache, globalGrads, rg, cuts, nids, nodesShape(nodes))

    var leaves = 1
    if (depthCap > 0 && leaves < maxLeaves) { hists(0) = build(Array(0))(0); evaluate(0) }
    while (queue.nonEmpty && leaves < maxLeaves) {
      val expand =
        if (lossguide) {
          val best = queue.maxBy { case (nid, c) => (c.gain, -nid) }
          queue -= best
          Seq(best)
        } else {
          val level = queue.take(maxLeaves - leaves).toSeq
          queue.clear()
          level
        }
      expand.foreach { case (nid, c) => applySplit(nodes, nid, c); leaves += 1 }
      // the children of one pass share a depth
      val parents = expand.map { case (nid, _) => (nodes(nid), hists.remove(nid).get) }
      if (parents.head._1.depth + 1 < depthCap && leaves < maxLeaves) {
        val small = parents.map { case (p, _) =>
          if (nodes(p.left).h <= nodes(p.right).h) p.left else p.right }.toArray
        val built = build(small)
        parents.indices.foreach { i =>
          val (p, ph) = parents(i)
          val sib = new Array[Double](ph.length)
          var j = 0
          while (j < ph.length) { sib(j) = ph(j) - built(i)(j); j += 1 }
          hists(small(i)) = built(i)
          hists(if (small(i) == p.left) p.right else p.left) = sib
        }
        parents.foreach { case (p, _) => evaluate(p.left); evaluate(p.right) }
      }
    }
    // every node (internal too) gets its would-be leaf weight so the
    // prune updater can collapse splits exactly (ref CollapseToLeaf)
    nodes.foreach { n =>
      n.weight = SplitEnumerator.calcWeight(n.g, n.h, params, n.lowerBound, n.upperBound)
    }
    nodesShape(nodes)
  }

  /** The per-row gradient of one tree, shipped with its passes. */
  private def rowGrad(obj: Objective, softmax: SoftmaxObjective, grp: Int, iter: Int,
      dropped: Array[(TreeShape, Double, Int)]): RowGrad =
    new RowGrad(params, obj, softmax, grp, iter, dropped, gbMeanU)

  private def applySplit(nodes: ArrayBuffer[BuildNode], nid: Int, c: SplitCandidate): Unit = {
    val n = nodes(nid)
    n.feature = c.feature; n.splitBin = c.splitBin; n.defaultLeft = c.defaultLeft
    n.gain = c.gain; n.catRight = c.catRight
    val l = new BuildNode(c.gl, c.hl, n.depth + 1, n.lowerBound, n.upperBound)
    val r = new BuildNode(c.gr, c.hr, n.depth + 1, n.lowerBound, n.upperBound)
    // monotone constraints (ref split_evaluator.h:71-440): tighten bounds
    val mono = if (params.monotoneConstraints.isEmpty) 0 else params.monotoneConstraints(c.feature)
    if (mono != 0) {
      val mid = (c.wl + c.wr) * 0.5
      if (mono > 0) { l.upperBound = math.min(l.upperBound, mid); r.lowerBound = math.max(r.lowerBound, mid) }
      else { l.lowerBound = math.max(l.lowerBound, mid); r.upperBound = math.min(r.upperBound, mid) }
    }
    // interaction constraints (ref src/tree/constraints.cc)
    n.allowed.foreach { a =>
      val newAllowed = params.interactionConstraints
        .filter(_.contains(c.feature)).foldLeft(Set.empty[Int])(_ ++ _)
      val childAllowed = a.intersect(if (newAllowed.isEmpty) Set(c.feature) else newAllowed)
      l.allowed = Some(childAllowed); r.allowed = Some(childAllowed)
    }
    nodes += l
    n.left = nodes.length - 1
    nodes += r
    n.right = nodes.length - 1
  }

  private def nodesShape(nodes: ArrayBuffer[BuildNode]): TreeShape = {
    val n = nodes.length
    TreeShape(
      Array.tabulate(n)(i => nodes(i).feature),
      Array.tabulate(n)(i => nodes(i).splitBin),
      Array.tabulate(n)(i => nodes(i).defaultLeft),
      Array.tabulate(n)(i => nodes(i).left),
      Array.tabulate(n)(i => nodes(i).right),
      Array.tabulate(n)(i => nodes(i).catRight),
      Array.tabulate(n)(i => Array(nodes(i).weight)),
      Array.tabulate(n)(i => nodes(i).h),
      Array.tabulate(n)(i => nodes(i).gain))
  }

  private def shapeToTree(s: TreeShape, cuts: HistogramCuts): Tree = {
    val n = s.feature.length
    Tree(Array.tabulate(n) { i =>
      if (s.feature(i) < 0)
        Node.makeLeaf(s.leaf(i), s.sumHess(i))
      else {
        val f = s.feature(i)
        val thr =
          if (s.catRight(i) != null) 0.0
          else cuts.cuts(f)(s.splitBin(i))
        // internal nodes carry their would-be leaf weight (s.leaf) so the
        // prune updater can collapse them without re-aggregating data
        Node(f, thr, s.defaultLeft(i), s.left(i), s.right(i), s.leaf(i),
          s.gain(i), s.sumHess(i),
          if (s.catRight(i) != null) s.catRight(i) else Array.empty)
      }
    })
  }

  // ---- gradient-based sampling state (the passes are in RoundPasses) -----

  private val gradBased = RowGrad.gradBased(params)
  /** mean regularized gradient magnitude of the current iteration. */
  private var gbMeanU: Double = 1.0
}

/** Nested per-tree/level/node Bernoulli feature sampling (ref
  * `src/common/random.h:70-80` ColumnSampler) — deterministic from seed.
  * With non-empty `featureWeights`, sampling is weighted without
  * replacement via Efraimidis–Spirakis keys u^(1/w) (the reference's
  * `WeightedSamplingWithoutReplacement`, `src/common/random.h:40-68`). */
final class ColumnSampler(numFeatures: Int, seed: Long,
    featureWeights: Array[Double] = Array.empty) extends Serializable {
  require(featureWeights.isEmpty || featureWeights.length == numFeatures,
    s"feature_weights length ${featureWeights.length} != numFeatures $numFeatures")
  require(featureWeights.forall(_ >= 0), "feature_weights must be non-negative")

  private def sample(from: Array[Int], frac: Double, salt: Long): Array[Int] = {
    if (frac >= 1.0 || from.length <= 1) return from
    val n = math.max(1, (from.length * frac).round.toInt)
    val rng = new java.util.Random(seed ^ salt)
    if (featureWeights.nonEmpty) {
      // key = u^(1/w); top-n keys = weighted sample without replacement
      val keyed = from.map { f =>
        val w = featureWeights(f)
        val key = if (w <= 0) -1.0 else math.pow(rng.nextDouble(), 1.0 / w)
        (f, key)
      }
      val picked = keyed.sortBy(-_._2).take(n).map(_._1)
      java.util.Arrays.sort(picked)
      return picked
    }
    val shuffled = from.clone()
    var i = shuffled.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
      i -= 1
    }
    java.util.Arrays.sort(shuffled, 0, n)
    shuffled.take(n)
  }
  def sampleTree(iter: Int, frac: Double): Array[Int] =
    sample((0 until numFeatures).toArray, frac, 0x51ED2701L * (iter + 1))
  def sampleLevel(treeCols: Array[Int], iter: Int, depth: Int, frac: Double): Array[Int] =
    sample(treeCols, frac, 0x7F4A7C15L * (iter + 1) + 31L * depth)
  def sampleNode(levelCols: Array[Int], iter: Int, depth: Int, nid: Int, frac: Double): Array[Int] =
    sample(levelCols, frac, 0xC2B2AE35L * (iter + 1) + 131L * depth + 7919L * nid)
}
