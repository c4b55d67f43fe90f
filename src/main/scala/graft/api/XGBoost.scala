package graft.api

import org.apache.spark.rdd.RDD

import graft.model.BoosterModel
import graft.objective.Objective
import graft.tree.{CustomEvalMetric, GBTTrainer, TrainingCallback, TrainParams}

/** Functional training facade — the reference's `xgboost.train()` /
  * `xgboost.cv()` (`python-package/xgboost/training.py:12-180,435`):
  * one-call training with watches, callbacks, custom objective/metric, and
  * k-fold cross-validation over deterministic row-slice folds
  * (`DMatrix::Slice` / `mknfold`, `training.py:310-360`). */
object XGBoost {

  /** Train with optional eval watches, callbacks, and custom hooks.
    * `evals` is the reference's named watchlist
    * (`xgb.train(evals=[(dtrain,'train'),(dval,'val')])`): every set is
    * evaluated per round under "<name>-<metric>" keys and the LAST entry
    * drives early stopping; `evalSet` is shorthand for a single watch
    * named "eval". */
  def train(
      data: RDD[(Array[Double], Double, Double)],
      params: TrainParams,
      evalSet: Option[RDD[(Array[Double], Double, Double)]] = None,
      callbacks: Seq[TrainingCallback] = Nil,
      customObj: Option[Objective] = None,
      customMetric: Option[CustomEvalMetric] = None,
      evals: Seq[(String, RDD[(Array[Double], Double, Double)])] = Nil): BoosterModel = {
    require(evalSet.isEmpty || evals.isEmpty, "pass evalSet or evals, not both")
    val trainer = new GBTTrainer(params).withCallbacks(callbacks)
    customObj.foreach(trainer.withCustomObjective)
    customMetric.foreach(trainer.withCustomMetric)
    if (evals.nonEmpty) trainer.fitWatches(data, evals)
    else evalSet match {
      case Some(ev) => trainer.fit(data, ev)
      case None => trainer.fit(data)
    }
  }

  /** Multi-output training (vector-leaf trees, ref `multi_strategy =
    * multi_output_tree`): labels are K-vectors (vector squared error or
    * softmax with a class index), or — for `reg:quantileerror` with
    * `quantileAlphas` set — a scalar label trained to one output lane per
    * alpha (ref `quantile_obj.cu` vector `quantile_alpha`). */
  def trainMulti(
      data: RDD[(Array[Double], Array[Double], Double)],
      params: TrainParams,
      numTargets: Int,
      customObj: Option[graft.objective.MultiObjective] = None): BoosterModel =
    new graft.tree.MultiTargetTrainer(params, numTargets, customObj).fit(data)

  /** Multi-quantile convenience: scalar-label rows, one output per alpha. */
  def trainQuantiles(
      data: RDD[(Array[Double], Double, Double)],
      params: TrainParams,
      alphas: Array[Double]): BoosterModel =
    trainMulti(data.map { case (f, y, w) => (f, Array(y), w) },
      params.copy(objective = "reg:quantileerror", quantileAlphas = alphas),
      alphas.length)

  /** Per-iteration eval mean/std across folds + the best mean iteration. */
  final case class CvResult(foldHistories: Seq[Seq[(Int, Double)]], maximize: Boolean) {
    /** (iteration, mean, std) over folds, up to the shortest fold. */
    def summary: Seq[(Int, Double, Double)] = {
      val n = foldHistories.map(_.size).min
      (0 until n).map { i =>
        val vs = foldHistories.map(_(i)._2)
        val mean = vs.sum / vs.size
        val std = math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / vs.size)
        (i, mean, std)
      }
    }
    def bestIteration: Int = {
      val s = summary
      (if (maximize) s.maxBy(_._2) else s.minBy(_._2))._1
    }
  }

  /** k-fold CV (ref `training.py:435` `cv`): rows get a deterministic
    * seeded fold id (the `DMatrix::Slice` row-slice analog — a filter, not
    * a shuffle); each fold trains on the complement and watches the fold.
    */
  def cv(
      data: RDD[(Array[Double], Double, Double)],
      params: TrainParams,
      nfold: Int = 5,
      seed: Long = 0L,
      customObj: Option[Objective] = None,
      customMetric: Option[CustomEvalMetric] = None,
      stratified: Boolean = false): CvResult = {
    require(nfold >= 2, s"nfold must be >= 2, got $nfold")
    val metricName = params.evalMetrics.lastOption.orElse(params.evalMetric).getOrElse {
      if (params.numClass > 1) "mlogloss"
      else customMetric.map(_.name).getOrElse(Objective(params.objective).defaultMetric)
    }
    val p = params.copy(evalMetric = Some(metricName))
    // stratified (`python-package/xgboost/training.py:435` cv(stratified=)):
    // per class, rows are dealt round-robin across folds by their in-class
    // sequence number, so every fold carries the class proportions exactly
    // (within ±1 per class) — one filter+zipWithIndex pass per class over
    // the (pinned) input, classification label cardinality assumed small
    val pinned =
      if (stratified && data.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
        Some(data.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
    val folded = (if (!stratified) {
      data.mapPartitionsWithIndex { (pi, it) =>
        val rng = new scala.util.Random(seed ^ (pi * 0x9E3779B97F4A7C15L))
        it.map(r => (rng.nextInt(nfold), r))
      }
    } else {
      val classes = data.map(_._2).distinct().collect().sorted
      require(classes.length <= 100,
        s"stratified cv needs a discrete class label (got ${classes.length} distinct values)")
      classes.zipWithIndex.map { case (c, ci) =>
        data.filter(_._2 == c).zipWithIndex.map { case (r, i) =>
          (((i + seed + ci) % nfold).toInt.abs, r)
        }
      }.reduce(_ union _)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    folded.count()
    val histories = (0 until nfold).map { k =>
      val trainer = new GBTTrainer(p)
      customObj.foreach(trainer.withCustomObjective)
      customMetric.foreach(trainer.withCustomMetric)
      trainer.fit(
        folded.filter(_._1 != k).map(_._2),
        folded.filter(_._1 == k).map(_._2))
      trainer.evalHistory
    }
    folded.unpersist(blocking = false)
    pinned.foreach(_.unpersist(blocking = false))
    val maximize = customMetric.map(_.maximize)
      .getOrElse(graft.metric.Metrics.higherIsBetter(metricName))
    CvResult(histories, maximize)
  }
}
