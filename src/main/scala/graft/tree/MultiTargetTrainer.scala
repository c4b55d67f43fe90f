package graft.tree

import org.apache.spark.rdd.RDD

import graft.model.BoosterModel
import graft.objective.{ElementwiseMultiObjective, MultiObjective, MultiQuantileObjective, Objective, SoftmaxMultiObjective}

/** Multi-target tree growth — ONE tree per round with VECTOR leaves (the
  * reference's `multi_strategy=multi_output_tree`:
  * `src/tree/hist/histogram.h:315-425` `MultiHistogramBuilder`,
  * `evaluate_splits.h:609` `HistMultiEvaluator`, model
  * `src/tree/multi_target_tree_model.cc`), instead of one tree per class.
  *
  * This is an entry point only: it lifts the objective to K lanes, bins
  * the rows through [[TrainingInput.prepare]] and boosts in
  * [[GBTTrainer.fitBinned]], whose one loop and grower carry K gradient
  * lanes per row. Histograms hold K (g, h) pairs per bin, a split is
  * scored by the summed per-lane gain at a shared split point
  * (`HistMultiEvaluator` semantics), and each leaf holds one weight per
  * target. Depthwise and lossguide growth, row and column sampling and
  * histogram subtraction are the scalar trees'.
  *
  * Objectives ([[graft.objective.MultiObjective]]): ANY elementwise scalar
  * objective lifted per lane over vector labels
  * ([[graft.objective.ElementwiseMultiObjective]] — squarederror,
  * logistic, poisson, gamma, tweedie, hinge, pseudohuber, expectile, …),
  * `multi:softmax`/`multi:softprob` with class-index labels, vector-alpha
  * `reg:quantileerror`, or a user-supplied custom MultiObjective.
  * Categorical splits, monotone and interaction constraints, DART,
  * gradient-based sampling, tree_method other than hist, a fixed base
  * score and the eval watch are rejected when set.
  */
final class MultiTargetTrainer(params: TrainParams, numTargets: Int,
    customObj: Option[MultiObjective] = None) extends Serializable {
  require(numTargets >= 2, "use GBTTrainer for single-target models")
  TrainingInput.requireTreeLimits(params)

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
  def fit(data: RDD[(Array[Double], Array[Double], Double)]): BoosterModel = {
    val unsupported = Seq(
      "treeMethod" -> (params.treeMethod != "hist"),
      "booster" -> (params.booster != "gbtree"),
      "samplingMethod" -> (params.samplingMethod != "uniform"),
      "catFeatures" -> params.catFeatures.nonEmpty,
      "monotoneConstraints" -> params.monotoneConstraints.exists(_ != 0),
      "interactionConstraints" -> params.interactionConstraints.nonEmpty,
      "evalMetric" -> params.evalMetric.isDefined,
      "evalMetrics" -> params.evalMetrics.nonEmpty,
      "earlyStoppingRounds" -> (params.earlyStoppingRounds != 0),
      "baseScore" -> params.baseScore.isDefined).collect { case (field, true) => field }
    require(unsupported.isEmpty,
      s"multi-target trees do not support ${unsupported.mkString(", ")}; leave it at its default")
    TrainingInput.prepare(params, data)(
      rows => TrainingInput.denseCuts(params, rows.map(r => (r._1, r._3))),
      (r, cuts, id) => BInst(cuts.binRow(r._1), Double.NaN, r._3, id, labels = r._2)) { p =>
      new GBTTrainer(params, Some(mobj)).fitBinned(p.binned, p.cuts, p.cuts.numFeatures)
    }
  }
}
