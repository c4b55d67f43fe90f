package graft.api

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.BoosterModel
import graft.objective.Objective
import graft.predict.Predictor
import graft.tree.{GBTTrainer, TrainParams}

/** MLlib Estimator facade over the graft trainer — the public API surface
  * of the reference's Spark package (`jvm-packages/xgboost4j-spark/.../
  * XGBoostEstimator.scala:95-463`): `fit(df)` → Model, `transform(df)`
  * appending `prediction` (+ `rawPrediction`/`probability` for
  * classification, `XGBoostEstimator.scala:499-510,731-760` semantics so
  * MLlib evaluators/Pipelines consume the output directly), ML `Param`s,
  * and save/load (MLWritable via the model's JSON).
  *
  * Features column accepts `array<double>`, `array<float>` or an ML
  * `Vector` (the reference accepts both, `XGBoostEstimator.scala:242-263`).
  */
/** Per-fit training history surfaced on fitted models (the reference's
  * `evals_result` / MLlib's model `.summary` pattern — present on the fit
  * result, not persisted through save/load). */
final case class TrainingSummary(
    history: Seq[(Int, Double)],
    fullHistory: Seq[(Int, Map[String, Double])],
    bestIteration: Int)

trait HasTrainingSummary {
  private var ts: Option[TrainingSummary] = None
  /** Watch-metric history of the fit that produced this model (empty when
    * nothing was watched, None after save/load). */
  def summary: Option[TrainingSummary] = ts
  private[api] def setSummary(t: graft.tree.GBTTrainer): this.type = {
    if (t.evalHistory.nonEmpty)
      ts = Some(TrainingSummary(t.evalHistory, t.evalHistoryFull, t.bestIteration))
    this
  }
}

trait GraftXGBParams extends Params {
  final val featuresCol = new Param[String](this, "featuresCol", "features column")
  final val labelCol = new Param[String](this, "labelCol", "label column")
  final val weightCol = new Param[String](this, "weightCol", "weight column ('' = unit)")
  final val predictionCol = new Param[String](this, "predictionCol", "prediction output column")
  final val numRound = new IntParam(this, "numRound", "boosting rounds")
  final val maxDepth = new IntParam(this, "maxDepth", "max tree depth")
  final val eta = new DoubleParam(this, "eta", "learning rate")
  final val maxBin = new IntParam(this, "maxBin", "max histogram bins")
  final val lambda = new DoubleParam(this, "lambda", "L2 regularization")
  final val alpha = new DoubleParam(this, "alpha", "L1 regularization")
  final val gamma = new DoubleParam(this, "gamma", "min split loss")
  final val minChildWeight = new DoubleParam(this, "minChildWeight", "min child hessian")
  final val subsample = new DoubleParam(this, "subsample", "row subsample per iteration")
  final val colsampleBytree = new DoubleParam(this, "colsampleBytree", "feature subsample per tree")
  final val treeMethod = new Param[String](this, "treeMethod", "hist | approx")
  final val growPolicy = new Param[String](this, "growPolicy", "depthwise | lossguide")
  final val maxLeaves = new IntParam(this, "maxLeaves", "max leaves (lossguide)")
  final val seed = new LongParam(this, "seed", "random seed")
  final val missing = new DoubleParam(this, "missing", "value treated as missing (NaN default)")
  final val earlyStoppingRounds = new IntParam(this, "earlyStoppingRounds", "early stopping patience")
  final val evalMetric = new Param[String](this, "evalMetric", "watch metric ('' = objective default)")
  final val scalePosWeight = new DoubleParam(this, "scalePosWeight", "positive-class gradient scale")
  final val baseMarginCol = new Param[String](this, "baseMarginCol", "per-row initial margin column ('' = none)")
  /** MLlib-idiomatic validation watch (same contract as MLlib's own
    * `GBTClassifier.validationIndicatorCol`): boolean column, true rows
    * form the eval watch driving `earlyStoppingRounds`/`evalMetric`,
    * false rows train. */
  final val validationIndicatorCol = new Param[String](this, "validationIndicatorCol",
    "boolean column marking validation rows ('' = watch the train set)")
  /** Per-feature types, reference `feature_types` (the Spark package's
    * param at `params/XGBoostParams.scala:179`): "c" marks a categorical
    * feature (integer-coded category ids — [[graft.data.CategoryEncoder]]
    * produces them from string columns); anything else ("q", "float",
    * "int") is numeric. Empty = all numeric. */
  final val featureTypes = new StringArrayParam(this, "featureTypes",
    "per-feature types; 'c' = categorical, others numeric ([] = all numeric)")
  /** Per-feature monotonicity −1/0/+1 (ref `monotone_constraints`). */
  final val monotoneConstraints = new IntArrayParam(this, "monotoneConstraints",
    "per-feature monotone constraints -1/0/+1 ([] = unconstrained)")
  /** Interaction constraints in the reference's nested-list string form,
    * e.g. "[[0,2],[1,3,4]]": features may only co-occur on a root→leaf
    * path within a declared group (ref `interaction_constraints`). */
  final val interactionConstraints = new Param[String](this, "interactionConstraints",
    "nested feature-index lists, e.g. [[0,2],[1,3]] ('' = unconstrained)")
  // remaining reference Spark-package params (params/XGBoostParams.scala)
  final val colsampleBylevel = new DoubleParam(this, "colsampleBylevel", "feature subsample per level")
  final val colsampleBynode = new DoubleParam(this, "colsampleBynode", "feature subsample per node")
  final val samplingMethod = new Param[String](this, "samplingMethod", "uniform | gradient_based")
  final val maxDeltaStep = new DoubleParam(this, "maxDeltaStep", "max leaf-weight step (0 = unlimited)")
  final val numParallelTree = new IntParam(this, "numParallelTree", "boosted-random-forest width")
  final val baseScore = new DoubleParam(this, "baseScore", "global bias in output space (NaN = from labels)")
  final val maxCatToOnehot = new IntParam(this, "maxCatToOnehot", "one-hot threshold for categorical splits")
  final val maxCatThreshold = new IntParam(this, "maxCatThreshold", "max categories per partition split")
  // DART (booster=dart)
  final val boosterType = new Param[String](this, "booster", "gbtree | dart")
  final val rateDrop = new DoubleParam(this, "rateDrop", "DART dropout rate")
  final val skipDrop = new DoubleParam(this, "skipDrop", "DART skip-dropout probability")
  final val oneDrop = new BooleanParam(this, "oneDrop", "DART: drop at least one tree")
  final val sampleType = new Param[String](this, "sampleType", "DART: uniform | weighted")
  final val normalizeType = new Param[String](this, "normalizeType", "DART: tree | forest")
  // objective-family knobs
  final val tweedieVariancePower = new DoubleParam(this, "tweedieVariancePower", "reg:tweedie power")
  final val huberSlope = new DoubleParam(this, "huberSlope", "reg:pseudohubererror slope")
  final val quantileAlpha = new DoubleParam(this, "quantileAlpha", "reg:quantileerror / expectile alpha")

  setDefault(featuresCol -> "features", labelCol -> "label", weightCol -> "",
    predictionCol -> "prediction", numRound -> 100, maxDepth -> 6, eta -> 0.3,
    maxBin -> 256, lambda -> 1.0, alpha -> 0.0, gamma -> 0.0,
    minChildWeight -> 1.0, subsample -> 1.0, colsampleBytree -> 1.0,
    treeMethod -> "hist", growPolicy -> "depthwise", maxLeaves -> 0,
    seed -> 0L, missing -> Double.NaN, earlyStoppingRounds -> 0, evalMetric -> "",
    scalePosWeight -> 1.0, baseMarginCol -> "", validationIndicatorCol -> "",
    featureTypes -> Array.empty[String], monotoneConstraints -> Array.empty[Int],
    interactionConstraints -> "",
    colsampleBylevel -> 1.0, colsampleBynode -> 1.0, samplingMethod -> "uniform",
    maxDeltaStep -> 0.0, numParallelTree -> 1, baseScore -> Double.NaN,
    maxCatToOnehot -> 4, maxCatThreshold -> 64,
    boosterType -> "gbtree", rateDrop -> 0.0, skipDrop -> 0.0, oneDrop -> false,
    sampleType -> "uniform", normalizeType -> "tree",
    tweedieVariancePower -> 1.5, huberSlope -> 1.0, quantileAlpha -> 0.5)

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setWeightCol(v: String): this.type = set(weightCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setNumRound(v: Int): this.type = set(numRound, v)
  def setMaxDepth(v: Int): this.type = set(maxDepth, v)
  def setEta(v: Double): this.type = set(eta, v)
  def setMaxBin(v: Int): this.type = set(maxBin, v)
  def setLambda(v: Double): this.type = set(lambda, v)
  def setAlpha(v: Double): this.type = set(alpha, v)
  def setGamma(v: Double): this.type = set(gamma, v)
  def setMinChildWeight(v: Double): this.type = set(minChildWeight, v)
  def setSubsample(v: Double): this.type = set(subsample, v)
  def setColsampleBytree(v: Double): this.type = set(colsampleBytree, v)
  def setTreeMethod(v: String): this.type = set(treeMethod, v)
  def setGrowPolicy(v: String): this.type = set(growPolicy, v)
  def setMaxLeaves(v: Int): this.type = set(maxLeaves, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setMissing(v: Double): this.type = set(missing, v)
  def setEarlyStoppingRounds(v: Int): this.type = set(earlyStoppingRounds, v)
  def setEvalMetric(v: String): this.type = set(evalMetric, v)
  def setScalePosWeight(v: Double): this.type = set(scalePosWeight, v)
  def setBaseMarginCol(v: String): this.type = set(baseMarginCol, v)
  def setValidationIndicatorCol(v: String): this.type = set(validationIndicatorCol, v)
  def setFeatureTypes(v: Array[String]): this.type = set(featureTypes, v)
  def setMonotoneConstraints(v: Array[Int]): this.type = set(monotoneConstraints, v)
  def setInteractionConstraints(v: String): this.type = set(interactionConstraints, v)
  def setColsampleBylevel(v: Double): this.type = set(colsampleBylevel, v)
  def setColsampleBynode(v: Double): this.type = set(colsampleBynode, v)
  def setSamplingMethod(v: String): this.type = set(samplingMethod, v)
  def setMaxDeltaStep(v: Double): this.type = set(maxDeltaStep, v)
  def setNumParallelTree(v: Int): this.type = set(numParallelTree, v)
  def setBaseScore(v: Double): this.type = set(baseScore, v)
  def setMaxCatToOnehot(v: Int): this.type = set(maxCatToOnehot, v)
  def setMaxCatThreshold(v: Int): this.type = set(maxCatThreshold, v)
  def setBooster(v: String): this.type = set(boosterType, v)
  def setRateDrop(v: Double): this.type = set(rateDrop, v)
  def setSkipDrop(v: Double): this.type = set(skipDrop, v)
  def setOneDrop(v: Boolean): this.type = set(oneDrop, v)
  def setSampleType(v: String): this.type = set(sampleType, v)
  def setNormalizeType(v: String): this.type = set(normalizeType, v)
  def setTweedieVariancePower(v: Double): this.type = set(tweedieVariancePower, v)
  def setHuberSlope(v: Double): this.type = set(huberSlope, v)
  def setQuantileAlpha(v: Double): this.type = set(quantileAlpha, v)

  /** Run the trainer on rows split by `validationIndicatorCol` (if set):
    * false rows train, true rows form the eval watch. The decoded rows go
    * straight in: the trainer decides what to persist. */
  protected def fitWithOptionalValidation(
      ds: Dataset[_], trainer: GBTTrainer): graft.model.BoosterModel = {
    if ($(validationIndicatorCol).isEmpty)
      trainer.fit(extractRdd(ds))
    else {
      val flag = col($(validationIndicatorCol)).cast("boolean")
      val w = if ($(weightCol).nonEmpty) col($(weightCol)).cast("double") else lit(1.0)
      val miss = $(missing)
      val tagged = ds.select(col($(featuresCol)), col($(labelCol)).cast("double"), w, flag)
        .rdd.map { row =>
          (GraftXGBParams.toDoubleArray(row.get(0), miss), row.getDouble(1),
            row.getDouble(2), row.getBoolean(3))
        }
      trainer.fit(tagged.filter(!_._4).map(r => (r._1, r._2, r._3)),
        tagged.filter(_._4).map(r => (r._1, r._2, r._3)))
    }
  }

  protected def baseTrainParams(objective: String, numClass: Int = 1): TrainParams =
    TrainParams(
      objective = objective, numRounds = $(numRound), eta = $(eta),
      maxDepth = $(maxDepth), minChildWeight = $(minChildWeight),
      lambda = $(lambda), alpha = $(alpha), gamma = $(gamma), maxBin = $(maxBin),
      subsample = $(subsample), colsampleBytree = $(colsampleBytree),
      seed = $(seed), growPolicy = $(growPolicy), maxLeaves = $(maxLeaves),
      numClass = numClass, treeMethod = $(treeMethod),
      earlyStoppingRounds = $(earlyStoppingRounds),
      // comma-separated list ⇒ multi-metric watch (reference repeated
      // eval_metric; the LAST one drives early stopping)
      evalMetric = if ($(evalMetric).nonEmpty && !$(evalMetric).contains(","))
        Some($(evalMetric)) else None,
      evalMetrics = if ($(evalMetric).contains(","))
        $(evalMetric).split(',').map(_.trim).filter(_.nonEmpty).toSeq else Nil,
      scalePosWeight = $(scalePosWeight),
      catFeatures = $(featureTypes).iterator.zipWithIndex
        .collect { case (t, i) if t == "c" => i }.toSet,
      monotoneConstraints = $(monotoneConstraints),
      interactionConstraints = GraftXGBParams.parseInteractionConstraints($(interactionConstraints)),
      colsampleBylevel = $(colsampleBylevel), colsampleBynode = $(colsampleBynode),
      samplingMethod = $(samplingMethod), maxDeltaStep = $(maxDeltaStep),
      numParallelTree = $(numParallelTree),
      baseScore = if ($(baseScore).isNaN) None else Some($(baseScore)),
      maxCatToOnehot = $(maxCatToOnehot), maxCatThreshold = $(maxCatThreshold),
      booster = $(boosterType), rateDrop = $(rateDrop), skipDrop = $(skipDrop),
      oneDrop = $(oneDrop), sampleType = $(sampleType), normalizeType = $(normalizeType),
      tweedieVariancePower = $(tweedieVariancePower), pseudoHuberSlope = $(huberSlope),
      quantileAlpha = $(quantileAlpha))

  /** Stamp the facade's featureTypes onto the trained booster so native
    * JSON/UBJSON export carries them (ref learner.cc:694-696). */
  protected def withFeatureMeta(b: graft.model.BoosterModel): graft.model.BoosterModel =
    if ($(featureTypes).isEmpty) b else b.copy(featureTypes = $(featureTypes))

  /** (features, label, weight) rows; `missing` values become NaN. */
  protected def extractRdd(ds: Dataset[_]): RDD[(Array[Double], Double, Double)] = {
    val w = if ($(weightCol).nonEmpty) col($(weightCol)).cast("double") else lit(1.0)
    val miss = $(missing)
    ds.select(col($(featuresCol)), col($(labelCol)).cast("double"), w).rdd.map { row =>
      (GraftXGBParams.toDoubleArray(row.get(0), miss), row.getDouble(1), row.getDouble(2))
    }
  }

  /** (features, label, weight, baseMargin) rows for base-margin training. */
  protected def extractRddWithMargin(ds: Dataset[_]): RDD[(Array[Double], Double, Double, Double)] = {
    val w = if ($(weightCol).nonEmpty) col($(weightCol)).cast("double") else lit(1.0)
    val miss = $(missing)
    ds.select(col($(featuresCol)), col($(labelCol)).cast("double"), w,
      col($(baseMarginCol)).cast("double")).rdd.map { row =>
      (GraftXGBParams.toDoubleArray(row.get(0), miss), row.getDouble(1), row.getDouble(2),
        row.getDouble(3))
    }
  }

  protected def validateFeatures(schema: StructType): Unit = {
    val dt = schema($(featuresCol)).dataType
    val ok = dt match {
      case ArrayType(DoubleType | FloatType, _) => true
      case _ => dt.typeName == "vector"
    }
    require(ok, s"featuresCol ${$(featuresCol)} must be array<double>, array<float> or Vector, got $dt")
  }

  /** Features column normalized to array<double> with `missing` → NaN, so
    * every prediction path works on one representation (Vector columns go
    * through `vector_to_array`). */
  protected def featuresAsArray(ds: Dataset[_]): org.apache.spark.sql.Column = {
    val base = ds.schema($(featuresCol)).dataType match {
      case ArrayType(DoubleType, _) => col($(featuresCol))
      case ArrayType(FloatType, _) => col($(featuresCol)).cast("array<double>")
      case _ => org.apache.spark.ml.functions.vector_to_array(col($(featuresCol)))
    }
    val miss = $(missing)
    if (miss.isNaN) base
    else transform(base, x => when(x === miss, lit(Double.NaN)).otherwise(x))
  }
}

object GraftXGBParams {
  /** "[[0,2],[1,3,4]]" → Seq(Set(0,2), Set(1,3,4)) — the reference's
    * `interaction_constraints` string form. */
  def parseInteractionConstraints(s: String): Seq[Set[Int]] =
    if (s.trim.isEmpty) Nil
    else {
      val groups = "\\[([0-9,\\s]+)\\]".r.findAllMatchIn(s)
        .map(_.group(1).split(',').map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet)
        .toSeq
      require(groups.nonEmpty, s"unparseable interactionConstraints: $s")
      groups
    }

  def toDoubleArray(v: Any, missing: Double): Array[Double] = {
    val arr = v match {
      case vec: Vector => vec.toArray
      case s: scala.collection.Seq[_] =>
        val out = new Array[Double](s.length)
        var i = 0
        s.foreach { x => out(i) = x.asInstanceOf[Number].doubleValue(); i += 1 }
        out
      case a: Array[Double] => a
      case other => throw new IllegalArgumentException(s"unsupported features value: $other")
    }
    if (!missing.isNaN) {
      var i = 0
      while (i < arr.length) { if (arr(i) == missing) arr(i) = Double.NaN; i += 1 }
    }
    arr
  }
}

// ---------------------------------------------------------------------------
// Regressor
// ---------------------------------------------------------------------------

class XGBoostRegressor(override val uid: String)
    extends Estimator[XGBoostRegressionModel] with GraftXGBParams with GraftWritableParams {
  def this() = this(Identifiable.randomUID("graftXgbRegressor"))

  final val objective = new Param[String](this, "objective", "regression objective")
  final val quantileAlphas = new DoubleArrayParam(this, "quantileAlphas",
    "multi-quantile: one output lane per alpha (reg:quantileerror only)")
  setDefault(objective -> "reg:squarederror", quantileAlphas -> Array.empty[Double])
  def setObjective(v: String): this.type = set(objective, v)
  def setQuantileAlphas(v: Array[Double]): this.type = set(quantileAlphas, v)

  override def fit(ds: Dataset[_]): XGBoostRegressionModel = {
    validateFeatures(ds.schema)
    // multi-quantile (ref vector `quantile_alpha`): vector-leaf trees, one
    // output lane per alpha
    if ($(quantileAlphas).length >= 2) {
      require($(objective) == "reg:quantileerror",
        "quantileAlphas requires objective=reg:quantileerror")
      require($(baseMarginCol).isEmpty, "quantileAlphas does not compose with baseMarginCol")
      val booster = XGBoost.trainQuantiles(extractRdd(ds), baseTrainParams($(objective)),
        $(quantileAlphas))
      return copyValues(new XGBoostRegressionModel(uid, withFeatureMeta(booster))).setParent(this)
    }
    val trainer = new GBTTrainer(baseTrainParams($(objective)))
    // base_margin training (ref baseMarginCol, XGBoostEstimator.scala:206):
    // boosting starts from the per-row margin column; transform adds the
    // column back (model baseScore is 0)
    val booster =
      if ($(baseMarginCol).nonEmpty) {
        require($(validationIndicatorCol).isEmpty,
          "baseMarginCol does not compose with validationIndicatorCol")
        trainer.fitWithBaseMargin(extractRddWithMargin(ds))
      } else fitWithOptionalValidation(ds, trainer)
    copyValues(new XGBoostRegressionModel(uid, withFeatureMeta(booster)))
      .setSummary(trainer).setParent(this)
  }
  override def copy(extra: ParamMap): XGBoostRegressor = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = {
    validateFeatures(schema)
    schema.add($(predictionCol), DoubleType)
  }
}

object XGBoostRegressor extends GraftReadable[XGBoostRegressor] {
  override protected def make(uid: String, model: Option[BoosterModel]) = new XGBoostRegressor(uid)
}

class XGBoostRegressionModel(override val uid: String, val booster: BoosterModel)
    extends Model[XGBoostRegressionModel] with GraftXGBParams with GraftWritableModel
    with HasTrainingSummary {
  override def transform(ds: Dataset[_]): DataFrame = {
    // multi-output regression (multi-quantile): prediction is the margin
    // vector, one element per output lane
    if (booster.numGroups > 1)
      return ds.withColumn($(predictionCol),
        Predictor.marginCol(booster)(featuresAsArray(ds)))
    val own = Predictor.predictCol(booster)(featuresAsArray(ds))
    val pred =
      if ($(baseMarginCol).nonEmpty && ds.columns.contains($(baseMarginCol)))
        own + col($(baseMarginCol)).cast("double")
      else own
    ds.withColumn($(predictionCol), pred)
  }
  override def copy(extra: ParamMap): XGBoostRegressionModel =
    copyValues(new XGBoostRegressionModel(uid, booster), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType =
    if (booster.numGroups > 1)
      schema.add($(predictionCol), ArrayType(DoubleType, containsNull = false))
    else schema.add($(predictionCol), DoubleType)
}

object XGBoostRegressionModel extends GraftReadable[XGBoostRegressionModel] {
  override protected def make(uid: String, model: Option[BoosterModel]) =
    new XGBoostRegressionModel(uid, model.get)
}

// ---------------------------------------------------------------------------
// Classifier
// ---------------------------------------------------------------------------

class XGBoostClassifier(override val uid: String)
    extends Estimator[XGBoostClassificationModel] with GraftXGBParams with GraftWritableParams {
  def this() = this(Identifiable.randomUID("graftXgbClassifier"))

  final val objective = new Param[String](this, "objective", "classification objective")
  final val numClass = new IntParam(this, "numClass", "number of classes (multi)")
  final val rawPredictionCol = new Param[String](this, "rawPredictionCol", "raw margin column")
  final val probabilityCol = new Param[String](this, "probabilityCol", "probability column")
  setDefault(objective -> "binary:logistic", numClass -> 2,
    rawPredictionCol -> "rawPrediction", probabilityCol -> "probability")
  def setObjective(v: String): this.type = set(objective, v)
  def setNumClass(v: Int): this.type = set(numClass, v)
  def setRawPredictionCol(v: String): this.type = set(rawPredictionCol, v)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)

  override def fit(ds: Dataset[_]): XGBoostClassificationModel = {
    validateFeatures(ds.schema)
    require($(baseMarginCol).isEmpty, "baseMarginCol is supported by XGBoostRegressor only")
    val multi = $(objective).startsWith("multi:")
    val tp = baseTrainParams($(objective), if (multi) $(numClass) else 1)
    val trainer = new GBTTrainer(tp)
    val booster = fitWithOptionalValidation(ds, trainer)
    copyValues(new XGBoostClassificationModel(uid, withFeatureMeta(booster)))
      .setSummary(trainer).setParent(this)
  }
  override def copy(extra: ParamMap): XGBoostClassifier = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = {
    validateFeatures(schema)
    schema.add($(rawPredictionCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
      .add($(probabilityCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
      .add($(predictionCol), DoubleType)
  }
}

object XGBoostClassifier extends GraftReadable[XGBoostClassifier] {
  override protected def make(uid: String, model: Option[BoosterModel]) = new XGBoostClassifier(uid)
}

/** Binary output follows the reference classifier's transform contract
  * (`XGBoostEstimator.scala:731-760`): rawPrediction = [−margin, margin],
  * probability = [1−p, p], prediction = argmax class — consumable by
  * `BinaryClassificationEvaluator` and friends. Multiclass emits the
  * per-class margin / softprob vectors. */
class XGBoostClassificationModel(override val uid: String, val booster: BoosterModel)
    extends Model[XGBoostClassificationModel] with GraftXGBParams with GraftWritableModel
    with HasTrainingSummary {
  final val rawPredictionCol = new Param[String](this, "rawPredictionCol", "raw margin column")
  final val probabilityCol = new Param[String](this, "probabilityCol", "probability column")
  setDefault(rawPredictionCol -> "rawPrediction", probabilityCol -> "probability")
  def setRawPredictionCol(v: String): this.type = set(rawPredictionCol, v)
  def setProbabilityCol(v: String): this.type = set(probabilityCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    // the ensemble is walked ONCE per row (codegen TreePredict into a temp
    // column); every output column derives from that margin
    val f = featuresAsArray(ds)
    val arr2vec = org.apache.spark.ml.functions.array_to_vector _
    if (booster.numGroups == 1) {
      val tmp = "_graft_margin"
      val m = col(tmp)
      val p = lit(1.0) / (lit(1.0) + exp(-m))
      ds.withColumn(tmp, Predictor.marginScalarCol(booster)(f))
        .withColumn($(rawPredictionCol), arr2vec(array(-m, m)))
        .withColumn($(probabilityCol), arr2vec(array(lit(1.0) - p, p)))
        .withColumn($(predictionCol), when(p > 0.5, 1.0).otherwise(0.0))
        .drop(tmp)
    } else {
      val tmp = "_graft_prob"
      val prob = col(tmp)
      ds.withColumn(tmp, Predictor.softprobCol(booster)(f))
        .withColumn($(rawPredictionCol), arr2vec(Predictor.marginCol(booster)(f)))
        .withColumn($(probabilityCol), arr2vec(prob))
        .withColumn($(predictionCol),
          (array_position(prob, array_max(prob)) - 1).cast("double"))
        .drop(tmp)
    }
  }
  override def copy(extra: ParamMap): XGBoostClassificationModel =
    copyValues(new XGBoostClassificationModel(uid, booster), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType =
    schema.add($(rawPredictionCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
      .add($(probabilityCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
      .add($(predictionCol), DoubleType)
}

object XGBoostClassificationModel extends GraftReadable[XGBoostClassificationModel] {
  override protected def make(uid: String, model: Option[BoosterModel]) =
    new XGBoostClassificationModel(uid, model.get)
}

// ---------------------------------------------------------------------------
// Ranker
// ---------------------------------------------------------------------------

class XGBoostRanker(override val uid: String)
    extends Estimator[XGBoostRankerModel] with GraftXGBParams with GraftWritableParams {
  def this() = this(Identifiable.randomUID("graftXgbRanker"))

  final val objective = new Param[String](this, "objective", "ranking objective")
  final val groupCol = new Param[String](this, "groupCol", "query-id column")
  // LambdaRank knobs (reference LambdaRankParam, ranking_utils.h:63-150),
  // reference defaults throughout
  final val lambdarankPairMethod = new Param[String](this, "lambdarankPairMethod",
    "pair construction: mean | topk | all")
  final val lambdarankNumPair = new IntParam(this, "lambdarankNumPair",
    "sampled pairs per doc (pair_method=mean)")
  final val lambdarankTopK = new IntParam(this, "lambdarankTopK",
    "top-k pair truncation (0 = off; >0 selects pair_method=topk)")
  final val lambdarankUnbiased = new BooleanParam(this, "lambdarankUnbiased",
    "position-debiased training (Unbiased LambdaMART)")
  final val lambdarankBiasNorm = new DoubleParam(this, "lambdarankBiasNorm",
    "t-plus/t-minus update regularizer")
  final val lambdarankNormalization = new BooleanParam(this, "lambdarankNormalization",
    "per-group lambda rescale (reference default true)")
  final val lambdarankScoreNormalization = new BooleanParam(this, "lambdarankScoreNormalization",
    "divide delta by (|score gap| + 0.01) (reference default true)")
  final val ndcgExpGain = new BooleanParam(this, "ndcgExpGain",
    "NDCG gain 2^rel-1 (true) vs linear rel")
  setDefault(objective -> "rank:ndcg", groupCol -> "qid",
    lambdarankPairMethod -> "mean", lambdarankNumPair -> 8, lambdarankTopK -> 0,
    lambdarankUnbiased -> false, lambdarankBiasNorm -> 1.0,
    lambdarankNormalization -> true, lambdarankScoreNormalization -> true,
    ndcgExpGain -> true)
  def setObjective(v: String): this.type = set(objective, v)
  def setGroupCol(v: String): this.type = set(groupCol, v)
  def setLambdarankPairMethod(v: String): this.type = set(lambdarankPairMethod, v)
  def setLambdarankNumPair(v: Int): this.type = set(lambdarankNumPair, v)
  def setLambdarankTopK(v: Int): this.type = set(lambdarankTopK, v)
  def setLambdarankUnbiased(v: Boolean): this.type = set(lambdarankUnbiased, v)
  def setLambdarankBiasNorm(v: Double): this.type = set(lambdarankBiasNorm, v)
  def setLambdarankNormalization(v: Boolean): this.type = set(lambdarankNormalization, v)
  def setLambdarankScoreNormalization(v: Boolean): this.type = set(lambdarankScoreNormalization, v)
  def setNdcgExpGain(v: Boolean): this.type = set(ndcgExpGain, v)

  override def fit(ds: Dataset[_]): XGBoostRankerModel = {
    validateFeatures(ds.schema)
    require($(validationIndicatorCol).isEmpty,
      "validationIndicatorCol is not supported for ranking (watches need qid-contiguous partitions)")
    val w = if ($(weightCol).nonEmpty) col($(weightCol)).cast("double") else lit(1.0)
    val miss = $(missing)
    val rdd = ds.select(col($(featuresCol)), col($(labelCol)).cast("double"), w,
      col($(groupCol)).cast("long")).rdd.map { row =>
      (GraftXGBParams.toDoubleArray(row.get(0), miss), row.getDouble(1),
        row.getDouble(2), row.getLong(3))
    }
    val trainer = new GBTTrainer(baseTrainParams($(objective)).copy(
      lambdarankPairMethod = $(lambdarankPairMethod),
      lambdarankNumPair = $(lambdarankNumPair),
      lambdarankTopK = $(lambdarankTopK),
      lambdarankUnbiased = $(lambdarankUnbiased),
      lambdarankBiasNorm = $(lambdarankBiasNorm),
      lambdarankNormalization = $(lambdarankNormalization),
      lambdarankScoreNormalization = $(lambdarankScoreNormalization),
      ndcgExpGain = $(ndcgExpGain)))
    val booster = trainer.fitRanking(rdd)
    copyValues(new XGBoostRankerModel(uid, withFeatureMeta(booster)))
      .setSummary(trainer).setParent(this)
  }
  override def copy(extra: ParamMap): XGBoostRanker = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = {
    validateFeatures(schema)
    schema.add($(predictionCol), DoubleType)
  }
}

object XGBoostRanker extends GraftReadable[XGBoostRanker] {
  override protected def make(uid: String, model: Option[BoosterModel]) = new XGBoostRanker(uid)
}

class XGBoostRankerModel(override val uid: String, val booster: BoosterModel)
    extends Model[XGBoostRankerModel] with GraftXGBParams with GraftWritableModel
    with HasTrainingSummary {
  override def transform(ds: Dataset[_]): DataFrame =
    ds.withColumn($(predictionCol),
      Predictor.marginScalarCol(booster)(featuresAsArray(ds)))
  override def copy(extra: ParamMap): XGBoostRankerModel =
    copyValues(new XGBoostRankerModel(uid, booster), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType =
    schema.add($(predictionCol), DoubleType)
}

object XGBoostRankerModel extends GraftReadable[XGBoostRankerModel] {
  override protected def make(uid: String, model: Option[BoosterModel]) =
    new XGBoostRankerModel(uid, model.get)
}
