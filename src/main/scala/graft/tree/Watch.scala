package graft.tree

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.metric.Metrics
import graft.objective.{Objective, SoftmaxObjective}

/** The boosting loop's watch (ref `EvalOneIter`, `src/learner.cc:1164`):
  * one watch set's margin cache is projected to one DataFrame, and every
  * metric name is evaluated on it by [[Metrics.evaluate]], the registry
  * standalone evaluation uses. A user metric sums its per-row
  * contributions over the cache instead. This lives outside
  * [[GBTTrainer]] for the `ClosureCleaner` reason given in
  * [[RoundPasses]].
  */
private[tree] object Watch {
  private val schema = StructType(Seq(
    StructField("label", DoubleType, nullable = false),
    StructField("upper", DoubleType),
    StructField("weight", DoubleType, nullable = false),
    StructField("qid", LongType, nullable = false),
    StructField("rowId", LongType, nullable = false),
    StructField("margin", DoubleType, nullable = false),
    StructField("pred", DoubleType, nullable = false),
    StructField("probs", ArrayType(DoubleType, containsNull = false))))

  /** The session a fit's watch queries run in: a child of the running
    * session (created from the running SparkContext when there is none)
    * with one shuffle partition per core and no adaptive execution. A
    * watch query is a few short stages over one watch set, run every
    * round, so its time is the fixed cost per stage: adaptive execution
    * submits each stage as a job of its own, and the default 200 shuffle
    * partitions turn a ranking name's window into 200 tasks. */
  def session(): SparkSession = {
    val s = SparkSession.builder().getOrCreate().newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", s.sparkContext.defaultParallelism.toLong)
    s
  }

  /** One row per cached (row, margins) pair. A single-output model
    * (`obj` set) gives its raw margin and `obj.predTransform` of it; a
    * multiclass one (`obj == null`) gives the softmax of its margin
    * vector. A right-censored (NaN) interval upper bound becomes null. */
  def frame(spark: SparkSession, c: RDD[(BInst, Array[Double])], obj: Objective): DataFrame =
    spark.createDataFrame(c.map { case (r, m) =>
      val margin = if (obj == null) Double.NaN else m(0)
      Row(r.label, if (r.label2.isNaN) null else r.label2, r.weight, r.qid, r.rowId,
        margin, if (obj == null) Double.NaN else obj.predTransform(margin),
        if (obj == null) SoftmaxObjective.softmaxInPlace(m.clone()) else null)
    }, schema)

  /** (name, value, larger-is-better) of every metric in `names` — or of
    * the user metric `custom`, which replaces them — on one watch set.
    * Ranking names score each qid group (non-ranking rows share qid −1);
    * `auc` is the per-group ranking AUC only under a `rank:*` objective. */
  def evaluate(spark: SparkSession, c: RDD[(BInst, Array[Double])], obj: Objective,
      params: TrainParams, names: Seq[String],
      custom: Option[CustomEvalMetric]): Seq[(String, Double, Boolean)] =
    custom match {
      case Some(cm) =>
        val (num, den) = graft.Agg.aggregate(c)((0.0, 0.0))(
          { case ((a, b), (r, m)) =>
            val (n, d) = cm.contribution(m(0), r.label, r.weight)
            (a + n, b + d)
          },
          (a, b) => (a._1 + b._1, a._2 + b._2))
        Seq((cm.name, cm.finish(num, den), cm.maximize))
      case None =>
        val df = frame(spark, c, obj)
        names.map { n =>
          val grouped = n != "auc" || params.objective.startsWith("rank:")
          val v = Metrics.evaluate(n, df, col("pred"), col("label"), col("weight"),
            qid = if (grouped) Some(col("qid")) else None,
            probs = if (obj == null) Some(col("probs")) else None,
            tie = Some(col("rowId")), margin = Some(col("margin")), upper = Some(col("upper")),
            pseudoHuberSlope = params.pseudoHuberSlope, quantileAlpha = params.quantileAlpha,
            tweedieVariancePower = params.tweedieVariancePower,
            aftDistribution = params.aftDistribution, aftScale = params.aftScale,
            ndcgExpGain = params.ndcgExpGain)
          (n, v, Metrics.higherIsBetter(n))
        }
    }
}
