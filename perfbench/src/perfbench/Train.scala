package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.api.{GraftXGBParams, XGBoostRanker, XGBoostRegressor}
import graft.data.{Binning, HistogramCuts}
import graft.metric.Metrics
import graft.model.BoosterModel
import graft.objective.{LambdaRankGradients, LambdaRankObjective, Objective}
import graft.predict.Predictor
import graft.tree.{BInst, GBTTrainer, TrainParams, TrainingCallback}

/** The two trainer workloads. A plain cycle is what a user runs: the
  * facade `fit` on the training parquet, then `transform` and the quality
  * metric on the held-out parquet. A traced cycle makes the same fit from
  * the public layer calls the facade is built from, one span each:
  * sketch, bin, boost (a span per round), one objective gradient pass at
  * the final margins, predict, metric. */
final class Train(spark: SparkSession, rec: Recorder, dir: java.nio.file.Path,
    seed: Long, ranking: Boolean) extends Workload {
  import Train._

  private val trainPath = dir.resolve("train").toString
  private val holdoutPath = dir.resolve("holdout").toString
  private val objective = if (ranking) "rank:ndcg" else "reg:squarederror"
  private val rounds = if (ranking) RankRounds else WideRounds
  private var holdoutRows = 0L
  /** Quality of a trivial model: RMSE of the training label mean, or the
    * NDCG@10 of a random order. */
  private var baseline = Double.NaN
  private var rankErr = Double.NaN
  val minCycles = 3

  def setup(): Unit = {
    val (train, holdout) =
      if (ranking) Inputs.rank(spark, seed, RankSize, InputParts)
      else Inputs.wide(spark, seed, WideSize, InputParts)
    train.write.mode("overwrite").parquet(trainPath)
    holdout.write.mode("overwrite").parquet(holdoutPath)
    val hold = spark.read.parquet(holdoutPath)
    holdoutRows = hold.count()
    baseline =
      if (ranking)
        Metrics.ndcgAt(hold, col("qid"), xxhash64(col("rid"), lit(seed)).cast("double"),
          col("label"), col("rid"), 10).head().getDouble(0)
      else {
        val mean = spark.read.parquet(trainPath).agg(avg("label")).head().getDouble(0)
        hold.agg(Metrics.rmse(lit(mean), col("label"), lit(1.0))).head().getDouble(0)
      }
  }

  def warmUp(): Unit = score(fitFacade(WarmUpRounds)._2(spark.read.parquet(holdoutPath)))

  /** The facade fit: the booster and the fitted model's `transform`. */
  private def fitFacade(numRound: Int): (BoosterModel, DataFrame => DataFrame) = {
    val train = spark.read.parquet(trainPath)
    if (ranking) {
      val m = new XGBoostRanker().setNumRound(numRound).setGroupCol("qid").fit(train)
      (m.booster, m.transform)
    } else {
      val m = new XGBoostRegressor().setNumRound(numRound).fit(train)
      (m.booster, m.transform)
    }
  }

  /** (quality, raw metric): holdout R² and RMSE, or NDCG@10 twice. */
  private def score(pred: DataFrame): (Double, Double) =
    if (ranking) {
      val ndcg = Metrics.ndcgAt(pred, col("qid"), col("prediction"), col("label"),
        col("rid"), 10).head().getDouble(0)
      (ndcg, ndcg)
    } else {
      val rmse = pred.agg(Metrics.rmse(col("prediction"), col("label"), lit(1.0)))
        .head().getDouble(0)
      (1.0 - (rmse / baseline) * (rmse / baseline), rmse)
    }

  private def checkModel(model: BoosterModel, pred: DataFrame, raw: Double): Unit = {
    rec.check("tree_count", model.trees.length == rounds,
      s"${model.trees.length} trees after $rounds rounds")
    val p = col("prediction")
    val bad = pred.where(isnan(p) || abs(p) > lit(Double.MaxValue)).count()
    rec.check("finite_predictions", bad == 0, s"$bad non-finite predictions")
    if (ranking) rec.check("beats_random_order", raw > baseline, s"ndcg@10 $raw <= random $baseline")
    else rec.check("beats_label_mean", raw < baseline, s"rmse $raw >= label-mean rmse $baseline")
  }

  def plainCycle(): Unit = {
    val t0 = System.nanoTime()
    val (booster, transform) = rec.call("fit") { fitFacade(rounds) }
    val t1 = System.nanoTime()
    val pred = transform(spark.read.parquet(holdoutPath))
    val (quality, raw) = rec.call("score") { score(pred) }
    val t2 = System.nanoTime()
    checkModel(booster, pred, raw)
    fitS += (t1 - t0) / 1e9
    scoreS += (t2 - t1) / 1e9
    qualities += quality
    raws += raw
  }

  def tracedCycle(): Unit = {
    val params = TrainParams(objective = objective, numRounds = rounds)
    val rank = ranking // closures must not capture the workload
    val decoded = spark.read.parquet(trainPath)
      .select(col("features"), col("label").cast("double"), col(if (ranking) "qid" else "rid"))
      .rdd.map { r =>
        (GraftXGBParams.toDoubleArray(r.get(0), Double.NaN), r.getDouble(1), r.getLong(2))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    var binned: RDD[BInst] = null
    var margins: RDD[(BInst, Array[Double])] = null
    try {
      // the layout GBTTrainer.fit / fitRanking give the rows before sketching
      val rows: RDD[(Long, (Array[Double], Double, Double))] =
        if (ranking)
          decoded.map { case (f, y, q) => (q, (f, y, 1.0)) }.partitionBy(new HashPartitioner(
            math.max(decoded.getNumPartitions, spark.sparkContext.defaultParallelism)))
        else {
          val d = decoded.map { case (f, y, _) => (0L, (f, y, 1.0)) }
          val par = spark.sparkContext.defaultParallelism
          if (d.getNumPartitions < par) d.repartition(par) else d
        }
      val cuts = rec.call("data.sketch") {
        Binning.findCuts(rows.map { case (_, (f, _, w)) => (f, w) }, 0, params.maxBin)
      }
      val ordered =
        if (ranking) rows.mapPartitions(it => it.toArray.sortBy(_._1).iterator, preservesPartitioning = true)
        else rows
      binned = rec.call("data.bin") {
        val b = ordered.zipWithUniqueId().map { case ((q, (f, y, w)), id) =>
          BInst(cuts.binRow(f), y, w, id, qid = if (rank) q else -1L)
        }.persist(StorageLevel.MEMORY_AND_DISK)
        b.count()
        b
      }
      binCacheMb += spark.sparkContext.getRDDStorageInfo.find(_.id == binned.id)
        .map(i => (i.memSize + i.diskSize) / 1e6).getOrElse(0.0)
      val model = rec.call("tree.boost") {
        new GBTTrainer(params).withCallbacks(Seq(new RoundSpans(rec)))
          .fitBinned(binned, cuts, cuts.numFeatures)
      }
      margins = ordered.map { case (q, (f, y, w)) =>
        (BInst(cuts.binRow(f), y, w, 0L, qid = if (rank) q else -1L), model.margin(f))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      margins.count()
      rec.call("objective.grad_pass") { gradientPass(margins) }
      val hold = spark.read.parquet(holdoutPath)
      val pred = rec.call("predict.score") {
        Predictor.transform(hold, model, "features")
          .select((if (ranking) Seq("rid", "qid") else Seq("rid")).map(col) ++
            Seq(col("label"), col("prediction")): _*).localCheckpoint()
      }
      val (_, raw) = rec.call("metric.eval") { score(pred) }
      checkModel(model, pred, raw)
      if (rankErr.isNaN) rankErr = sketchRankError(rows.map(_._2._1), cuts, params.maxBin)
    } finally {
      Seq(decoded, binned, margins).filter(_ != null).foreach(_.unpersist(blocking = false))
    }
  }

  /** One gradient pass of the workload's objective over the binned rows at
    * the final margins: the λ-gradient pass for ranking, the elementwise
    * gradient for regression. */
  private def gradientPass(cache: RDD[(BInst, Array[Double])]): Unit =
    Objective(objective) match {
      case lr: LambdaRankObjective => LambdaRankGradients.compute(cache, lr).count()
      case obj =>
        cache.mapPartitions { it =>
          val out = new Array[Double](2)
          var s = 0.0
          it.foreach { case (r, m) => obj.gradient(m(0), r.label, out); s += out(0) }
          Iterator.single(s)
        }.sum()
    }

  def perLayer(cores: Int): Seq[(String, Double, String)] = {
    def secs(name: String) = Stats.median(rec.spans.filter(_.name == name).map(_.seconds))
    val counters = SpanCounters.setup(spark.sparkContext)
    val sketchMb = rec.spans.filter(_.name == "data.sketch")
      .map(s => counters.workOf(rec.subtree(s.id)).resultBytes / 1e6)
    val rounds = rec.spans.filter(_.name == "tree.round").map { s =>
      val w = counters.workOf(rec.subtree(s.id))
      val wallMs = s.seconds * 1e3
      val busyMs = Stats.coveredMs(w.jobIntervals, rec.epochMs(s.startNs), rec.epochMs(s.endNs))
      (s.seconds, w.jobs.toDouble, w.taskMs / 1e3, w.taskMs / (wallMs * cores),
        (wallMs - busyMs) / 1e3, w.resultBytes / 1e6, w.shuffleBytes / 1e6)
    }
    val scoreS = secs("predict.score")
    Seq(
      ("data.sketch_s", secs("data.sketch"), "s"),
      ("data.sketch_result_mb", Stats.median(sketchMb), "MB"),
      ("data.bin_s", secs("data.bin"), "s"),
      ("data.bin_cache_mb", Stats.median(binCacheMb), "MB"),
      ("data.sketch_rank_err", rankErr, "ratio"),
      ("tree.boost_s", secs("tree.boost"), "s"),
      ("tree.round_s", Stats.median(rounds.map(_._1)), "s"),
      ("tree.round_jobs", Stats.median(rounds.map(_._2)), "count"),
      ("tree.round_task_s", Stats.median(rounds.map(_._3)), "s"),
      ("tree.round_slot_util", Stats.median(rounds.map(_._4)), "ratio"),
      ("tree.round_driver_gap_s", Stats.median(rounds.map(_._5)), "s"),
      ("tree.round_result_mb", Stats.median(rounds.map(_._6)), "MB"),
      ("tree.round_shuffle_mb", Stats.median(rounds.map(_._7)), "MB"),
      ("objective.grad_pass_s", secs("objective.grad_pass"), "s"),
      ("predict.score_s", scoreS, "s"),
      ("predict.rows_per_s", holdoutRows / scoreS, "rows/s"),
      ("metric.eval_s", secs("metric.eval"), "s"))
  }

  def summary: Seq[(String, Double, String)] = Seq(
    (if (ranking) "holdout_ndcg10" else "holdout_rmse", Stats.median(raws), if (ranking) "ndcg" else "rmse"),
    (if (ranking) "random_order_ndcg10" else "label_mean_rmse", baseline, if (ranking) "ndcg" else "rmse"))

  private val binCacheMb = new ArrayBuffer[Double]
  private val raws = new ArrayBuffer[Double]
}

object Train {
  val InputParts = 4
  val WideSize = Inputs.Wide(trainRows = 20000, holdoutRows = 10000, features = 128)
  val WideRounds = 3
  val RankSize = Inputs.Rank(trainGroups = 1500, holdoutGroups = 250, groupSize = 40, features = 8)
  val RankRounds = 4
  val WarmUpRounds = 2

  /** Maximum normalized rank error of the chosen cuts: for each target
    * quantile b/maxBin of each feature, the distance from the target to the
    * exact rank interval [#(x < c), #(x ≤ c)] / n of the nearest cut c. */
  def sketchRankError(rows: RDD[Array[Double]], cuts: HistogramCuts, maxBin: Int): Double = {
    val total = cuts.totalBins
    // (values ≤ bin's cut counted per bin, values equal to the cut, rows)
    val (inBin, atCut, n) = rows.treeAggregate((new Array[Long](total), new Array[Long](total), 0L))(
      { case ((le, eq, c), f) =>
        var j = 0
        while (j < cuts.numFeatures) {
          val b = cuts.searchBin(j, f(j))
          if (b >= 0) {
            le(cuts.featureOffset(j) + b) += 1
            if (f(j) == cuts.cuts(j)(b)) eq(cuts.featureOffset(j) + b) += 1
          }
          j += 1
        }
        (le, eq, c + 1)
      },
      { case ((a1, a2, a3), (b1, b2, b3)) =>
        var i = 0
        while (i < total) { a1(i) += b1(i); a2(i) += b2(i); i += 1 }
        (a1, a2, a3 + b3)
      })
    var worst = 0.0
    var j = 0
    while (j < cuts.numFeatures) {
      val off = cuts.featureOffset(j)
      val m = cuts.numBins(j)
      val hi = new Array[Double](m)
      val lo = new Array[Double](m)
      var cum = 0L
      var k = 0
      while (k < m) {
        cum += inBin(off + k)
        hi(k) = cum.toDouble / n
        lo(k) = (cum - atCut(off + k)).toDouble / n
        k += 1
      }
      var b = 1
      while (b < maxBin) {
        val t = b.toDouble / maxBin
        var best = Double.MaxValue
        k = 0
        while (k < m) {
          best = math.min(best, if (t < lo(k)) lo(k) - t else if (t > hi(k)) t - hi(k) else 0.0)
          k += 1
        }
        worst = math.max(worst, best)
        b += 1
      }
      j += 1
    }
    worst
  }
}

/** One span per boosting round, from beforeIteration to afterIteration. */
final class RoundSpans(rec: Recorder) extends TrainingCallback {
  private var open: (Long, Long, Long) = null
  override def beforeIteration(iter: Int): Unit = open = rec.beginChild()
  override def afterIteration(iter: Int, evalLog: Map[String, Double]): Boolean = {
    rec.endChild(open, "tree.round")
    false
  }
}
