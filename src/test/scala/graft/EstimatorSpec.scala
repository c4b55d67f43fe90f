package graft

import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.scalatest.funsuite.AnyFunSuite

import graft.api._

class EstimatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def regDf(seed: Int, n: Int = 1500) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian())
      (x.toSeq, x(0) * 3 - x(1) + 0.1 * rng.nextGaussian())
    }.toDF("features", "label")
  }

  test("regressor fit/transform through the MLlib Estimator API") {
    val df = regDf(81)
    val model = new XGBoostRegressor().setNumRound(10).setMaxDepth(4)
      .setMaxBin(64).setSeed(3L).fit(df)
    val out = model.transform(df)
    assert(out.columns.contains("prediction"))
    val rmse = math.sqrt(out.selectExpr("avg(pow(prediction - label, 2))").head().getDouble(0))
    assert(rmse < 1.0, s"estimator rmse $rmse")
  }

  test("binary classifier emits MLlib-consumable rawPrediction/probability/prediction") {
    val rng = new scala.util.Random(83)
    val df = (0 until 1500).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      (Vectors.dense(x), if (x(0) + 0.3 * rng.nextGaussian() > 0) 1.0 else 0.0)
    }.toDF("features", "label")
    val model = new XGBoostClassifier().setNumRound(10).setMaxDepth(3)
      .setMaxBin(64).setSeed(3L).fit(df)
    val out = model.transform(df)
    val row = out.select("rawPrediction", "probability", "prediction").head()
    val raw = row.getAs[Vector](0); val prob = row.getAs[Vector](1)
    assert(raw.size == 2 && prob.size == 2)
    assert(math.abs(prob(0) + prob(1) - 1.0) < 1e-9)
    assert(math.abs(raw(0) + raw(1)) < 1e-12, "raw = [-margin, margin]")
    // the standard MLlib evaluator consumes the output directly
    val auc = new BinaryClassificationEvaluator().setRawPredictionCol("rawPrediction")
      .evaluate(out)
    assert(auc > 0.85, s"evaluator AUC $auc")
  }

  test("multiclass classifier emits per-class vectors and argmax prediction") {
    val rng = new scala.util.Random(87)
    val df = (0 until 1500).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      val y = (if (x(0) > 0.4) 2 else if (x(0) < -0.4) 0 else 1).toDouble
      (x.toSeq, y)
    }.toDF("features", "label")
    val model = new XGBoostClassifier().setObjective("multi:softprob").setNumClass(3)
      .setNumRound(8).setMaxDepth(3).setMaxBin(64).setSeed(3L).fit(df)
    val out = model.transform(df)
    val acc = out.selectExpr("CAST(avg(CASE WHEN prediction = label THEN 1.0 ELSE 0.0 END) AS DOUBLE)")
      .head().getDouble(0)
    assert(acc > 0.8, s"multiclass accuracy $acc")
    assert(out.select("probability").head().getAs[Vector](0).size == 3)
  }

  test("ranker trains through qid groups") {
    val rng = new scala.util.Random(89)
    val df = (0 until 50).flatMap { q =>
      (0 until 15).map { _ =>
        val x = Array(rng.nextGaussian(), rng.nextGaussian())
        val rel = math.max(0, math.min(3, math.round(1.5 + x(0)).toInt)).toDouble
        (x.toSeq, rel, q.toLong)
      }
    }.toDF("features", "label", "qid")
    val model = new XGBoostRanker().setNumRound(8).setMaxDepth(3).setMaxBin(64)
      .setSeed(3L).fit(df)
    val out = model.transform(df)
    // prediction should correlate with relevance
    val corr = out.selectExpr("corr(prediction, label)").head().getDouble(0)
    assert(corr > 0.5, s"ranker corr $corr")
  }

  test("model save/load roundtrip preserves params and predictions") {
    val df = regDf(91, 800)
    val model = new XGBoostRegressor().setNumRound(6).setMaxDepth(3).setMaxBin(64)
      .setSeed(3L).setPredictionCol("pred_out").fit(df)
    val dir = java.nio.file.Files.createTempDirectory("graft-ml-io").toString + "/m1"
    model.write.overwrite().save(dir)
    val loaded = XGBoostRegressionModel.load(dir)
    assert(loaded.uid == model.uid)
    val a = model.transform(df).select("pred_out").collect().map(_.getDouble(0))
    val b = loaded.transform(df).select("pred_out").collect().map(_.getDouble(0))
    a.zip(b).foreach { case (x, y) => assert(x == y, "loaded model predicts identically") }
  }

  test("estimator save/load roundtrip") {
    val est = new XGBoostClassifier().setNumRound(4).setEta(0.1).setMaxBin(32)
    val dir = java.nio.file.Files.createTempDirectory("graft-ml-io").toString + "/e1"
    est.write.overwrite().save(dir)
    val loaded = XGBoostClassifier.load(dir)
    assert(loaded.getOrDefault(loaded.numRound) == 4)
    assert(loaded.getOrDefault(loaded.eta) == 0.1)
    assert(loaded.getOrDefault(loaded.maxBin) == 32)
  }

  test("estimator composes inside an MLlib Pipeline with save/load") {
    import org.apache.spark.ml.{Pipeline, PipelineModel}
    import org.apache.spark.ml.feature.SQLTransformer
    val df = regDf(85)
    // a real multi-stage pipeline: SQL feature prep stage → booster stage
    val prep = new SQLTransformer().setStatement(
      "SELECT features, label, label * 0.0 + 1.0 AS w FROM __THIS__")
    val xgb = new XGBoostRegressor().setNumRound(6).setMaxDepth(3)
      .setMaxBin(32).setSeed(9L).setWeightCol("w")
    val pm = new Pipeline().setStages(Array(prep, xgb)).fit(df)
    val before = pm.transform(df).selectExpr("sum(prediction)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    pm.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val after = loaded.transform(df).selectExpr("sum(prediction)").head().getDouble(0)
    assert(before == after, s"$before vs $after")
  }

  test("multi-quantile regressor: array prediction, ordered lanes") {
    val rng = new scala.util.Random(91)
    val df = (0 until 4000).map { _ =>
      val x = rng.nextDouble() * 4.0
      (Seq(x), 2.0 * x + rng.nextGaussian())
    }.toDF("features", "label")
    val model = new XGBoostRegressor()
      .setObjective("reg:quantileerror")
      .setQuantileAlphas(Array(0.1, 0.5, 0.9))
      .setNumRound(30).setMaxDepth(3).setMaxBin(64).setSeed(5L)
      .fit(df)
    val out = model.transform(df)
    val schema = out.schema("prediction").dataType.simpleString
    assert(schema == "array<double>", schema)
    val rows = out.selectExpr("features[0] AS x", "prediction").collect()
    // lanes ordered on the vast majority of rows, and median tracks 2x
    val ordered = rows.count { r =>
      val p = r.getSeq[Double](1)
      p(0) <= p(1) && p(1) <= p(2)
    }
    assert(ordered > rows.length * 0.95, s"ordered lanes on $ordered/${rows.length}")
    val medianErr = rows.map { r =>
      math.abs(r.getSeq[Double](1)(1) - 2.0 * r.getDouble(0))
    }.sum / rows.length
    assert(medianErr < 0.5, s"median lane mean abs err $medianErr")
  }

  test("multi-quantile regressor rejects validationIndicatorCol instead of training on validation rows") {
    val df = (0 until 200).map(i => (Seq(i.toDouble), i.toDouble, i % 5 == 0))
      .toDF("features", "label", "isVal")
    val e = intercept[IllegalArgumentException] {
      new XGBoostRegressor().setObjective("reg:quantileerror")
        .setQuantileAlphas(Array(0.1, 0.9)).setNumRound(2)
        .setValidationIndicatorCol("isVal").fit(df)
    }
    assert(e.getMessage.contains("validationIndicatorCol"), e.getMessage)
  }

  test("validationIndicatorCol drives early stopping through the estimator") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    // train rows are learnable; validation rows are pure noise ⇒ the val
    // watch plateaus immediately and earlyStoppingRounds kicks in
    val df = ((0 until 3000).map { _ =>
      val x = rng.nextGaussian()
      (Seq(x, rng.nextGaussian()), 2.0 * x + 0.1 * rng.nextGaussian(), false)
    } ++ (0 until 1000).map { _ =>
      (Seq(rng.nextGaussian(), rng.nextGaussian()), rng.nextGaussian(), true)
    }).toDF("features", "label", "isVal")
      .repartition(4)
    val model = new XGBoostRegressor()
      .setNumRound(40).setMaxDepth(4).setMaxBin(64).setSeed(7L)
      .setEarlyStoppingRounds(3).setValidationIndicatorCol("isVal")
      .fit(df)
    assert(model.booster.trees.length < 40,
      s"noise validation watch should stop early, got ${model.booster.trees.length}")
    // training summary rides the fitted model (MLlib .summary pattern)
    val sum = model.summary.get
    assert(sum.history.nonEmpty)
    assert(sum.bestIteration + 1 == model.booster.trees.length)
    assert(sum.fullHistory.head._2.keySet == Set("eval-rmse"), sum.fullHistory.head._2.keySet)
    // without the indicator the learnable train set is the watch: no stop
    val noVal = new XGBoostRegressor()
      .setNumRound(12).setMaxDepth(4).setMaxBin(64).setSeed(7L)
      .setEarlyStoppingRounds(3)
      .fit(df.where(!$"isVal"))
    assert(noVal.booster.trees.length == 12,
      s"train watch keeps improving: ${noVal.booster.trees.length}")
  }

  test("categorical features end-to-end: string column → CategoryEncoder → " +
      "featureTypes('c') → categorical splits → save/load") {
    import org.apache.spark.sql.functions.{array, col}
    // the label lift is a NON-ORDINAL function of the category (codes
    // {1, 3} high, {0, 2, 4} low), so a numeric threshold split cannot
    // separate the classes — only a set-partition split can
    val cities = Array("ams", "ber", "cdg", "dxb", "ewr")
    val lift = Map("ams" -> 0.0, "ber" -> 5.0, "cdg" -> 0.0, "dxb" -> 5.0, "ewr" -> 0.0)
    val rng = new scala.util.Random(11)
    val raw = (0 until 2000).map { _ =>
      val c = cities(rng.nextInt(cities.length))
      val x = rng.nextGaussian()
      (c, x, 0.5 * x + lift(c) + 0.05 * rng.nextGaussian())
    }.toDF("city", "x", "label")
    val dict = graft.data.CategoryEncoder.fit(raw, Seq("city"))
    val encoded = dict.transform(raw)
      .select(array(col("x"), col("city_code").cast("double")).as("features"), col("label"))
    val model = new XGBoostRegressor().setNumRound(8).setMaxDepth(3).setMaxBin(32)
      .setSeed(5L).setFeatureTypes(Array("q", "c")).fit(encoded)
    // the trainer must have produced set-partition conditions on feature 1
    assert(model.booster.trees.exists(_.nodes.exists(n =>
      !n.isLeaf && n.isCategorical && n.feature == 1)),
      "expected categorical (set-partition) splits on the 'c' feature")
    val out = model.transform(encoded)
    val rmse = math.sqrt(out.selectExpr("avg(pow(prediction - label, 2))").head().getDouble(0))
    assert(rmse < 0.5, s"categorical estimator rmse $rmse")
    // save/load keeps the categorical conditions, the featureTypes param,
    // and the predictions
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-est").toString
    model.write.overwrite().save(dir)
    val back = XGBoostRegressionModel.load(dir)
    assert(back.getOrDefault(back.featureTypes).toSeq == Seq("q", "c"))
    assert(back.booster.trees.exists(_.nodes.exists(n => !n.isLeaf && n.isCategorical)))
    val a = model.booster.margin(Array(0.3, 1.0))(0)
    val b = back.booster.margin(Array(0.3, 1.0))(0)
    assert(a == b, s"roundtrip prediction drift: $a vs $b")
  }

  test("monotone constraint honored through the estimator facade") {
    // label DECREASES in x0 on average, but the +1 constraint must force
    // the fitted function non-decreasing in x0 anyway (the reference's
    // monotone-constraint contract)
    val rng = new scala.util.Random(23)
    val df = (0 until 2000).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      (x.toSeq, -0.5 * x(0) + x(1) + 0.1 * rng.nextGaussian())
    }.toDF("features", "label")
    val model = new XGBoostRegressor().setNumRound(8).setMaxDepth(3).setMaxBin(32)
      .setSeed(5L).setMonotoneConstraints(Array(1, 0)).fit(df)
    val sweep = (-20 to 20).map(i => model.booster.margin(Array(i / 5.0, 0.0))(0))
    sweep.sliding(2).foreach { case Seq(lo, hi) =>
      assert(hi >= lo - 1e-12, s"monotone(+1) violated: $sweep")
    }
  }

  test("reference Spark-package params reach the trainer: DART, quantileAlpha, numParallelTree, baseScore") {
    val df = regDf(97)
    // DART booster through the facade: dropout must change the model
    val dart = new XGBoostRegressor().setNumRound(8).setMaxDepth(3).setMaxBin(32)
      .setSeed(3L).setBooster("dart").setRateDrop(0.5).setOneDrop(true).fit(df)
    val plain = new XGBoostRegressor().setNumRound(8).setMaxDepth(3).setMaxBin(32)
      .setSeed(3L).fit(df)
    val probe = Array(0.4, -0.6, 1.1)
    assert(dart.booster.margin(probe)(0) != plain.booster.margin(probe)(0),
      "DART params did not reach the trainer")
    // pinned quantile level: alpha 0.9 fits a higher curve than 0.1
    def qfit(a: Double) = new XGBoostRegressor().setObjective("reg:quantileerror")
      .setQuantileAlpha(a).setNumRound(10).setMaxDepth(3).setMaxBin(32).setSeed(3L).fit(df)
    val hi = qfit(0.9); val lo = qfit(0.1)
    val preds = (0 until 50).map { i =>
      val x = Array(i / 25.0 - 1.0, 0.0, 0.0)
      (hi.booster.margin(x)(0), lo.booster.margin(x)(0))
    }
    assert(preds.count { case (h, l) => h > l } > 40,
      "quantileAlpha must select different quantile curves")
    // boosted random forest: numParallelTree trees per round
    val rf = new XGBoostRegressor().setNumRound(2).setNumParallelTree(3)
      .setMaxDepth(3).setMaxBin(32).setSeed(3L).setSubsample(0.7).fit(df)
    assert(rf.booster.trees.length == 6, s"2 rounds x 3 parallel = 6, got ${rf.booster.trees.length}")
    // explicit base score overrides the label-mean intercept
    val biased = new XGBoostRegressor().setNumRound(1).setMaxDepth(2).setMaxBin(32)
      .setSeed(3L).setBaseScore(42.0).fit(df)
    assert(biased.booster.baseScore(0) == 42.0)
  }

  test("ranker facade exposes the LambdaRank knobs and they reach the trainer") {
    val rng = new scala.util.Random(37)
    val df = (0 until 60).flatMap { q =>
      (0 until 20).map { _ =>
        val x = Array(rng.nextGaussian(), rng.nextGaussian())
        val rel = math.max(0, math.min(3, math.round(1.5 + x(0) + 0.4 * rng.nextGaussian()).toInt)).toDouble
        (x.toSeq, rel, q.toLong)
      }
    }.toDF("features", "label", "qid")
    def ranker = new XGBoostRanker().setNumRound(5).setMaxDepth(3).setMaxBin(32).setSeed(9L)
    val defaults = ranker.fit(df)
    // flags are plumbed: switching off the reference-default normalizations
    // must train a DIFFERENT model (different effective λ scale)
    val unnormalized = ranker.setLambdarankNormalization(false)
      .setLambdarankScoreNormalization(false).fit(df)
    val probe = Array(0.5, -0.2)
    assert(defaults.booster.margin(probe)(0) != unnormalized.booster.margin(probe)(0),
      "normalization flags did not reach the trainer")
    // unbiased + topk paths run end-to-end through the facade
    val unbiased = ranker.setLambdarankUnbiased(true).setLambdarankTopK(8).fit(df)
    assert(unbiased.booster.trees.nonEmpty)
    // params persist through save/load
    val dir = java.nio.file.Files.createTempDirectory("graft-ranker").toString
    unbiased.write.overwrite().save(dir)
    val back = XGBoostRankerModel.load(dir)
    assert(back.getOrDefault(back.asInstanceOf[GraftXGBParams].predictionCol) == "prediction")
    assert(back.booster.margin(probe)(0) == unbiased.booster.margin(probe)(0))
  }

  test("interaction constraints honored through the estimator facade") {
    // with groups [[0],[1]] no root→leaf path may mix features 0 and 1
    val rng = new scala.util.Random(29)
    val df = (0 until 2000).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      (x.toSeq, x(0) * x(1) + 0.1 * rng.nextGaussian()) // interaction bait
    }.toDF("features", "label")
    val model = new XGBoostRegressor().setNumRound(6).setMaxDepth(4).setMaxBin(32)
      .setSeed(5L).setInteractionConstraints("[[0],[1]]").fit(df)
    model.booster.trees.foreach { t =>
      def walk(i: Int, seen: Set[Int]): Unit = {
        val n = t.nodes(i)
        if (!n.isLeaf) {
          val s = seen + n.feature
          assert(s.size <= 1, s"path mixes features $s despite [[0],[1]]")
          walk(n.left, s); walk(n.right, s)
        }
      }
      walk(0, Set.empty)
    }
  }
}
