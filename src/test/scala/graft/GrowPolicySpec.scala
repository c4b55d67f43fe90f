package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tree.{GBTTrainer, TrainParams}

class GrowPolicySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext

  private def regressionData(seed: Int, n: Int = 3000) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian())
      // strongly nonlinear in x0 so deep one-sided splits pay off
      val y = (if (x(0) > 1.0) 5.0 else 0.0) + x(1) * 0.5 + 0.1 * rng.nextGaussian()
      (x, y, 1.0)
    }
  }

  private def rmse(model: graft.model.BoosterModel,
      rows: Seq[(Array[Double], Double, Double)]): Double =
    math.sqrt(rows.map { case (x, y, _) =>
      math.pow(model.margin(x)(0) - y, 2)
    }.sum / rows.size)

  test("lossguide honors maxLeaves and can grow past balanced depth") {
    val rows = regressionData(51)
    val data = sc.parallelize(rows, 5)
    val model = new GBTTrainer(TrainParams(growPolicy = "lossguide",
      maxLeaves = 8, maxDepth = 20, numRounds = 3, maxBin = 64, eta = 0.5,
      seed = 3)).fit(data)
    model.trees.foreach { t =>
      assert(t.numLeaves <= 8, s"leaves ${t.numLeaves} exceeds maxLeaves")
      assert(t.numLeaves >= 2, "tree should actually split")
    }
    // depth 4+ with only 8 leaves ⇒ unbalanced best-first growth happened
    assert(model.trees.exists(_.maxDepth > 3),
      s"expected an unbalanced tree, depths=${model.trees.map(_.maxDepth).toSeq}")
    val base = math.sqrt(rows.map { case (_, y, _) =>
      val mean = rows.map(_._2).sum / rows.size
      (y - mean) * (y - mean)
    }.sum / rows.size)
    assert(rmse(model, rows) < base * 0.6, "lossguide model should fit the signal")
  }

  test("lossguide expands strictly by gain: first split matches depthwise root split") {
    val rows = regressionData(53)
    val data = sc.parallelize(rows, 5)
    val lg = new GBTTrainer(TrainParams(growPolicy = "lossguide", maxLeaves = 2,
      maxDepth = 6, numRounds = 1, maxBin = 64, seed = 3)).fit(data)
    val dw = new GBTTrainer(TrainParams(growPolicy = "depthwise", maxDepth = 1,
      numRounds = 1, maxBin = 64, seed = 3)).fit(data)
    // a 2-leaf lossguide tree IS the depthwise root split. The two fits
    // sketch independently and treeAggregate merge order varies with
    // scheduling, so the chosen cut can move by a bin width (~0.1 at
    // maxBin=64 over N(0,1)); the invariant is the same feature and the
    // same split region, not the exact cut value.
    val (l, d) = (lg.trees(0).nodes(0), dw.trees(0).nodes(0))
    assert(l.feature == d.feature && math.abs(l.threshold - d.threshold) < 0.2,
      s"root splits differ: f${l.feature}@${l.threshold} vs f${d.feature}@${d.threshold}")
  }

  test("approx (hessian re-sketch) reaches hist-level accuracy") {
    val rows = regressionData(57)
    val data = sc.parallelize(rows, 5)
    val hist = new GBTTrainer(TrainParams(treeMethod = "hist", numRounds = 8,
      maxDepth = 4, maxBin = 32, eta = 0.3, seed = 3)).fit(data)
    val approx = new GBTTrainer(TrainParams(treeMethod = "approx", numRounds = 8,
      maxDepth = 4, maxBin = 32, eta = 0.3, seed = 3)).fit(data)
    val (rh, ra) = (rmse(hist, rows), rmse(approx, rows))
    assert(ra < rh * 1.25 + 0.05, s"approx rmse $ra should track hist rmse $rh")
    assert(approx.trees.length == 8)
  }

  test("unknown grow_policy / tree_method values are rejected, not ignored") {
    val data = sc.parallelize(regressionData(59, 200), 2)
    intercept[IllegalArgumentException] {
      new GBTTrainer(TrainParams(growPolicy = "bogus", numRounds = 1)).fit(data)
    }
    intercept[IllegalArgumentException] {
      new GBTTrainer(TrainParams(treeMethod = "bogus", numRounds = 1)).fit(data)
    }
  }
  test("single-partition lossguide under a depth cap: model JSON digest pinned") {
    // one partition with minTrainPartitions = 0 pins every fold order, so
    // the model is bit-stable; maxLeaves 12 under maxDepth 4 makes both
    // caps bind
    val data = sc.parallelize(regressionData(61, 2000), 1)
    val model = new GBTTrainer(TrainParams(growPolicy = "lossguide", maxLeaves = 12,
      maxDepth = 4, numRounds = 3, maxBin = 32, eta = 0.3, seed = 5,
      minTrainPartitions = 0)).fit(data)
    assert(model.trees.exists(_.maxDepth == 4), "the depth cap must bind")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(model.toJson.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md5 == "b93da48ec44f5fb52de246aba2352d15", s"lossguide digest $md5")
  }

  test("on one partition, lossguide at maxLeaves = 2^d, maxDepth = d predicts as depthwise at d") {
    val rows = regressionData(63, 2000)
    val data = sc.parallelize(rows, 1)
    val d = 3
    def fit(policy: String, maxLeaves: Int) = new GBTTrainer(TrainParams(
      growPolicy = policy, maxLeaves = maxLeaves, maxDepth = d, numRounds = 3,
      maxBin = 32, eta = 0.3, seed = 5, minTrainPartitions = 0)).fit(data)
    val lg = fit("lossguide", 1 << d)
    val dw = fit("depthwise", 0)
    assert(dw.trees.exists(_.maxDepth == d))
    rows.foreach { case (x, _, _) =>
      assert(lg.margin(x)(0) == dw.margin(x)(0), s"margins differ at ${x.toSeq}")
    }
  }
}
