package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tree.{GBTTrainer, MultiTargetTrainer, TrainParams}

class MultiTargetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext

  test("vector-leaf regression learns two targets with one tree per round") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 3000).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      val ys = Array(3.0 * x(0), -2.0 * x(1) + 1.0)
      (x, ys.map(_ + 0.05 * rng.nextGaussian()), 1.0)
    }
    val m = new MultiTargetTrainer(TrainParams(numRounds = 8, maxDepth = 4,
      eta = 0.5, maxBin = 64), numTargets = 2)
      .fit(sc.parallelize(rows, 4))
    assert(m.trees.length == 8, "ONE tree per round, not one per target")
    assert(m.trees.forall(_.nodes.filter(_.isLeaf).forall(_.leaf.length == 2)),
      "leaves must be 2-vectors")
    val rmse = Array(0.0, 0.0)
    rows.foreach { case (x, ys, _) =>
      val p = m.margin(x)
      rmse(0) += math.pow(p(0) - ys(0), 2) / rows.size
      rmse(1) += math.pow(p(1) - ys(1), 2) / rows.size
    }
    assert(math.sqrt(rmse(0)) < 0.8, s"target0 rmse ${math.sqrt(rmse(0))}")
    assert(math.sqrt(rmse(1)) < 0.8, s"target1 rmse ${math.sqrt(rmse(1))}")
  }

  test("multi_output_tree softprob classifies three blobs") {
    val rng = new scala.util.Random(13)
    val centers = Array((0.0, 0.0), (4.0, 0.0), (0.0, 4.0))
    val rows = (0 until 3000).map { _ =>
      val c = rng.nextInt(3)
      val x = Array(centers(c)._1 + rng.nextGaussian(), centers(c)._2 + rng.nextGaussian())
      (x, Array(c.toDouble), 1.0)
    }
    val m = new MultiTargetTrainer(TrainParams(objective = "multi:softprob",
      numRounds = 8, maxDepth = 4, eta = 0.5, maxBin = 64), numTargets = 3)
      .fit(sc.parallelize(rows, 4))
    val acc = rows.count { case (x, ys, _) =>
      val p = m.margin(x)
      p.indices.maxBy(p) == ys(0).toInt
    }.toDouble / rows.size
    assert(acc > 0.9, s"accuracy $acc")
    // vs one-tree-per-class: same rounds → multi-output uses 1/3 the trees
    val perClass = new GBTTrainer(TrainParams(objective = "multi:softprob",
      numClass = 3, numRounds = 8, maxDepth = 4, eta = 0.5, maxBin = 64, seed = 1))
      .fit(sc.parallelize(rows.map { case (x, ys, w) => (x, ys(0), w) }, 4))
    val accPc = rows.count { case (x, ys, _) =>
      val p = perClass.margin(x)
      p.indices.maxBy(p) == ys(0).toInt
    }.toDouble / rows.size
    assert(m.trees.length * 3 == perClass.trees.length)
    assert(acc > accPc - 0.05, s"multi-output $acc vs per-class $accPc")
  }

  test("shared split points: both targets' signal flows through one structure") {
    // target0 depends on x0 only, target1 on x0 only too (correlated task):
    // one shared tree should fit both nearly perfectly
    val rng = new scala.util.Random(17)
    val rows = (0 until 2000).map { _ =>
      val x = Array(rng.nextGaussian())
      (x, Array(if (x(0) > 0) 1.0 else -1.0, if (x(0) > 0) 5.0 else 2.0), 1.0)
    }
    val m = new MultiTargetTrainer(TrainParams(numRounds = 5, maxDepth = 2,
      eta = 0.7, maxBin = 32), numTargets = 2).fit(sc.parallelize(rows, 3))
    val p = m.margin(Array(1.5))
    val q = m.margin(Array(-1.5))
    assert(math.abs(p(0) - 1.0) < 0.2 && math.abs(p(1) - 5.0) < 0.4, p.toSeq.toString)
    assert(math.abs(q(0) + 1.0) < 0.2 && math.abs(q(1) - 2.0) < 0.4, q.toSeq.toString)
  }

  test("multi-quantile: one lane per alpha, lanes converge to the quantiles") {
    // y | x ~ N(2x, 1): the alpha-quantile of y is 2x + z_alpha, so each
    // lane should recover a parallel line offset by its normal quantile
    val rng = new scala.util.Random(23)
    val rows = (0 until 6000).map { _ =>
      val x = rng.nextDouble() * 4.0
      (Array(x), 2.0 * x + rng.nextGaussian(), 1.0)
    }
    val alphas = Array(0.1, 0.5, 0.9)
    val m = graft.api.XGBoost.trainQuantiles(sc.parallelize(rows, 4),
      TrainParams(numRounds = 40, maxDepth = 3, eta = 0.3, maxBin = 64, seed = 3),
      alphas)
    assert(m.numGroups == 3)
    // empirical coverage of each lane ≈ its alpha
    val n = rows.size
    val below = Array(0, 0, 0)
    rows.foreach { case (x, y, _) =>
      val q = m.margin(x)
      var k = 0
      while (k < 3) { if (y <= q(k)) below(k) += 1; k += 1 }
    }
    val cov = below.map(_.toDouble / n)
    alphas.indices.foreach { k =>
      assert(math.abs(cov(k) - alphas(k)) < 0.06,
        s"lane $k coverage ${cov(k)} vs alpha ${alphas(k)}")
    }
    // lanes are ordered at a mid-domain probe point
    val q = m.margin(Array(2.0))
    assert(q(0) < q(1) && q(1) < q(2), q.toSeq.toString)
    // vector-leaf model survives the JSON roundtrip bit-for-bit
    val rt = graft.model.BoosterModel.fromJson(m.toJson)
    assert(rt.numGroups == 3)
    assert(rt.margin(Array(2.0)).toSeq == q.toSeq)
  }

  test("elementwise lift: binary:logistic over two independent label lanes") {
    // lane0 = 1{x0 > 0}, lane1 = 1{x1 > 0} with noise: a multi-output tree
    // with per-lane logistic gradients should recover both decision rules
    val rng = new scala.util.Random(29)
    val rows = (0 until 4000).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      def lab(v: Double) =
        if (rng.nextDouble() < 0.05) 1.0 - (if (v > 0) 1.0 else 0.0)
        else if (v > 0) 1.0 else 0.0
      (x, Array(lab(x(0)), lab(x(1))), 1.0)
    }
    val m = new MultiTargetTrainer(TrainParams(objective = "binary:logistic",
      numRounds = 10, maxDepth = 3, eta = 0.5, maxBin = 32), numTargets = 2)
      .fit(sc.parallelize(rows, 4))
    def sigmoid(z: Double) = 1.0 / (1.0 + math.exp(-z))
    val acc = Array(0, 0)
    rows.foreach { case (x, ys, _) =>
      val p = m.margin(x)
      if ((sigmoid(p(0)) > 0.5) == (ys(0) > 0.5)) acc(0) += 1
      if ((sigmoid(p(1)) > 0.5) == (ys(1) > 0.5)) acc(1) += 1
    }
    assert(acc(0).toDouble / rows.size > 0.9, s"lane0 acc ${acc(0).toDouble / rows.size}")
    assert(acc(1).toDouble / rows.size > 0.9, s"lane1 acc ${acc(1).toDouble / rows.size}")
  }

  test("custom MultiObjective plugs into the trainer") {
    // asymmetric per-lane squared error: lane 1 penalizes over-prediction 3x
    val custom = new graft.objective.MultiObjective {
      val numTargets = 2
      val name = "custom:asym"
      def gradient(ys: Array[Double], m: Array[Double], w: Double, out: Array[Double]): Unit = {
        var k = 0
        while (k < 2) {
          val scale = if (k == 1 && m(k) > ys(k)) 3.0 else 1.0
          out(2 * k) = w * scale * (m(k) - ys(k))
          out(2 * k + 1) = w * scale
          k += 1
        }
      }
      def baseScore(laneMeans: Array[Double]): Array[Double] = laneMeans.clone()
    }
    val rng = new scala.util.Random(31)
    val rows = (0 until 2000).map { _ =>
      val x = Array(rng.nextGaussian())
      (x, Array(2.0 * x(0), -x(0)), 1.0)
    }
    val m = graft.api.XGBoost.trainMulti(sc.parallelize(rows, 3),
      TrainParams(numRounds = 6, maxDepth = 3, eta = 0.5, maxBin = 32),
      numTargets = 2, customObj = Some(custom))
    var rmse0 = 0.0
    rows.foreach { case (x, ys, _) => rmse0 += math.pow(m.margin(x)(0) - ys(0), 2) / rows.size }
    assert(math.sqrt(rmse0) < 0.8, s"custom-objective fit rmse ${math.sqrt(rmse0)}")
  }

  test("non-elementwise objectives are rejected with a clear error") {
    val e = intercept[IllegalArgumentException] {
      new MultiTargetTrainer(TrainParams(objective = "survival:aft"), numTargets = 2)
    }
    assert(e.getMessage.contains("interval"))
    val e2 = intercept[IllegalArgumentException] {
      new MultiTargetTrainer(TrainParams(objective = "rank:ndcg"), numTargets = 2)
    }
    assert(e2.getMessage.contains("whole-group"))
  }

  test("negative maxDepth or maxLeaves is rejected before the fit, naming the field") {
    val rows = sc.parallelize(Seq((Array(1.0), Array(1.0, 2.0), 1.0)), 1)
    Seq(TrainParams(maxDepth = -1) -> "maxDepth", TrainParams(maxLeaves = -1) -> "maxLeaves")
      .foreach { case (p, field) =>
        val e = intercept[IllegalArgumentException](
          new MultiTargetTrainer(p, numTargets = 2).fit(rows))
        assert(e.getMessage.contains(field), e.getMessage)
      }
  }
}
