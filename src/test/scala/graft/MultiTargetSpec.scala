package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tree.{GBTTrainer, MultiTargetTrainer, TrainParams}

class MultiTargetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext

  /** Two targets over three gaussian features, no missing values. */
  private def twoTargetRows(seed: Int, n: Int) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian())
      (x, Array(2.0 * x(0) - x(1) + 0.1 * rng.nextGaussian(),
        x(1) * x(2) + 0.1 * rng.nextGaussian()), 1.0)
    }
  }

  /** Class index of three gaussian blobs in two features. */
  private def blobRows(seed: Int, n: Int) = {
    val rng = new scala.util.Random(seed)
    val centers = Array((0.0, 0.0), (3.0, 0.0), (0.0, 3.0))
    (0 until n).map { _ =>
      val c = rng.nextInt(3)
      (Array(centers(c)._1 + rng.nextGaussian(), centers(c)._2 + rng.nextGaussian()),
        Array(c.toDouble), 1.0)
    }
  }

  private val pinParams = TrainParams(numRounds = 6, maxDepth = 3, eta = 0.3, maxBin = 32,
    minTrainPartitions = 0)

  /** Spark jobs `f` submits, read from the status tracker once a later
    * marker job is visible (the listener bus has then drained). */
  private def jobsOf(name: String)(f: => Any): Int = {
    val group = s"$name-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    val marker = group + "-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "listener bus did not drain")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def assertMargins(m: graft.model.BoosterModel, xs: Seq[Array[Double]],
      want: Array[Array[Double]]): Unit =
    xs.zip(want).foreach { case (x, w) =>
      val got = m.margin(x)
      assert(got.length == w.length)
      got.indices.foreach { k =>
        assert(math.abs(got(k) - w(k)) <= 1e-9 * math.abs(w(k)),
          s"margin ${got.toSeq} vs ${w.toSeq} at ${x.toSeq}")
      }
    }

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

  test("one-partition vector-leaf regression predicts as pinned") {
    val rows = twoTargetRows(41, 1500)
    val m = new MultiTargetTrainer(pinParams, 2).fit(sc.parallelize(rows, 1))
    assertMargins(m, rows.take(12).map(_._1), Array(
      Array(2.1017528580021327, -0.026795424559252540),
      Array(2.3563711264718736, -0.011285905024030887),
      Array(1.7453807402724675, -0.027191545730781405),
      Array(0.17823381131468985, 0.0030682975092200060),
      Array(3.3161581759399508, 0.033333289343484190),
      Array(1.5837517321198658, 0.42826448720396870),
      Array(0.0040335889886584930, 0.37708539118716095),
      Array(0.25584465514578410, -0.023841620495858050),
      Array(-4.4754897170705060, -0.0094780605117598120),
      Array(1.3159191100290986, -0.042956342237557290),
      Array(-2.5352205565020847, -0.69835968940754740),
      Array(-0.65152513555992560, -0.039692452031596650)))
  }

  test("one-partition vector-leaf softprob predicts as pinned") {
    val rows = blobRows(43, 1500)
    val m = new MultiTargetTrainer(pinParams.copy(objective = "multi:softprob"), 3)
      .fit(sc.parallelize(rows, 1))
    val a = Array(1.1119047825835167, -0.98972869746014170, -0.49801259950882837)
    val b = Array(1.3448044486843498, -0.91631347885647340, -0.90858203142303620)
    val c = Array(-1.0192321753256994, -1.0858538721323006, 1.5062581812861133)
    assertMargins(m, rows.take(12).map(_._1), Array(a, b, c, b, c, c, c,
      Array(0.97074446586956840, -0.99607908734072140, -0.30459904030230983), b,
      Array(-0.90683558446743810, -1.0270602262024550, 1.4187331622314150), c,
      Array(-0.26586353149663405, 0.89864438359169710, -0.87941005128184290)))
  }

  test("a vector-leaf depthwise round submits exactly 1 + maxDepth jobs, a fit no more than before") {
    val data = sc.parallelize(twoTargetRows(41, 1500), 4).cache()
    data.count()
    def jobs(rounds: Int) = jobsOf(s"multi-$rounds")(
      new MultiTargetTrainer(pinParams.copy(numRounds = rounds, maxDepth = 4), 2).fit(data))
    val two = jobs(2)
    val three = jobs(3)
    // root totals plus one histogram pass per level
    assert(three - two == 1 + 4, s"$two jobs for 2 rounds, $three for 3")
    // sketch, binning and validation, 5 per round, one margin flush after
    // round 8 of 10 and none after the last round of 8
    val ten = jobs(10)
    val eight = jobs(8)
    assert(ten <= 54 && eight <= 43, s"$ten jobs for 10 rounds, $eight for 8")
    data.unpersist()
  }

  test("settings multi-target trees do not run are rejected, naming the field") {
    val rows = sc.parallelize(twoTargetRows(5, 50), 1)
    Seq(
      TrainParams(treeMethod = "approx") -> "treeMethod",
      TrainParams(booster = "dart") -> "booster",
      TrainParams(samplingMethod = "gradient_based", subsample = 0.5) -> "samplingMethod",
      TrainParams(catFeatures = Set(0)) -> "catFeatures",
      TrainParams(monotoneConstraints = Array(1, 0, 0)) -> "monotoneConstraints",
      TrainParams(interactionConstraints = Seq(Set(0, 1))) -> "interactionConstraints",
      TrainParams(evalMetric = Some("rmse")) -> "evalMetric",
      TrainParams(evalMetrics = Seq("rmse")) -> "evalMetrics",
      TrainParams(earlyStoppingRounds = 2) -> "earlyStoppingRounds",
      TrainParams(baseScore = Some(0.5)) -> "baseScore"
    ).foreach { case (p, field) =>
      val e = intercept[IllegalArgumentException](new MultiTargetTrainer(p, 2).fit(rows))
      assert(e.getMessage.contains(field), e.getMessage)
    }
  }

  test("bad labels, weights or an empty input are rejected before the first round") {
    val rows = twoTargetRows(7, 100)
    Seq(
      rows.updated(3, (rows(3)._1, Array(1.0, Double.NaN), 1.0)) -> "label",
      rows.updated(5, (rows(5)._1, rows(5)._2, -1.0)) -> "weight",
      Seq.empty[(Array[Double], Array[Double], Double)] -> "empty dataset"
    ).foreach { case (data, what) =>
      val e = intercept[IllegalArgumentException](
        new MultiTargetTrainer(pinParams, 2).fit(sc.parallelize(data, 2)))
      assert(e.getMessage.contains(what), e.getMessage)
    }
  }

  test("on one partition, vector-leaf lossguide at maxLeaves = 2^d predicts as depthwise at d") {
    val rows = twoTargetRows(63, 1500)
    val data = sc.parallelize(rows, 1)
    val d = 3
    def fit(policy: String, maxLeaves: Int) = new MultiTargetTrainer(
      pinParams.copy(growPolicy = policy, maxLeaves = maxLeaves, maxDepth = d), 2).fit(data)
    val lg = fit("lossguide", 1 << d)
    val dw = fit("depthwise", 0)
    assert(dw.trees.exists(_.maxDepth == d))
    rows.foreach { case (x, _, _) =>
      assert(lg.margin(x).toSeq == dw.margin(x).toSeq, s"margins differ at ${x.toSeq}")
    }
    // lossguide's own leaf budget binds too
    val small = fit("lossguide", 3)
    assert(small.trees.forall(_.numLeaves <= 3))
  }

  test("row subsampling is honoured: a different, still accurate, reproducible model") {
    val rows = twoTargetRows(67, 2000)
    val data = sc.parallelize(rows, 1)
    def fit(p: TrainParams) = new MultiTargetTrainer(p, 2).fit(data)
    val full = fit(pinParams)
    val sub = fit(pinParams.copy(subsample = 0.5, seed = 3))
    val again = fit(pinParams.copy(subsample = 0.5, seed = 3))
    assert(sub.toJson == again.toJson, "the row sample is seeded")
    assert(sub.toJson != full.toJson, "subsample must change the trees")
    val rmse = math.sqrt(rows.map { case (x, ys, _) => math.pow(sub.margin(x)(0) - ys(0), 2) }
      .sum / rows.size)
    assert(rmse < 1.0, s"target0 rmse $rmse")
  }
}
