package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.api.XGBoost
import graft.objective.Objective
import graft.tree.{CustomEvalMetric, GBTTrainer, TrainingCallback, TrainParams}

class TrainFacadeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext

  private def data(seed: Int, n: Int = 2000) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      (x, 3.0 * x(0) + 0.3 * rng.nextGaussian(), 1.0)
    }
  }

  test("callbacks fire each round and can stop training") {
    val seen = collection.mutable.ArrayBuffer[Int]()
    val cb = new TrainingCallback {
      override def beforeIteration(iter: Int): Unit = seen += iter
      override def afterIteration(iter: Int, log: Map[String, Double]): Boolean =
        iter >= 3 // stop after the 4th round
    }
    val m = XGBoost.train(sc.parallelize(data(1), 3),
      TrainParams(numRounds = 20, maxDepth = 3), callbacks = Seq(cb))
    assert(seen.toSeq == Seq(0, 1, 2, 3))
    assert(m.trees.length == 4, s"callback stop must keep all 4 trees, got ${m.trees.length}")
  }

  test("LearningRateScheduler commits each round at the scheduled eta") {
    import graft.tree.LearningRateScheduler
    val rates = Seq(0.5, 0.25, 0.125, 0.1)
    val m = XGBoost.train(sc.parallelize(data(21), 3),
      TrainParams(numRounds = 4, maxDepth = 3, eta = 0.9),
      callbacks = Seq(LearningRateScheduler(rates)))
    assert(m.treeWeights.toSeq == rates,
      s"per-round eta must land in the tree weights: ${m.treeWeights.toSeq}")
    // a scheduled model must differ from the fixed-eta one
    val fixed = XGBoost.train(sc.parallelize(data(21), 3),
      TrainParams(numRounds = 4, maxDepth = 3, eta = 0.9))
    assert(fixed.treeWeights.toSeq == Seq.fill(4)(0.9))
    // sequence form clamps at its last value past the end
    val clamped = XGBoost.train(sc.parallelize(data(21), 3),
      TrainParams(numRounds = 3, maxDepth = 3),
      callbacks = Seq(LearningRateScheduler(Seq(0.4))))
    assert(clamped.treeWeights.toSeq == Seq(0.4, 0.4, 0.4))
  }

  test("EvaluationMonitor logs per period and replays the skipped last round") {
    import graft.tree.EvaluationMonitor
    val lines = collection.mutable.ArrayBuffer[String]()
    val rows = data(22)
    XGBoost.train(sc.parallelize(rows, 3),
      TrainParams(numRounds = 5, maxDepth = 3, eta = 0.5),
      evals = Seq("train" -> sc.parallelize(rows, 3)),
      callbacks = Seq(new EvaluationMonitor(period = 2, logger = lines += _)))
    // rounds 0,2,4 print on period; round 4 IS the last so no replay needed
    assert(lines.size == 3, s"got: $lines")
    assert(lines.forall(_.matches("""\[\d+\]\ttrain-rmse:\d+\.\d{5}""")), s"got: $lines")
    assert(lines.map(_.takeWhile(_ != ']').drop(1)).toSeq == Seq("0", "2", "4"))
    // period 4 over 6 rounds: prints 0, 4, then replays round 5 after training
    val lines2 = collection.mutable.ArrayBuffer[String]()
    XGBoost.train(sc.parallelize(rows, 3),
      TrainParams(numRounds = 6, maxDepth = 3, eta = 0.5),
      evals = Seq("train" -> sc.parallelize(rows, 3)),
      callbacks = Seq(new EvaluationMonitor(period = 4, logger = lines2 += _)))
    assert(lines2.map(_.takeWhile(_ != ']').drop(1)).toSeq == Seq("0", "4", "5"),
      s"got: $lines2")
  }

  test("CheckpointCallback writes reloadable models every k rounds") {
    import graft.tree.CheckpointCallback
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val rows = data(23)
    val m = XGBoost.train(sc.parallelize(rows, 3),
      TrainParams(numRounds = 6, maxDepth = 3, eta = 0.5),
      callbacks = Seq(new CheckpointCallback(dir, name = "m", interval = 2)))
    val files = new java.io.File(dir).list().sorted
    assert(files.toSeq == Seq("m_1.json", "m_3.json", "m_5.json"), s"got: ${files.toSeq}")
    // each checkpoint reloads and carries exactly (iter+1) trees; the last
    // one predicts identically to the final model
    val ck1 = graft.model.BoosterModel.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "m_1.json")))
    assert(ck1.trees.length == 2)
    val ck5 = graft.model.BoosterModel.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "m_5.json")))
    assert(ck5.trees.length == 6)
    rows.take(10).foreach { case (x, _, _) =>
      assert(math.abs(ck5.margin(x)(0) - m.margin(x)(0)) < 1e-12,
        "last checkpoint must predict like the final model")
    }
  }

  test("custom objective trains through the registry-free hook") {
    // squared error re-implemented as a custom objective
    val custom = new Objective {
      def name = "custom:squared"
      def gradient(m: Double, y: Double, out: Array[Double]): Unit = {
        out(0) = m - y; out(1) = 1.0
      }
    }
    val rows = data(2)
    val m = XGBoost.train(sc.parallelize(rows, 3),
      TrainParams(numRounds = 5, maxDepth = 3, eta = 0.5), customObj = Some(custom))
    val ref = new GBTTrainer(TrainParams(numRounds = 5, maxDepth = 3, eta = 0.5))
      .fit(sc.parallelize(rows, 3))
    rows.take(20).foreach { case (x, _, _) =>
      assert(math.abs(m.margin(x)(0) - ref.margin(x)(0)) < 1e-9,
        "custom squared error must match the built-in")
    }
  }

  test("custom eval metric drives the watch log") {
    val values = collection.mutable.ArrayBuffer[Double]()
    val metric = new CustomEvalMetric {
      def name = "my_mae"
      def contribution(m: Double, y: Double, w: Double) = (w * math.abs(m - y), w)
    }
    val cb = new TrainingCallback {
      override def afterIteration(iter: Int, log: Map[String, Double]): Boolean = {
        values += log("my_mae"); false
      }
    }
    XGBoost.train(sc.parallelize(data(3), 3),
      TrainParams(numRounds = 6, maxDepth = 3, eta = 0.5),
      callbacks = Seq(cb), customMetric = Some(metric))
    assert(values.size == 6)
    assert(values.last < values.head * 0.5, s"my_mae should fall: $values")
  }

  test("cv produces per-fold histories and a sensible best iteration") {
    val res = XGBoost.cv(sc.parallelize(data(4), 4),
      TrainParams(numRounds = 5, maxDepth = 3, eta = 0.5), nfold = 3, seed = 9)
    assert(res.foldHistories.size == 3)
    val s = res.summary
    assert(s.size == 5)
    assert(s.last._2 < s.head._2, "held-out rmse should improve over rounds")
    assert(res.bestIteration >= 2, s"best=${res.bestIteration}, summary=$s")
    s.foreach { case (_, mean, std) => assert(std < mean, "folds should agree") }
  }

  test("stratified cv preserves class proportions in every fold (training.py:435)") {
    // 12% positives: uniform folding at nfold=4 can easily land a fold at
    // 8-16%, stratified must hold every fold to within one row per class
    val rng = new scala.util.Random(11)
    val rows = (0 until 2000).map { _ =>
      val y = if (rng.nextDouble() < 0.12) 1.0 else 0.0
      (Array(rng.nextGaussian(), rng.nextGaussian() + y), y, 1.0)
    }
    val rdd = sc.parallelize(rows, 4)
    val nfold = 4

    // reach the fold assignment through the same deal the facade uses
    val res = XGBoost.cv(rdd,
      TrainParams(objective = "binary:logistic", numRounds = 3, maxDepth = 2),
      nfold = nfold, seed = 7, stratified = true)
    assert(res.foldHistories.size == nfold)
    assert(res.summary.forall { case (_, mean, _) => !mean.isNaN })

    // independently verify the deal itself: per class, round-robin by
    // in-class sequence => every fold count within 1 of m/nfold
    val classes = rdd.map(_._2).distinct().collect().sorted
    classes.zipWithIndex.foreach { case (c, ci) =>
      val m = rows.count(_._2 == c)
      val counts = rdd.filter(_._2 == c).zipWithIndex
        .map { case (_, i) => (((i + 7 + ci) % nfold).toInt.abs, 1L) }
        .reduceByKey(_ + _).collectAsMap()
      (0 until nfold).foreach { k =>
        val got = counts.getOrElse(k, 0L)
        assert(math.abs(got - m.toDouble / nfold) <= 1.0,
          s"class $c fold $k: $got of $m rows (want ~${m / nfold})")
      }
    }

    // non-discrete labels must be rejected
    val cont = sc.parallelize((0 until 500).map(i =>
      (Array(rng.nextGaussian()), rng.nextDouble(), 1.0)), 2)
    intercept[IllegalArgumentException] {
      XGBoost.cv(cont, TrainParams(numRounds = 2), nfold = 2, stratified = true)
    }
  }

  test("a watch set with no metric is evaluated under the objective's default metric") {
    val rows = data(24)
    val tr = new GBTTrainer(TrainParams(numRounds = 3, maxDepth = 3, eta = 0.5))
    tr.fitWatches(sc.parallelize(rows, 3), Seq("train" -> sc.parallelize(rows, 3)))
    val log = tr.evalHistoryFull
    assert(log.map(_._1) == Seq(0, 1, 2) && log.forall(_._2.keySet == Set("train-rmse")),
      s"log: $log")
    assert(log.last._2("train-rmse") < log.head._2("train-rmse"))
    // the facade's evals take the same path
    val seen = collection.mutable.ArrayBuffer[Map[String, Double]]()
    XGBoost.train(sc.parallelize(rows, 3), TrainParams(numRounds = 3, maxDepth = 3, eta = 0.5),
      evals = Seq("train" -> sc.parallelize(rows, 3)),
      callbacks = Seq(new TrainingCallback {
        override def afterIteration(iter: Int, l: Map[String, Double]): Boolean = { seen += l; false }
      }))
    assert(seen.size == 3 && seen.zip(log).forall { case (a, (_, b)) =>
      a.keySet == b.keySet && math.abs(a("train-rmse") - b("train-rmse")) < 1e-9
    }, s"facade log $seen vs trainer log $log")
  }

  test("a watched fit needs no active session, only the running SparkContext") {
    val rows = sc.parallelize(data(25, 600), 3)
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val log =
      try {
        val tr = new GBTTrainer(TrainParams(numRounds = 2, maxDepth = 2, evalMetric = Some("mae")))
        tr.fitWatches(rows, Seq("train" -> rows))
        tr.evalHistoryFull
      } finally {
        active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
        default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      }
    assert(log.size == 2 && log.forall(_._2.keySet == Set("train-mae")), s"log: $log")
  }
}
