package graft

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{XGBoostClassifier, XGBoostRanker, XGBoostRegressor}
import graft.linear.{GBLinearTrainer, LinearParams}
import graft.tree.{GBTTrainer, MultiTargetTrainer, TrainParams, TrainingCallback}

/** What a fit leaves persisted when it returns or throws, who owns the
  * caches it reads, and how many Spark jobs a facade fit submits. */
class TrainingInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext
  import spark.implicits._

  private type Row3 = (Array[Double], Double, Double)

  /** Binary-labelled rows over three features; `badLabel` sets the first
    * label to 2.0, which binary:logistic rejects. */
  private def rows(badLabel: Boolean = false, n: Int = 600): Seq[Row3] = {
    val rng = new scala.util.Random(17)
    Seq.tabulate(n) { i =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian())
      val y = if (x(0) - 0.5 * x(1) + 0.3 * rng.nextGaussian() > 0) 1.0 else 0.0
      (x, if (badLabel && i == 0) 2.0 else y, 1.0)
    }
  }
  private def rdd(badLabel: Boolean = false): RDD[Row3] = sc.parallelize(rows(badLabel), 4)
  private def df(badLabel: Boolean = false): DataFrame =
    rows(badLabel).map { case (x, y, _) => (x.toSeq, y, (x(2) * 3).toLong.abs % 20) }
      .toDF("features", "label", "qid").repartition(4)

  private val logistic = TrainParams(objective = "binary:logistic", numRounds = 3,
    maxDepth = 3, maxBin = 32)

  /** Runs `fit` and asserts that every RDD persisted while it ran is
    * released again; `fails` ⇒ `fit` must throw an `E`. */
  private def assertReleased[E <: Throwable: ClassTag](fails: Boolean)(fit: => Any): Unit = {
    val mark = sc.emptyRDD[Int].id
    def persisted = sc.getPersistentRDDs.keySet.filter(_ > mark).toSet
    val before = persisted
    if (fails) intercept[E](fit) else fit
    assert(persisted == before, s"left persisted: ${persisted -- before}")
  }
  private def released(fit: => Any): Unit = assertReleased[Throwable](fails = false)(fit)
  private def releasedOnBadLabel(fit: => Any): Unit =
    assertReleased[IllegalArgumentException](fails = true)(fit)

  /** One check per tree entry point, run on valid rows and on rows with an
    * invalid label. */
  private val entryPoints: Seq[(String, Boolean => Any)] = Seq(
    "fit hist" -> (bad => new GBTTrainer(logistic).fit(rdd(bad))),
    "fit exact" -> (bad => new GBTTrainer(logistic.copy(treeMethod = "exact")).fit(rdd(bad))),
    "fit approx" -> (bad => new GBTTrainer(logistic.copy(treeMethod = "approx")).fit(rdd(bad))),
    "fitWatches" -> (bad => new GBTTrainer(logistic.copy(earlyStoppingRounds = 2))
      .fitWatches(rdd(bad), Seq("a" -> rdd(), "b" -> rdd()))),
    "fitWithBaseMargin" -> (bad => new GBTTrainer(logistic)
      .fitWithBaseMargin(rdd(bad).map { case (x, y, w) => (x, y, w, 0.1 * x(0)) })),
    "fitContinue" -> { bad =>
      val prev = new GBTTrainer(logistic.copy(numRounds = 1)).fit(rdd())
      new GBTTrainer(logistic).fitContinue(rdd(bad), prev)
    },
    "fitSurvival" -> (bad => new GBTTrainer(
      if (bad) logistic else logistic.copy(objective = "survival:aft"))
      .fitSurvival(rdd(bad).map { case (x, y, w) =>
        if (bad) (x, y, Double.NaN, w) else (x, 1.0 + y, if (y > 0) Double.PositiveInfinity else 3.0, w)
      })),
    "fitSparse" -> (bad => new GBTTrainer(logistic).fitSparse(rdd(bad).map { case (x, y, w) =>
      val idx = x.indices.filter(f => x(f) > -0.5).toArray
      (idx, idx.map(x), y, w)
    }, numFeatures = 3)),
    "fitRanking" -> (bad => new GBTTrainer(
      if (bad) logistic else logistic.copy(objective = "rank:ndcg"))
      .fitRanking(rdd(bad).map { case (x, y, w) => (x, y, w, (x(2) * 3).toLong.abs % 20) }))
  )

  for ((name, fit) <- entryPoints) {
    test(s"GBTTrainer $name releases every cache it persisted") {
      released(fit(false))
    }
    test(s"GBTTrainer $name releases every cache it persisted when validation fails") {
      releasedOnBadLabel(fit(true))
    }
  }

  test("a fit whose callback throws releases its margin and watch caches") {
    val boom = new TrainingCallback {
      override def afterIteration(iter: Int, evalLog: Map[String, Double]): Boolean =
        if (iter == 1) throw new IllegalStateException("callback failed") else false
    }
    assertReleased[IllegalStateException](fails = true) {
      new GBTTrainer(logistic).withCallbacks(Seq(boom)).fit(rdd(), rdd())
    }
    assertReleased[IllegalStateException](fails = true) {
      new GBTTrainer(logistic).withCallbacks(Seq(boom)).fit(rdd())
    }
  }

  test("MultiTargetTrainer.fit releases every cache it persisted") {
    released {
      new MultiTargetTrainer(logistic.copy(objective = "reg:squarederror"), numTargets = 2)
        .fit(rdd().map { case (x, y, w) => (x, Array(y, x(1)), w) })
    }
  }

  test("the facade estimators release every cache they persisted") {
    released(new XGBoostRegressor().setNumRound(2).setMaxDepth(3).fit(df()))
    released(new XGBoostClassifier().setNumRound(2).setMaxDepth(3).fit(df()))
    released(new XGBoostRanker().setNumRound(2).setMaxDepth(3).fit(df()))
    releasedOnBadLabel(new XGBoostClassifier().setNumRound(2).setMaxDepth(3).fit(df(badLabel = true)))
    releasedOnBadLabel(new XGBoostRanker().setObjective("binary:logistic").setNumRound(2)
      .setMaxDepth(3).fit(df(badLabel = true)))
  }

  test("training reads a caller's cached input without changing or releasing it") {
    for (level <- Seq(StorageLevel.MEMORY_ONLY, StorageLevel.MEMORY_AND_DISK)) {
      val data = rdd().persist(level)
      data.count()
      new GBLinearTrainer(LinearParams(numRounds = 3)).fit(data)
      new GBLinearTrainer(LinearParams(numRounds = 3)).fitMulti(data, numClass = 2)
      new GBTTrainer(logistic).fit(data)
      new GBTTrainer(logistic.copy(treeMethod = "approx")).fit(data)
      assert(data.getStorageLevel == level)
      assert(sc.getPersistentRDDs.contains(data.id), s"$level input was released")
      data.unpersist()
    }
  }

  /** Jobs submitted by `fit`, read from the status tracker once a marker
    * job submitted after it is visible (the listener bus is asynchronous). */
  private def jobsOf(fit: => Any): Int = {
    val group = s"jobs-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try fit finally sc.clearJobGroup()
    val marker = group + "-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "listener bus did not drain")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("a facade fit submits a pinned number of jobs") {
    // hist: sketch, binning, one fused validation pass, then the rounds.
    // approx: one fused validation pass (label, weight and base-score
    // stats were three) and no separate count of a copy of the input —
    // 19 jobs before the training input had one path, 16 now
    val data = df().cache()
    data.count()
    def regressor = new XGBoostRegressor().setNumRound(2).setMaxDepth(3)
    assert(jobsOf(regressor.fit(data)) == 11)
    assert(jobsOf(regressor.setTreeMethod("approx").fit(data)) == 16)
    data.unpersist()
  }
}
