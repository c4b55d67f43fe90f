package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.data.{Binning, QuantileSketch, WQSummary}
import graft.metric.Metrics
import graft.model.BoosterModel
import graft.predict.Predictor
import graft.tree.{GBTTrainer, TrainParams}

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  val sf = "/root/testdata/sf0.001"
}

class QuantileSketchSpec extends AnyFunSuite {

  test("sketch quantiles approximate exact quantiles under merge") {
    val rng = new scala.util.Random(7)
    val data = Array.fill(20000)(rng.nextGaussian() * 10 + 3)
    // split into 8 chunks, sketch each, merge pairwise in arbitrary order
    val sketches = data.grouped(2500).map { chunk =>
      val s = new QuantileSketch(maxSize = 512, bufferCap = 300)
      chunk.foreach(v => s.push(v, 1.0))
      s
    }.toArray
    val merged = sketches.reduce((a, b) => a.merge(b))
    val sum = merged.result
    val sorted = data.sorted
    for (q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9)) {
      val approx = sum.query(q * data.length)
      val exactRank = sorted.indexWhere(_ >= approx)
      // rank error within eps*N, eps ~ 2/maxSize*const
      assert(math.abs(exactRank - q * data.length) < 0.02 * data.length,
        s"q=$q approx=$approx rank=$exactRank")
    }
  }

  test("weighted sketch respects weights") {
    val s = new QuantileSketch(maxSize = 256)
    // value 0 with weight 9000, value 10 with weight 1000
    (1 to 9000).foreach(_ => s.push(0.0, 1.0))
    (1 to 1000).foreach(_ => s.push(10.0, 1.0))
    val sum = s.result
    assert(sum.query(0.5 * 10000) === 0.0)
    assert(sum.query(0.95 * 10000) === 10.0)
  }

  test("summary merge keeps total weight") {
    val a = WQSummary.fromSorted(Array((1.0, 2.0), (2.0, 3.0)))
    val b = WQSummary.fromSorted(Array((1.5, 1.0), (2.0, 1.0)))
    val m = a.merge(b)
    assert(math.abs(m.totalWeight - 7.0) < 1e-12)
  }

  test("a serialized sketch keeps its buffered values but not its buffer") {
    def roundTrip(s: QuantileSketch): (QuantileSketch, Int) = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(s)
      out.close()
      val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      (in.readObject().asInstanceOf[QuantileSketch], bytes.size())
    }
    val rng = new scala.util.Random(3)
    val values = Array.fill(5000)(rng.nextGaussian())
    def sketch() = {
      val s = new QuantileSketch(maxSize = 256, bufferCap = 4096)
      values.foreach(s.push(_, 1.0)) // 904 values still buffered
      s
    }
    val (shipped, _) = roundTrip(sketch())
    val expected = sketch().result
    val got = shipped.result
    assert(got.values.toSeq == expected.values.toSeq)
    assert(got.rmins.toSeq == expected.rmins.toSeq && got.rmaxs.toSeq == expected.rmaxs.toSeq)
    shipped.push(1.0, 1.0) // a shipped sketch keeps accepting values
    assert(shipped.result.totalWeight == 5001.0)
    // an empty sketch ships without 2 × 1024 empty buffer doubles
    assert(roundTrip(new QuantileSketch(maxSize = 256))._2 < 2048)
  }
}

class GBTTrainerSpec extends AnyFunSuite {
  import TestSpark._

  private def lineitemData() = {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    df.rdd.map { r =>
      val f = Array(
        r.getAs[Double]("l_quantity"),
        r.getAs[Double]("l_extendedprice"),
        r.getAs[Double]("l_discount"),
        r.getAs[Double]("l_tax"))
      val label = r.getAs[Double]("l_extendedprice") * (1 - r.getAs[Double]("l_discount"))
      (f, label, 1.0)
    }
  }

  test("squarederror training reduces rmse monotonically-ish") {
    val data = lineitemData().cache()
    val p1 = TrainParams(numRounds = 1, maxDepth = 4, eta = 0.5, maxBin = 64)
    val p10 = p1.copy(numRounds = 10)
    val m1 = new GBTTrainer(p1).fit(data)
    val m10 = new GBTTrainer(p10).fit(data)
    def rmseOf(m: BoosterModel): Double = {
      val local = data.collect()
      math.sqrt(local.map { case (f, y, _) =>
        val p = m.margin(f)(0); (p - y) * (p - y)
      }.sum / local.length)
    }
    val r0 = {
      val local = data.collect()
      val mean = local.map(_._2).sum / local.length
      math.sqrt(local.map { case (_, y, _) => (y - mean) * (y - mean) }.sum / local.length)
    }
    val r1 = rmseOf(m1)
    val r10 = rmseOf(m10)
    assert(r1 < r0, s"1 round should beat base: $r1 vs $r0")
    assert(r10 < r1, s"10 rounds should beat 1: $r10 vs $r1")
    assert(m10.trees.length == 10)
    data.unpersist()
  }

  test("logistic training separates classes and transform outputs probabilities") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    val data = df.rdd.map { r =>
      val f = Array(
        r.getAs[Double]("l_quantity"),
        r.getAs[Double]("l_extendedprice"),
        r.getAs[Double]("l_discount"),
        r.getAs[Double]("l_tax"))
      val label = if (r.getAs[String]("l_returnflag") == "R") 1.0 else 0.0
      (f, label, 1.0)
    }.cache()
    val m = new GBTTrainer(TrainParams(objective = "binary:logistic",
      numRounds = 5, maxDepth = 3, maxBin = 32)).fit(data)
    val preds = data.collect().map { case (f, y, _) =>
      (Objective.sigmoidCheck(m.margin(f)(0)), y)
    }
    preds.foreach { case (p, _) => assert(p >= 0 && p <= 1) }
    data.unpersist()
  }

  object Objective {
    def sigmoidCheck(x: Double): Double = 1.0 / (1.0 + math.exp(-x))
  }

  test("model JSON roundtrip preserves predictions") {
    val data = lineitemData().cache()
    val m = new GBTTrainer(TrainParams(numRounds = 3, maxDepth = 3, maxBin = 32)).fit(data)
    val m2 = BoosterModel.fromJson(m.toJson)
    val sample = data.take(50)
    sample.foreach { case (f, _, _) =>
      assert(m.margin(f)(0) === m2.margin(f)(0))
    }
    data.unpersist()
  }

  test("contributions sum to margin (SHAP invariant)") {
    val data = lineitemData().cache()
    val m = new GBTTrainer(TrainParams(numRounds = 4, maxDepth = 4, maxBin = 32)).fit(data)
    import spark.implicits._
    val df = data.map { case (f, y, _) => (f, y) }.toDF("features", "label")
    val out = Predictor.transform(df, m, "features", withContrib = true)
      .select("margin", "contrib").collect()
    out.take(100).foreach { r =>
      val margin = r.getDouble(0)
      val contrib = r.getSeq[Double](1).sum
      assert(math.abs(margin - contrib) < 1e-6, s"$margin vs $contrib")
    }
    data.unpersist()
  }

  test("ragged rows unify column count to the global max (data.h:191)") {
    val spark = TestSpark.spark
    val rng = new scala.util.Random(3)
    // rows alternate between 2 and 4 features; the signal is in feature 3,
    // which short rows lack (treated as missing)
    val rows = (0 until 400).map { i =>
      val x3 = rng.nextDouble()
      if (i % 2 == 0) (Array(rng.nextDouble(), rng.nextDouble()), 0.5, 1.0)
      else (Array(rng.nextDouble(), rng.nextDouble(), rng.nextDouble(), x3), x3, 1.0)
    }
    val data = spark.sparkContext.parallelize(rows, 4)
    val m = new GBTTrainer(TrainParams(numRounds = 3, maxDepth = 3, maxBin = 32, seed = 1))
      .fit(data)
    assert(m.numFeatures == 4, s"unified width should be 4, got ${m.numFeatures}")
    // a full-width row predicts from feature 3; a short row follows the
    // missing default direction without crashing
    val pFull = m.margin(Array(0.5, 0.5, 0.5, 0.9))(0)
    val pShort = m.margin(Array(0.5, 0.5))(0)
    assert(!pFull.isNaN && !pShort.isNaN)
  }

  test("binning assigns every non-missing value a bin; NaN gets -1") {
    val data = lineitemData()
    val cuts = Binning.findCuts(data.map(r => (r._1, 1.0)), 4, 16)
    assert(cuts.numFeatures == 4)
    data.take(100).foreach { case (f, _, _) =>
      val bins = cuts.binRow(f)
      bins.zipWithIndex.foreach { case (b, i) =>
        assert(b >= 0 && b < cuts.numBins(i))
      }
    }
    assert(cuts.searchBin(0, Double.NaN) == -1)
  }

  test("subsample + column sample training still learns") {
    val data = lineitemData().cache()
    val m = new GBTTrainer(TrainParams(numRounds = 5, maxDepth = 3, maxBin = 32,
      subsample = 0.7, colsampleBytree = 0.75, seed = 42)).fit(data)
    assert(m.trees.length == 5)
    assert(m.trees.exists(_.numLeaves > 1))
    data.unpersist()
  }

  test("multiclass softprob trains and probabilities sum to 1") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    val data = df.rdd.map { r =>
      val f = Array(
        r.getAs[Double]("l_quantity"),
        r.getAs[Double]("l_extendedprice"),
        r.getAs[Double]("l_discount"),
        r.getAs[Double]("l_tax"))
      val label = r.getAs[String]("l_returnflag") match {
        case "R" => 0.0; case "A" => 1.0; case _ => 2.0
      }
      (f, label, 1.0)
    }.cache()
    val m = new GBTTrainer(TrainParams(objective = "multi:softprob", numClass = 3,
      numRounds = 3, maxDepth = 3, maxBin = 32)).fit(data)
    assert(m.trees.length == 9) // 3 rounds × 3 classes
    val f0 = data.first()._1
    val margins = m.margin(f0)
    val e = margins.map(math.exp)
    val probs = e.map(_ / e.sum)
    assert(math.abs(probs.sum - 1.0) < 1e-9)
    data.unpersist()
  }

  test("a depthwise round submits exactly 1 + maxDepth jobs") {
    // root totals plus one histogram pass per level; margins are deferred,
    // so a third round adds exactly its own aggregations
    val data = lineitemData().cache()
    data.count()
    val sc = spark.sparkContext
    def jobsOf(numRounds: Int): (Int, BoosterModel) = {
      val group = s"rounds-$numRounds-${System.nanoTime()}"
      sc.setJobGroup(group, group)
      val model =
        try new GBTTrainer(TrainParams(numRounds = numRounds, maxDepth = 4, eta = 0.3,
          maxBin = 32)).fit(data)
        finally sc.clearJobGroup()
      // the status tracker learns of jobs from the listener bus; once a job
      // submitted after the fit is visible, every job of the fit is too
      val marker = group + "-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "listener bus did not drain")
      (sc.statusTracker.getJobIdsForGroup(group).length, model)
    }
    val (two, _) = jobsOf(2)
    val (three, model) = jobsOf(3)
    assert(model.trees.last.maxDepth == 4, "the third tree must reach maxDepth")
    assert(three - two == 1 + 4, s"$two jobs for 2 rounds, $three for 3")
    data.unpersist()
  }

  test("a lossguide round builds no histograms for children at maxDepth") {
    // maxLeaves 8 under maxDepth 3 grows a full depth-3 tree: root totals,
    // the root histogram, then one pass per split whose children sit
    // above the depth cap (the root's and the two depth-1 splits)
    val data = lineitemData().cache()
    data.count()
    val sc = spark.sparkContext
    def jobsOf(numRounds: Int): (Int, BoosterModel) = {
      val group = s"lossguide-$numRounds-${System.nanoTime()}"
      sc.setJobGroup(group, group)
      val model =
        try new GBTTrainer(TrainParams(numRounds = numRounds, growPolicy = "lossguide",
          maxLeaves = 8, maxDepth = 3, eta = 0.3, maxBin = 32)).fit(data)
        finally sc.clearJobGroup()
      val marker = group + "-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "listener bus did not drain")
      (sc.statusTracker.getJobIdsForGroup(group).length, model)
    }
    val (two, _) = jobsOf(2)
    val (three, model) = jobsOf(3)
    assert(model.trees.last.numLeaves == 8 && model.trees.last.maxDepth == 3,
      "the third tree must be a full depth-3 tree")
    assert(three - two == 1 + 1 + 3, s"$two jobs for 2 rounds, $three for 3")
    data.unpersist()
  }

  test("a callback alone adds no job to a fit and sees an empty evalLog") {
    val data = lineitemData().cache()
    data.count()
    val sc = spark.sparkContext
    val logs = collection.mutable.ArrayBuffer[Map[String, Double]]()
    val cb = new graft.tree.TrainingCallback {
      override def afterIteration(iter: Int, evalLog: Map[String, Double]): Boolean = {
        logs += evalLog; false
      }
    }
    val params = TrainParams(numRounds = 3, maxDepth = 4, eta = 0.3, maxBin = 32)
    def jobsOf(name: String)(fit: => BoosterModel): (Int, BoosterModel) = {
      val group = s"$name-${System.nanoTime()}"
      sc.setJobGroup(group, group)
      val model = try fit finally sc.clearJobGroup()
      val marker = group + "-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "listener bus did not drain")
      (sc.statusTracker.getJobIdsForGroup(group).length, model)
    }
    val (plain, plainModel) = jobsOf("plain")(new GBTTrainer(params).fit(data))
    val (called, calledModel) = jobsOf("callback")(
      new GBTTrainer(params).withCallbacks(Seq(cb)).fit(data))
    assert(called == plain, s"$called jobs with a callback, $plain without")
    assert(logs.size == 3 && logs.forall(_.isEmpty), s"evalLog: $logs")
    assert(calledModel.trees.length == plainModel.trees.length)
    data.unpersist()
  }

  test("negative maxDepth or maxLeaves is rejected before the fit, naming the field") {
    val rows = spark.sparkContext.parallelize(Seq((Array(1.0), 1.0, 1.0), (Array(2.0), 2.0, 1.0)), 1)
    Seq(TrainParams(maxDepth = -1) -> "maxDepth", TrainParams(maxLeaves = -2) -> "maxLeaves")
      .foreach { case (p, field) =>
        val e = intercept[IllegalArgumentException](new GBTTrainer(p).fit(rows))
        assert(e.getMessage.contains(field), e.getMessage)
      }
  }
}
