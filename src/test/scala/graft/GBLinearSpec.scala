package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.linear.{GBLinearTrainer, LinearModel, LinearParams}

class GBLinearSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext

  private def linearData(seed: Int, n: Int = 2000) = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian())
      val y = 3.0 + 2.0 * x(0) - 1.5 * x(1) + 0.5 * x(2) + 0.05 * rng.nextGaussian()
      (x, y, 1.0)
    }
  }

  /** Closed-form ridge on centered data: solve (X'X + λ'I) w = X'r via
    * Gaussian elimination (3×3), bias absorbed by the intercept. */
  private def ridge(rows: Seq[(Array[Double], Double, Double)], lambdaD: Double) = {
    val n = rows.size
    val nf = 3
    val ybar = rows.map(_._2).sum / n
    val xbar = (0 until nf).map(f => rows.map(_._1(f)).sum / n).toArray
    val a = Array.ofDim[Double](nf, nf + 1)
    for (i <- 0 until nf) {
      for (j <- 0 until nf)
        a(i)(j) = rows.map(r => (r._1(i) - xbar(i)) * (r._1(j) - xbar(j))).sum +
          (if (i == j) lambdaD else 0.0)
      a(i)(nf) = rows.map(r => (r._1(i) - xbar(i)) * (r._2 - ybar)).sum
    }
    for (p <- 0 until nf) { // eliminate
      for (i <- p + 1 until nf) {
        val m = a(i)(p) / a(p)(p)
        for (j <- p to nf) a(i)(j) -= m * a(p)(j)
      }
    }
    val w = new Array[Double](nf)
    for (i <- (nf - 1) to 0 by -1) {
      var s = a(i)(nf)
      for (j <- i + 1 until nf) s -= a(i)(j) * w(j)
      w(i) = s / a(i)(i)
    }
    w
  }

  test("shotgun converges to the ridge solution") {
    val rows = linearData(7)
    val data = sc.parallelize(rows, 4)
    val lambda = 0.1
    val m = new GBLinearTrainer(LinearParams(numRounds = 60, eta = 0.5,
      lambda = lambda, updater = "shotgun")).fit(data)
    val expect = ridge(rows, lambda * rows.size)
    (0 until 3).foreach { f =>
      assert(math.abs(m.weights(f) - expect(f)) < 0.02,
        s"w$f=${m.weights(f)} vs ridge ${expect(f)}")
    }
  }

  test("coord_descent matches shotgun on the same problem") {
    val rows = linearData(11, n = 500)
    val data = sc.parallelize(rows, 3)
    val cd = new GBLinearTrainer(LinearParams(numRounds = 15, eta = 1.0,
      lambda = 0.1, updater = "coord_descent")).fit(data)
    val sg = new GBLinearTrainer(LinearParams(numRounds = 40, eta = 0.5,
      lambda = 0.1, updater = "shotgun")).fit(data)
    (0 until 3).foreach { f =>
      assert(math.abs(cd.weights(f) - sg.weights(f)) < 0.03,
        s"w$f: cd=${cd.weights(f)} shotgun=${sg.weights(f)}")
    }
  }

  test("alpha drives small true weights to exactly zero (L1 soft threshold)") {
    val rng = new scala.util.Random(13)
    val rows = (0 until 1500).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian())
      val y = 2.0 * x(0) + 0.02 * rng.nextGaussian() // x1, x2 irrelevant
      (x, y, 1.0)
    }
    val m = new GBLinearTrainer(LinearParams(numRounds = 40, eta = 0.5,
      alpha = 0.05, updater = "shotgun")).fit(sc.parallelize(rows, 3))
    assert(math.abs(m.weights(0) - 2.0) < 0.1, s"w0=${m.weights(0)}")
    assert(math.abs(m.weights(1)) < 1e-6 && math.abs(m.weights(2)) < 1e-6,
      s"irrelevant weights not zeroed: ${m.weights.toSeq}")
  }

  test("greedy selector with topK touches only the strongest features") {
    val rng = new scala.util.Random(17)
    val rows = (0 until 1000).map { _ =>
      val x = Array.fill(6)(rng.nextGaussian())
      val y = 4.0 * x(0) + 0.01 * rng.nextGaussian()
      (x, y, 1.0)
    }
    // one round: exactly ONE coordinate (the strongest) may move
    val m = new GBLinearTrainer(LinearParams(numRounds = 1, eta = 1.0,
      updater = "coord_descent", featureSelector = "greedy", topK = 1))
      .fit(sc.parallelize(rows, 3))
    assert(math.abs(m.weights(0) - 4.0) < 0.1, s"w0=${m.weights(0)}")
    assert((1 until 6).forall(f => m.weights(f) == 0.0),
      s"topK=1 greedy should leave others untouched: ${m.weights.toSeq}")
  }

  test("logistic gblinear separates a linear boundary") {
    val rng = new scala.util.Random(19)
    val rows = (0 until 2000).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      val p = 1.0 / (1.0 + math.exp(-(2.0 * x(0) - x(1))))
      (x, if (rng.nextDouble() < p) 1.0 else 0.0, 1.0)
    }
    val m = new GBLinearTrainer(LinearParams(objective = "binary:logistic",
      numRounds = 40, eta = 0.5, lambda = 0.01)).fit(sc.parallelize(rows, 4))
    val acc = rows.count { case (x, y, _) =>
      (if (m.predict(x) > 0.5) 1.0 else 0.0) == y
    }.toDouble / rows.size
    assert(acc > 0.78, s"accuracy $acc") // Bayes ≈ 0.81 on this noisy boundary
    assert(m.weights(0) > 0 && m.weights(1) < 0, s"signs: ${m.weights.toSeq}")
    val ratio = m.weights(0) / -m.weights(1)
    assert(ratio > 1.5 && ratio < 2.7, s"w0/-w1=$ratio, want ≈2")
  }

  test("GraftLinearRegressor estimator fits, transforms, and persists") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val rows = (0 until 1500).map { _ =>
      val x = Seq(rng.nextGaussian(), rng.nextGaussian())
      (x, 1.0 + 2.0 * x(0) - x(1) + 0.05 * rng.nextGaussian())
    }
    val df = rows.toDF("features", "label")
    val est = new graft.api.GraftLinearRegressor()
      .setNumRound(40).setEta(0.5).setLambda(0.01)
    val m = est.fit(df)
    val scored = m.transform(df)
    val rmse = math.sqrt(scored.select(avg(pow(col("prediction") - col("label"), 2)))
      .head().getDouble(0))
    assert(rmse < 0.15, s"estimator rmse $rmse")
    // column-expression transform matches the driver-side predict
    val first = rows.head
    val colPred = scored.select("prediction").head().getDouble(0)
    assert(math.abs(colPred - m.model.predict(first._1.toArray)) < 1e-9)
    // JSON persistence
    val back = graft.api.LinearModelIO.fromJson(graft.api.LinearModelIO.toJson(m.model))
    assert(back == m.model.copy(weights = back.weights) && back.weights.toSeq == m.model.weights.toSeq)
  }

  test("GraftLinearClassifier: binary and multiclass through the MLlib facade") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    // binary
    val bin = (0 until 2000).map { _ =>
      val x = Seq(rng.nextGaussian(), rng.nextGaussian())
      (x, if (x(0) - 0.5 * x(1) + 0.3 * rng.nextGaussian() > 0) 1.0 else 0.0)
    }.toDF("features", "label")
    val bm = new graft.api.GraftLinearClassifier()
      .setNumRound(20).setEta(0.5).setLambda(0.01).fit(bin)
    val bout = bm.transform(bin).cache()
    val bacc = bout.selectExpr("avg(CAST(prediction = label AS DOUBLE))")
      .head().getDouble(0)
    assert(bacc > 0.85, s"binary linear facade accuracy $bacc")
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    val auc = new BinaryClassificationEvaluator().evaluate(bout)
    assert(auc > 0.9, s"evaluator must consume rawPrediction: $auc")
    bout.unpersist(blocking = false)

    // multiclass: argmax of class-wise linear scores
    val w0 = Array(Array(2.0, 0.0), Array(-1.0, 1.5), Array(-1.0, -1.5))
    val mc = (0 until 3000).map { _ =>
      val x = Seq(rng.nextGaussian(), rng.nextGaussian())
      val sc0 = w0.map(w => w(0) * x(0) + w(1) * x(1) + 0.3 * rng.nextGaussian())
      (x, sc0.indexOf(sc0.max).toDouble)
    }.toDF("features", "label")
    val mm = new graft.api.GraftLinearClassifier().setNumClass(3)
      .setNumRound(25).setEta(0.5).setLambda(0.01).fit(mc)
    val mout = mm.transform(mc).cache()
    val macc = mout.selectExpr("avg(CAST(prediction = label AS DOUBLE))")
      .head().getDouble(0)
    assert(macc > 0.85, s"multiclass linear facade accuracy $macc")
    // probability is a valid softmax vector
    val row = mout.select("probability").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(math.abs(row.toArray.sum - 1.0) < 1e-9 && row.toArray.forall(_ >= 0))
    mout.unpersist(blocking = false)
  }

  test("multiclass gblinear learns linearly separable classes (both updaters) and round-trips IO") {
    // 3 classes with linear decision structure: argmax over class-specific
    // linear scores of x — exactly gblinear-multiclass's hypothesis space
    val rng = new scala.util.Random(19)
    val w0 = Array(Array(2.0, 0.0), Array(-1.0, 1.5), Array(-1.0, -1.5))
    val rows = (0 until 3000).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      val scores = w0.map(w => w(0) * x(0) + w(1) * x(1) + 0.3 * rng.nextGaussian())
      (x, scores.indexOf(scores.max).toDouble, 1.0)
    }
    val data = sc.parallelize(rows, 4)
    for (updater <- Seq("shotgun", "coord_descent")) {
      val lm = new GBLinearTrainer(graft.linear.LinearParams(
        objective = "multi:softprob", numRounds = 25, eta = 0.5,
        updater = updater, seed = 3)).fitMulti(data, numClass = 3)
      val acc = rows.count { case (x, y, _) => lm.predictClass(x) == y.toInt }.toDouble / rows.size
      assert(acc > 0.85, s"$updater multiclass accuracy $acc")
      // softprob sums to 1
      val p = lm.softprob(rows.head._1)
      assert(math.abs(p.sum - 1.0) < 1e-12 && p.forall(_ >= 0))
      // native JSON roundtrip ([feature × group] + biases flat layout)
      val back = graft.model.XGBoostJson.linearMultiFromXGBoostJson(
        graft.model.XGBoostJson.toXGBoostJson(lm))
      assert(back.numClass == 3 && back.numFeatures == lm.numFeatures)
      rows.take(10).foreach { case (x, _, _) =>
        val a = lm.margin(x); val b = back.margin(x)
        (0 until 3).foreach(k => assert(math.abs(a(k) - b(k)) < 1e-12))
      }
      // UBJSON carrier (f32 weights — float tolerance)
      val ubj = graft.model.Ubjson.linearMultiFromXGBoostUbj(
        graft.model.Ubjson.toXGBoostUbj(lm))
      rows.take(5).foreach { case (x, _, _) =>
        val a = lm.margin(x); val b = ubj.margin(x)
        (0 until 3).foreach(k => assert(math.abs(a(k) - b(k)) < 1e-4))
      }
    }
  }

  test("localFold driver collect is byte-gated: wide 1-partition input takes cluster path") {
    val t = new GBLinearTrainer(LinearParams())
    // 40k rows x 1000 features: ~322 MB estimated (rows x (8*nf+48)) — over
    // the 256 MB driver slice even though the row count is far under 1M.
    // Rows are generated lazily in the map so the probe streams them.
    val wide = sc.parallelize(1 to 40000, 1)
      .map(i => (Array.fill(1000)(i.toDouble), 1.0, 1.0))
    assert(t.localFold(wide) == null, "wide 1-partition input must NOT collect to the driver")
    // narrow 1-partition fixture: local fast path engages, rows intact
    val narrow = sc.parallelize(linearData(7, n = 500), 1)
    val local = t.localFold(narrow)
    assert(local != null && local.length == 500)
    // multi-partition data never collects regardless of size
    val multi = sc.parallelize(linearData(7, n = 500), 4)
    assert(t.localFold(multi) == null)
  }

  /** md5 of a model's exact doubles (`Double.toString` round-trips bits). */
  private def md5Of(ds: Seq[Double]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(ds.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("shotgun pins: fit and fitMulti under cyclic, greedy, thrifty and random") {
    // two partitions take the cluster path and still fold deterministically:
    // the driver merges two partials into a zero, and a + b == b + a
    val rng = new scala.util.Random(23)
    val rows = (0 until 1500).map { _ =>
      val x = Array.fill(5)(if (rng.nextInt(6) == 0) Double.NaN else rng.nextGaussian())
      val s = Array(x(0) - 0.5 * x(1), x(2) + 0.3 * x(3), -x(0) + x(4))
        .map(v => if (v.isNaN) 0.0 else v)
      (x, s.indexOf(s.max).toDouble, 0.5 + rng.nextDouble())
    }
    val data = sc.parallelize(rows, 2)
    val reg = sc.parallelize(rows.map { case (x, y, w) => (x, y + x.filterNot(_.isNaN).sum, w) }, 2)
    val want = Map(
      "cyclic" -> ("a2748e2a1f5e0c6f953d5128a22e3a37", "2eebf8298b8ea41243c6dd68850dbc00"),
      "greedy" -> ("81eb7edf1fe466cbb90a6d09f312aba9", "ace81045c2d0af097bd4f6e25330759c"),
      "thrifty" -> ("81eb7edf1fe466cbb90a6d09f312aba9", "ace81045c2d0af097bd4f6e25330759c"),
      "random" -> ("1a97eb732dd16159f80fad8a166c9105", "f6be2f3455f8610a9d0fd43c1b4307c6"))
    val got = want.keys.toSeq.sorted.map { sel =>
      val p = LinearParams(numRounds = 4, eta = 0.5, lambda = 0.1, alpha = 0.01,
        featureSelector = sel, topK = if (sel == "cyclic") 0 else 3, seed = 11)
      val lm = new GBLinearTrainer(p).fit(reg)
      val mm = new GBLinearTrainer(p.copy(objective = "multi:softprob")).fitMulti(data, numClass = 3)
      sel -> (md5Of(lm.weights.toSeq :+ lm.bias :+ lm.baseScore),
        md5Of(mm.weights.flatten.toSeq ++ mm.bias))
    }.toMap
    assert(got == want, s"shotgun digests: $got")
  }
}
