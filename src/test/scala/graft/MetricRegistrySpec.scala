package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.metric.Metrics
import graft.tree.{GBTTrainer, TrainParams}

/** The consolidated metric-name registry: the multiclass one-vs-rest AUC
  * kernel against a brute-force reference, and the trainer watch loop
  * accepting every metric family (global AUC sweeps, ranking walks,
  * survival, elementwise @-parameterized) through one dispatch. */
class MetricRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext
  import spark.implicits._

  test("aucMulticlass matches brute-force one-vs-rest prevalence-weighted AUC") {
    val rng = new scala.util.Random(17)
    val rows = (0 until 1200).map { _ =>
      val y = rng.nextInt(3).toDouble
      // informative but noisy per-class scores with deliberate ties
      val probs = Array.tabulate(3)(c =>
        math.rint((rng.nextDouble() + (if (c.toDouble == y) 0.4 else 0.0)) * 20) / 20.0)
      (y, 1.0 + rng.nextDouble(), probs.toSeq)
    }
    val df = rows.toDF("y", "w", "probs")
    val out = Metrics.aucMulticlass(df, col("probs"), col("y"), col("w"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in plan:\n$plan")
    val got = out.head().getDouble(0)

    // brute force: per class, weighted tie-corrected Mann-Whitney; combine
    // with prevalence weights tp_c (auc.cc:137)
    var num = 0.0; var den = 0.0
    (0 until 3).foreach { c =>
      val pos = rows.filter(_._1 == c.toDouble).map(r => (r._3(c), r._2))
      val neg = rows.filter(_._1 != c.toDouble).map(r => (r._3(c), r._2))
      var s = 0.0
      for ((pp, wp) <- pos; (pn, wn) <- neg)
        s += (if (pp > pn) wp * wn else if (pp == pn) 0.5 * wp * wn else 0.0)
      val tp = pos.map(_._2).sum
      num += s / (tp * neg.map(_._2).sum) * tp
      den += tp
    }
    val want = num / den
    assert(math.abs(got - want) < 1e-9, s"ovr auc $got vs brute $want")
  }

  test("aucMulticlass returns null when a class lacks positives (reference NaN)") {
    val df = Seq((0.0, 1.0, Seq(0.9, 0.1, 0.0)), (1.0, 1.0, Seq(0.2, 0.8, 0.0)),
      (0.0, 1.0, Seq(0.6, 0.4, 0.0))).toDF("y", "w", "probs") // class 2 never occurs
    assert(Metrics.aucMulticlass(df, col("probs"), col("y"), col("w")).head().isNullAt(0))
  }

  test("watch loop: auc and aucpr on a binary fit ride the global sweep") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 2500).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      (x, if (x(0) + 0.3 * rng.nextGaussian() > 0) 1.0 else 0.0, 1.0)
    }
    Seq("auc", "aucpr").foreach { m =>
      val tr = new GBTTrainer(TrainParams(objective = "binary:logistic",
        numRounds = 4, maxDepth = 3, evalMetric = Some(m), seed = 1))
      tr.fit(sc.parallelize(rows, 3))
      val hist = tr.evalHistory
      assert(hist.size == 4, s"$m history size ${hist.size}")
      assert(hist.forall { case (_, v) => v > 0.5 && v <= 1.0 },
        s"$m watch values out of range: $hist")
      assert(hist.last._2 > 0.9, s"separable data should reach high $m: $hist")
    }
  }

  test("watch loop: auc on a multiclass fit is one-vs-rest") {
    val rng = new scala.util.Random(9)
    val rows = (0 until 1800).map { _ =>
      val c = rng.nextInt(3)
      (Array(c * 2.0 + rng.nextGaussian(), rng.nextGaussian()), c.toDouble, 1.0)
    }
    val tr = new GBTTrainer(TrainParams(objective = "multi:softprob", numClass = 3,
      numRounds = 3, maxDepth = 3, evalMetric = Some("auc"), seed = 2))
    tr.fit(sc.parallelize(rows, 3))
    val hist = tr.evalHistory
    assert(hist.forall { case (_, v) => v > 0.5 && v <= 1.0 }, s"ovr auc: $hist")
    assert(hist.last._2 > 0.9, s"separable multiclass should reach high ovr auc: $hist")
  }

  test("watch loop: map@5, pre@5 and ranking auc on a ranking fit") {
    val rng = new scala.util.Random(5)
    val rows = (0 until 50).flatMap { q =>
      (0 until 20).map { _ =>
        val x = Array(rng.nextGaussian(), rng.nextGaussian())
        val rel = if (x(0) + 0.4 * rng.nextGaussian() > 0.5) 1.0 else 0.0
        (x, rel, 1.0, q.toLong)
      }
    }
    Seq("map@5", "pre@5", "auc").foreach { m =>
      val tr = new GBTTrainer(TrainParams(objective = "rank:ndcg",
        numRounds = 4, maxDepth = 3, evalMetric = Some(m), seed = 3))
      tr.fitRanking(sc.parallelize(rows, 3))
      val hist = tr.evalHistory
      assert(hist.size == 4 && hist.forall { case (_, v) => v >= 0.0 && v <= 1.0 },
        s"$m history: $hist")
      assert(hist.last._2 > 0.5, s"learnable ranking should lift $m: $hist")
    }
  }

  test("watch loop: survival and @-parameterized elementwise names dispatch") {
    val rng = new scala.util.Random(13)
    val rows = (0 until 1000).map { _ =>
      val x = Array(rng.nextGaussian())
      val t = math.exp(0.5 * x(0) + 0.2 * rng.nextGaussian()) + 0.1
      (x, t, if (rng.nextInt(4) == 0) Double.NaN else t) // some right-censored
    }
    val tr = new GBTTrainer(TrainParams(objective = "survival:aft",
      aftDistribution = "logistic", numRounds = 3, maxDepth = 2,
      evalMetric = Some("aft-nloglik"), seed = 4))
    tr.fitSurvival(sc.parallelize(rows.map { case (x, lo, hi) => (x, lo, hi, 1.0) }, 3))
    val h = tr.evalHistory
    assert(h.nonEmpty && h.forall(v => !v._2.isNaN), s"aft-nloglik: $h")
    assert(h.last._2 <= h.head._2, s"aft-nloglik should not worsen: $h")

    // @-parameterized elementwise through the same registry
    val reg = (0 until 800).map { _ =>
      val x = Array(rng.nextGaussian()); (x, math.max(0.1, 2.0 + x(0)), 1.0)
    }
    Seq("tweedie-nloglik@1.3", "quantile@0.7", "error@0.3").foreach { m =>
      val tr2 = new GBTTrainer(TrainParams(numRounds = 2, maxDepth = 2,
        evalMetric = Some(m), seed = 5))
      tr2.fit(sc.parallelize(reg, 2))
      assert(tr2.evalHistory.forall(v => !v._2.isNaN), s"$m history")
    }
  }

  test("amsAt matches brute-force AMS sweep (rank_metric.cc:48)") {
    val rng = new scala.util.Random(29)
    val rows = (0 until 900).map { _ =>
      // quantized scores force tie groups; weighted labels
      (math.rint(rng.nextDouble() * 50) / 50.0,
        if (rng.nextDouble() < 0.3) 1.0 else 0.0, 0.5 + rng.nextDouble())
    }
    val df = rows.toDF("p", "y", "w")

    // brute force: descending-score sweep, AMS at each distinct-score
    // boundary excluding the full prefix (the reference's i < ndata-1)
    val sorted = rows.sortBy(-_._1)
    val br = 10.0
    var s = 0.0; var b = 0.0; var best = 0.0
    sorted.zipWithIndex.foreach { case ((p, y, w), i) =>
      if (y > 0.5) s += w else b += w
      val boundary = i < sorted.length - 1 && sorted(i + 1)._1 != p
      if (boundary) {
        val ams = math.sqrt(2 * ((s + b + br) * math.log(1 + s / (b + br)) - s))
        if (ams > best) best = ams
      }
    }
    val got = Metrics.amsAt(df, col("p"), col("y"), col("w"), ratio = 1.0)
      .head().getDouble(0)
    assert(math.abs(got - best) < 1e-9, s"ams $got vs brute $best")

    // cutoff mode: AMS at the largest distinct-score boundary <= 30% of rows
    val ntop = (0.3 * sorted.length).toLong
    var s2 = 0.0; var b2 = 0.0; var at = 0.0; var cnt = 0L
    sorted.foreach { case (p, y, w) =>
      cnt += 1
      if (y > 0.5) s2 += w else b2 += w
      val lastOfGroup = cnt == sorted.length ||
        sorted((cnt - 1).toInt)._1 != sorted(cnt.toInt)._1
      if (lastOfGroup && cnt <= ntop)
        at = math.sqrt(2 * ((s2 + b2 + br) * math.log(1 + s2 / (b2 + br)) - s2))
    }
    val gotCut = Metrics.amsAt(df, col("p"), col("y"), col("w"), ratio = 0.3)
      .head().getDouble(0)
    assert(math.abs(gotCut - at) < 1e-9, s"ams@0.3 $gotCut vs brute $at")
  }

  test("watch loop: ams@1 dispatches and is maximized by early stopping") {
    val rng = new scala.util.Random(31)
    val rows = (0 until 1500).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      (x, if (x(0) + 0.5 * rng.nextGaussian() > 0.6) 1.0 else 0.0, 1.0)
    }
    val tr = new GBTTrainer(TrainParams(objective = "binary:logistic",
      numRounds = 4, maxDepth = 3, evalMetric = Some("ams@1"), seed = 9))
    val model = tr.fit(sc.parallelize(rows, 3))
    val h = tr.evalHistory
    assert(h.size == 4 && h.forall { case (_, v) => v > 0.0 && !v.isNaN },
      s"ams history: $h")
    // the watch value is the same AMS the standalone metric computes on the
    // final model's scores (AMS is ordering-only, so the curve may be flat)
    val scored = rows.map { case (x, y, w) => (model.margin(x)(0), y, w) }
      .toDF("p", "y", "w")
    val direct = Metrics.amsAt(scored, col("p"), col("y"), col("w"), ratio = 1.0)
      .head().getDouble(0)
    assert(math.abs(h.last._2 - direct) < 1e-9,
      s"watch ams ${h.last._2} vs direct $direct")
  }

  test("watch value equals the standalone metric for every elementwise name") {
    val rng = new scala.util.Random(43)
    def poisson(mean: Double): Double = { // Knuth: product of uniforms
      val l = math.exp(-mean); var k = 0; var p = rng.nextDouble()
      while (p > l) { k += 1; p *= rng.nextDouble() }
      k.toDouble
    }
    val xs = (0 until 600).map(_ => Array(rng.nextGaussian(), rng.nextGaussian()))
    def label(kind: String, x: Array[Double]): Double = kind match {
      case "binary" => if (x(0) + 0.5 * rng.nextGaussian() > 0) 1.0 else 0.0
      case "count" => poisson(math.exp(0.6 * x(0) + 0.5))
      case _ => math.exp(0.4 * x(0) + 0.2 * rng.nextGaussian())
    }
    // (objective, label kind, pseudoHuberSlope, watch names)
    val cases = Seq(
      ("reg:squarederror", "positive", 1.0,
        Seq("rmse", "rmsle", "mae", "mape", "mphe", "quantile@0.7")),
      ("binary:logistic", "binary", 1.0, Seq("logloss", "error", "error@0.3")),
      ("count:poisson", "count", 1.0, Seq("poisson-nloglik")),
      ("reg:gamma", "positive", 1.0, Seq("gamma-nloglik", "gamma-deviance")),
      ("reg:tweedie", "count", 1.0, Seq("tweedie-nloglik@1.3")),
      ("reg:pseudohubererror", "positive", 2.5, Seq("mphe")))
    cases.foreach { case (objective, kind, slope, names) =>
      val rows = xs.map(x => (x, label(kind, x), 0.5 + rng.nextDouble()))
      val tr = new GBTTrainer(TrainParams(objective = objective, numRounds = 2,
        maxDepth = 2, pseudoHuberSlope = slope, evalMetrics = names, seed = 8))
      val model = tr.fit(sc.parallelize(rows, 2))
      val obj = graft.objective.Objective(objective)
      val scored = rows.map { case (x, y, w) =>
        (obj.predTransform(model.margin(x)(0)), y, w) }.toDF("p", "y", "w")
      val watched = tr.evalHistoryFull.last._2
      names.foreach { n =>
        val direct =
          if (n == "mphe") scored.agg(Metrics.mphe(col("p"), col("y"), col("w"), slope))
            .head().getDouble(0)
          else Metrics.evaluate(n, scored, col("p"), col("y"), col("w"))
        assert(math.abs(watched(n) - direct) <= 1e-9 * math.max(1.0, math.abs(direct)),
          s"$objective watch $n ${watched(n)} vs standalone $direct")
      }
    }
  }

  test("lgammaStirling is within 5e-8 of exact log-gamma, in both forms") {
    val exact = Seq(1.0 -> 0.0, 2.0 -> 0.0, 3.0 -> math.log(2.0), 4.0 -> math.log(6.0),
      11.0 -> math.log(3628800.0))
    val cols = exact.toDF("x", "want")
      .select(Metrics.lgammaStirling(col("x"))).as[Double].collect()
    exact.zip(cols).foreach { case ((x, want), c) =>
      val d = Metrics.lgammaStirling(x)
      assert(math.abs(d - want) < 5e-8, s"lgamma($x) = $d, want $want")
      assert(c == d, s"Column form $c vs Double form $d at $x")
    }
  }

  test("higherIsBetter: gains and accuracies maximize, losses minimize") {
    Seq("auc", "aucpr", "ndcg", "ndcg@5", "map", "map@3", "pre", "pre@5", "ams@0.15",
      "interval-regression-accuracy").foreach(n => assert(Metrics.higherIsBetter(n), n))
    Seq("rmse", "logloss", "error", "mlogloss", "poisson-nloglik", "cox-nloglik",
      "aft-nloglik", "mphe").foreach(n => assert(!Metrics.higherIsBetter(n), n))
  }

  test("evalMetrics list: every metric logged, LAST drives early stopping") {
    val rng = new scala.util.Random(37)
    val rows = (0 until 2000).map { _ =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      (x, if (x(0) + 0.8 * rng.nextGaussian() > 0) 1.0 else 0.0, 1.0)
    }
    val (train, eval) = rows.splitAt(1500)
    val tr = new GBTTrainer(TrainParams(objective = "binary:logistic",
      numRounds = 8, maxDepth = 3, seed = 21,
      evalMetrics = Seq("logloss", "auc"), earlyStoppingRounds = 3))
    tr.fit(sc.parallelize(train, 3), sc.parallelize(eval, 2))
    val full = tr.evalHistoryFull
    assert(full.nonEmpty)
    // both metrics logged per round under the watch-prefixed keys
    assert(full.head._2.keySet == Set("eval-logloss", "eval-auc"),
      s"keys: ${full.head._2.keySet}")
    // the early-stopping track (lastHistory) follows the LAST metric (auc)
    tr.evalHistory.zip(full).foreach { case ((_, v), (_, m)) =>
      assert(v == m("eval-auc"), s"early-stop track $v vs auc ${m("eval-auc")}")
    }
    // and bestIteration is the max-auc round
    val bestAuc = full.maxBy(_._2("eval-auc"))._1
    assert(tr.bestIteration == bestAuc,
      s"best ${tr.bestIteration} vs argmax-auc $bestAuc")
  }

  test("bare ndcg/map/pre = whole-list k; precision divides by min(k, group size)") {
    import org.apache.spark.sql.functions.lit
    // two groups: sizes 3 and 2; scores rank by p desc; binary labels
    val df = Seq(
      (1L, 0.9, 1.0), (1L, 0.8, 0.0), (1L, 0.7, 1.0),
      (2L, 0.6, 1.0), (2L, 0.5, 0.0)).toDF("q", "p", "y")
    // pre@5 with groups smaller than 5: rank_metric.cc:315 divides by
    // min(5, |group|) -> group1 = 2/3, group2 = 1/2, mean = 7/12
    val p5 = Metrics.precisionAt(df, col("q"), col("p"), col("y"), lit(0), k = 5)
      .head().getDouble(0)
    assert(math.abs(p5 - 7.0 / 12.0) < 1e-12, s"pre@5 $p5")
    // bare "pre" through the registry = same whole-list value here
    val bare = Metrics.evaluate("pre", df, col("p"), col("y"), lit(1.0),
      qid = Some(col("q")))
    assert(math.abs(bare - 7.0 / 12.0) < 1e-12, s"pre $bare")
    val ndcgBare = Metrics.evaluate("ndcg", df, col("p"), col("y"), lit(1.0),
      qid = Some(col("q")))
    assert(ndcgBare > 0.0 && ndcgBare <= 1.0)
    // the trainer watch loop accepts the bare names too
    val rng = new scala.util.Random(41)
    val rows = (0 until 600).map { i =>
      (Array(rng.nextGaussian()), (i % 3).toDouble, 1.0, (i % 20).toLong)
    }
    Seq("ndcg", "pre", "map").foreach { m =>
      val tr = new GBTTrainer(TrainParams(objective = "rank:ndcg",
        numRounds = 2, maxDepth = 2, evalMetric = Some(m), seed = 6))
      tr.fitRanking(sc.parallelize(rows, 2))
      assert(tr.evalHistory.forall(v => !v._2.isNaN && v._2 >= 0.0), s"$m history")
    }
  }

  test("Metrics.evaluate dispatches ranking and sweep names") {
    val rng = new scala.util.Random(21)
    val df = (0 until 500).map { i =>
      (i % 20L, math.rint(rng.nextDouble() * 100) / 100.0,
        if (rng.nextBoolean()) 1.0 else 0.0, 1.0)
    }.toDF("q", "p", "y", "w")
    val auc = Metrics.evaluate("auc", df, col("p"), col("y"), col("w"))
    assert(auc > 0.3 && auc < 0.7) // uninformative scores hover near 0.5
    val ndcg = Metrics.evaluate("ndcg@5", df, col("p"), col("y"), col("w"),
      qid = Some(col("q")))
    assert(ndcg >= 0.0 && ndcg <= 1.0)
    val mapv = Metrics.evaluate("map@5", df, col("p"), col("y"), col("w"),
      qid = Some(col("q")))
    assert(mapv >= 0.0 && mapv <= 1.0)
  }

  // ---- the watch evaluates through Metrics.evaluate --------------------------

  /** `watched` equals `direct` to 1e-9 relative. */
  private def sameValue(what: String, watched: Double, direct: Double): Unit =
    assert(math.abs(watched - direct) <= 1e-9 * math.abs(direct),
      s"$what: watch $watched vs evaluate $direct")

  private def softmax(m: Array[Double]): Seq[Double] = {
    val e = m.map(v => math.exp(v - m.max))
    e.map(_ / e.sum).toSeq
  }

  test("watch equals evaluate: multiclass merror, mlogloss and one-vs-rest auc") {
    val rng = new scala.util.Random(47)
    val rows = (0 until 1500).map { _ =>
      val c = rng.nextInt(3)
      (Array(c * 1.5 + rng.nextGaussian(), rng.nextGaussian()), c.toDouble, 0.5 + rng.nextDouble())
    }
    val names = Seq("merror", "mlogloss", "auc")
    val tr = new GBTTrainer(TrainParams(objective = "multi:softprob", numClass = 3,
      numRounds = 3, maxDepth = 3, evalMetrics = names, seed = 12))
    val model = tr.fit(sc.parallelize(rows, 3))
    val scored = rows.map { case (x, y, w) => (softmax(model.margin(x)), y, w) }
      .toDF("probs", "y", "w")
    val watched = tr.evalHistoryFull.last._2
    names.foreach { n =>
      sameValue(n, watched(n), Metrics.evaluate(n, scored, lit(0.0), col("y"), col("w"),
        probs = Some(col("probs"))))
    }
    // the argmax class column is the same merror without the probabilities
    val argmax = rows.map { case (x, y, w) =>
      val m = model.margin(x); (m.indexOf(m.max).toDouble, y, w) }.toDF("c", "y", "w")
    sameValue("merror by class", watched("merror"),
      Metrics.evaluate("merror", argmax, col("c"), col("y"), col("w")))
  }

  test("watch equals evaluate: ranking names, ties broken by row id") {
    // one partition in query order: each row's id is its index, and the
    // qid layout keeps that order
    val rng = new scala.util.Random(53)
    val rows = (0 until 40).flatMap { q =>
      (0 until 15).map { _ =>
        val x = Array(math.rint(rng.nextGaussian() * 4) / 4, rng.nextGaussian())
        (x, math.min(3.0, math.max(0.0, math.rint(x(0) + rng.nextGaussian()))), 1.0, q.toLong)
      }
    }
    val names = Seq("ndcg@5", "map@5", "pre@5", "map", "ndcg", "pre", "auc")
    val tr = new GBTTrainer(TrainParams(objective = "rank:ndcg", numRounds = 3, maxDepth = 2,
      evalMetrics = names, seed = 14, minTrainPartitions = 0))
    val model = tr.fitRanking(sc.parallelize(rows, 1))
    val scored = rows.zipWithIndex.map { case ((x, y, _, q), i) =>
      (q, model.margin(x)(0), y, i.toLong) }.toDF("q", "p", "y", "t")
    val watched = tr.evalHistoryFull.last._2
    names.foreach { n =>
      sameValue(n, watched(n), Metrics.evaluate(n, scored, col("p"), col("y"), lit(1.0),
        qid = Some(col("q")), tie = Some(col("t"))))
    }
  }

  test("watch equals evaluate: a custom ranking objective still scores each query") {
    // params.objective stays reg:squarederror, so only auc falls back to
    // the global sweep; ndcg, map and pre group by qid as under rank:*
    val rng = new scala.util.Random(67)
    val rows = (0 until 30).flatMap { q =>
      (0 until 12).map { _ =>
        val x = Array(rng.nextGaussian(), rng.nextGaussian())
        (x, math.min(3.0, math.max(0.0, math.rint(x(0) + 1 + rng.nextGaussian()))), 1.0, q.toLong)
      }
    }
    val names = Seq("ndcg@5", "map@5", "pre@5")
    val tr = new GBTTrainer(TrainParams(numRounds = 3, maxDepth = 2, evalMetrics = names,
      seed = 18, minTrainPartitions = 0))
      .withCustomObjective(new graft.objective.LambdaRankObjective("ndcg"))
    val model = tr.fitRanking(sc.parallelize(rows, 1))
    val scored = rows.zipWithIndex.map { case ((x, y, _, q), i) =>
      (q, model.margin(x)(0), y, i.toLong) }.toDF("q", "p", "y", "t")
    val watched = tr.evalHistoryFull.last._2
    names.foreach { n =>
      val perQuery = Metrics.evaluate(n, scored, col("p"), col("y"), lit(1.0),
        qid = Some(col("q")), tie = Some(col("t")))
      sameValue(n, watched(n), perQuery)
      val oneGroup = Metrics.evaluate(n, scored, col("p"), col("y"), lit(1.0),
        tie = Some(col("t")))
      assert(perQuery != oneGroup, s"$n: the rows as one group score the same")
    }
  }

  test("watch equals evaluate: aft-nloglik, interval accuracy and cox-nloglik") {
    val rng = new scala.util.Random(59)
    val aft = (0 until 900).map { i =>
      val x = Array(rng.nextGaussian())
      val t = math.exp(0.5 * x(0) + 0.3 * rng.nextGaussian()) + 0.1
      // uncensored, interval-censored and right-censored (NaN) rows
      val (lo, hi) = i % 3 match {
        case 0 => (t, t)
        case 1 => (t * 0.7, t * 1.4)
        case _ => (t, Double.NaN)
      }
      (x, lo, hi, 0.5 + rng.nextDouble())
    }
    val names = Seq("aft-nloglik", "interval-regression-accuracy")
    val tr = new GBTTrainer(TrainParams(objective = "survival:aft", aftDistribution = "logistic",
      aftScale = 1.2, numRounds = 3, maxDepth = 2, evalMetrics = names, seed = 15))
    val model = tr.fitSurvival(sc.parallelize(aft, 3))
    val scored = aft.map { case (x, lo, hi, _) =>
      (model.margin(x)(0), lo, if (hi.isNaN) None else Some(hi)) }.toDF("p", "lo", "hi")
    val watched = tr.evalHistoryFull.last._2
    names.foreach { n =>
      sameValue(n, watched(n), Metrics.evaluate(n, scored, col("p"), col("lo"), lit(1.0),
        upper = Some(col("hi")), aftDistribution = "logistic", aftScale = 1.2))
    }

    val cox = (0 until 800).map { i =>
      val x = Array(rng.nextGaussian(), rng.nextGaussian())
      val t = math.exp(-0.6 * x(0) + 0.3 * rng.nextGaussian())
      (x, if (i % 4 == 0) -t else t, 1.0)
    }
    val trCox = new GBTTrainer(TrainParams(objective = "survival:cox", numRounds = 3,
      maxDepth = 2, evalMetric = Some("cox-nloglik"), seed = 16))
    val coxModel = trCox.fit(sc.parallelize(cox, 3))
    val coxScored = cox.map { case (x, y, _) => (coxModel.margin(x)(0), y) }.toDF("p", "y")
    sameValue("cox-nloglik", trCox.evalHistory.last._2,
      Metrics.evaluate("cox-nloglik", coxScored, col("p"), col("y"), lit(1.0)))
  }

  test("watch equals evaluate: metric parameters, bare names, expectile and sweeps") {
    val rng = new scala.util.Random(61)
    val xs = (0 until 700).map(_ => Array(rng.nextGaussian(), rng.nextGaussian()))
    // (params, label of x, watch names, evaluate's metric parameters)
    val cases = Seq(
      (TrainParams(objective = "reg:pseudohubererror", pseudoHuberSlope = 2.5),
        (x: Array[Double]) => 3.0 * x(0) + rng.nextGaussian(), Seq("mphe")),
      (TrainParams(quantileAlpha = 0.7),
        (x: Array[Double]) => x(0) + rng.nextGaussian(), Seq("quantile", "expectile@0.3")),
      (TrainParams(objective = "reg:tweedie", tweedieVariancePower = 1.3),
        (x: Array[Double]) => math.rint(math.exp(0.5 * x(0)) * rng.nextDouble() * 3),
        Seq("tweedie-nloglik")),
      (TrainParams(objective = "binary:logistic"),
        (x: Array[Double]) => if (x(0) + rng.nextGaussian() > 0) 1.0 else 0.0,
        Seq("auc", "aucpr", "logloss")))
    cases.foreach { case (p0, label, names) =>
      val p = p0.copy(numRounds = 2, maxDepth = 3, evalMetrics = names, seed = 17)
      val rows = xs.map(x => (x, label(x), 0.5 + rng.nextDouble()))
      val tr = new GBTTrainer(p)
      val model = tr.fit(sc.parallelize(rows, 2))
      val obj = graft.objective.Objective(p.objective)
      val scored = rows.map { case (x, y, w) =>
        val m = model.margin(x)(0); (m, obj.predTransform(m), y, w) }.toDF("m", "p", "y", "w")
      val watched = tr.evalHistoryFull.last._2
      names.foreach { n =>
        sameValue(s"${p.objective} $n", watched(n), Metrics.evaluate(n, scored, col("p"),
          col("y"), col("w"), margin = Some(col("m")), pseudoHuberSlope = p.pseudoHuberSlope,
          quantileAlpha = p.quantileAlpha, tweedieVariancePower = p.tweedieVariancePower))
      }
    }
    // the slope reaches the kernel: mphe at 2.5 is not mphe at the default 1
    val df = Seq((0.0, 4.0, 1.0), (1.0, -3.0, 1.0)).toDF("p", "y", "w")
    val at = (s: Double) => Metrics.evaluate("mphe", df, col("p"), col("y"), col("w"),
      pseudoHuberSlope = s)
    sameValue("mphe slope 2.5", at(2.5),
      df.agg(Metrics.mphe(col("p"), col("y"), col("w"), 2.5)).head().getDouble(0))
    assert(at(2.5) != at(1.0))
  }

  test("evaluate: ranking names without qid score the rows as one group") {
    val df = Seq((0.9, 1.0), (0.8, 0.0), (0.7, 1.0)).toDF("p", "y")
    val whole = Metrics.evaluate("map", df, col("p"), col("y"), lit(1.0))
    val grouped = Metrics.evaluate("map", df.withColumn("q", lit(7L)), col("p"), col("y"),
      lit(1.0), qid = Some(col("q")))
    assert(whole == grouped && math.abs(whole - (1.0 + 2.0 / 3.0) / 2.0) < 1e-12, s"map $whole")
    intercept[IllegalArgumentException] {
      Metrics.evaluate("rmse", df.withColumn("probs", array(col("p"))), col("p"), col("y"),
        lit(1.0), probs = Some(col("probs")))
    }
  }
}
