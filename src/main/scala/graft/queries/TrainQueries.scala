package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.predict.Predictor
import graft.tree.{GBTTrainer, TrainParams}

/** Training-based queries — not SQL-expressible (the boosting loop is
  * driver-coordinated iteration), so these get the driver's rows-only
  * check; correctness is covered by the ScalaTest invariants
  * (loss-decrease, SHAP sum, JSON roundtrip) mirroring the reference's
  * hypothesis-style tests (`tests/python/test_updaters.py`).
  */
object TrainQueries {

  private val featureCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Feature/label decode for the trainer: the projection (and label
    * arithmetic) happens in the DataFrame FIRST so column pruning reaches
    * the parquet scan — `.rdd` on the full table would read every column —
    * and the row decode is positional, not name-lookup-per-value. */
  def lineitemTrainingData(s: SparkSession, dir: String) = {
    val df = CoreQueries.table(s, dir, "lineitem").select(
      featureCols.map(c => col(c).cast("double")) :+
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 100000.0).as("label"): _*)
    val n = featureCols.length
    df.rdd.map { r =>
      val f = new Array[Double](n)
      var i = 0
      while (i < n) { f(i) = r.getDouble(i); i += 1 }
      (f, r.getDouble(n), 1.0)
    }
  }

  /** 3-class twin of [[lineitemTrainingData]] (label = l_linenumber % 3). */
  def lineitemTrainingData3Class(s: SparkSession, dir: String) = {
    val df = CoreQueries.table(s, dir, "lineitem").select(
      featureCols.map(c => col(c).cast("double")) :+
        (col("l_linenumber") % 3).cast("double").as("label"): _*)
    val n = featureCols.length
    df.rdd.map { r =>
      val f = new Array[Double](n)
      var i = 0
      while (i < n) { f(i) = r.getDouble(i); i += 1 }
      (f, r.getDouble(n), 1.0)
    }
  }

  /** Deterministic full-binary-tree ensemble (heap layout): internal node i
    * splits feature (i % nf) at a threshold swept across the plausible
    * lineitem value range so every path is exercised. */
  private def syntheticEnsemble(numTrees: Int, depth: Int, nf: Int): graft.model.BoosterModel = {
    import graft.model.{BoosterModel, Node, Tree}
    val internal = (1 << depth) - 1
    val total = (1 << (depth + 1)) - 1
    val trees = Array.tabulate(numTrees) { t =>
      Tree(Array.tabulate(total) { i =>
        if (i < internal)
          // gain in exact quarters / integer sumHess: their per-feature sums
          // are exactly representable doubles, so the pinned importance
          // oracle row compares equal in any engine (no float-sum slack)
          Node(feature = (i + t) % nf, threshold = ((i * 7 + t * 13) % 50).toDouble,
            defaultLeft = (i + t) % 2 == 0, left = 2 * i + 1, right = 2 * i + 2,
            leaf = Array.empty, gain = ((i * 5 + t * 13) % 23) * 0.25,
            sumHess = ((i + 2 * t) % 7 + 1).toDouble, categoriesRight = Array.empty)
        else
          Node(feature = -1, threshold = 0.0, defaultLeft = true, left = -1, right = -1,
            leaf = Array(((i * 3 + t) % 11) * 0.01), gain = 0.0, sumHess = 1.0,
            categoriesRight = Array.empty)
      })
    }
    BoosterModel(trees, Array.fill(numTrees)(0.1), new Array[Int](numTrees),
      Array(0.5), "reg:squarederror", 1, nf)
  }

  /** `t_predict_throughput`'s body over a lineitem frame: a synthetic
    * 60-tree depth-5 ensemble scores every row, digested as
    * (n_scored, mean_pred). */
  private[graft] def predictThroughput(lineitem: DataFrame): DataFrame = {
    val model = syntheticEnsemble(numTrees = 60, depth = 5,
      nf = featureCols.length)
    val df = lineitem.select(
      array(featureCols.map(c => col(c).cast("double")): _*).as("features"))
    Predictor.transform(df, model, "features")
      .agg(count(lit(1)).as("n_scored"),
        sum(round(col("prediction") * 1e6).cast("long")).as("_fp"))
      .select(col("n_scored"),
        round(col("_fp") / col("n_scored") / 1e6, 3).as("mean_pred"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // hist-method regression: train → transform → per-flag error summary
    "t_train_hist_rmse" -> ((s, dir) => {
      val data = lineitemTrainingData(s, dir).cache()
      val model = new GBTTrainer(TrainParams(numRounds = 5, maxDepth = 4,
        maxBin = 64, eta = 0.3, seed = 7)).fit(data)
      import s.implicits._
      val df = CoreQueries.table(s, dir, "lineitem").select(
        array(featureCols.map(c => col(c).cast("double")): _*).as("features"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 100000.0).as("label"),
        col("l_returnflag"))
      val out = Predictor.transform(df, model, "features")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sqrt(avg(pow(col("prediction") - col("label"), 2))), 3).as("rmse"))
        .orderBy("l_returnflag")
      data.unpersist(blocking = false)
      out
    }),

    // pure inference throughput: a synthetic 60-tree depth-5 ensemble over
    // every lineitem row through the codegen predictor — isolates the
    // per-row scoring tax the 100 TB inference scan pays, with ZERO
    // training jobs in the timed region.
    // r20 (verdict #4): scoring is per-row map work but the sf parquet is
    // one row group per file, so the scan ran SINGLE-task — spread it like
    // the pipeline base reads (guide §2.5; spreadTable is a no-op at real
    // scale). Partition-safe: count is exact and the mean is a sum of
    // fixed-point longs (1e-6 resolution), exact in any order, divided by
    // the count — a double sum would depend on the partition order
    // (TrainQueriesSpec pins the digest). The l_orderkey hash key
    // is deterministic under retry (~4 rows per key, vastly more distinct
    // values than partitions). The t_train_*/t_hash_* digest rows stay on
    // the pinned read (their results depend on partition merge topology).
    "t_predict_throughput" -> ((s, dir) =>
      predictThroughput(CoreQueries.spreadTable(s, dir, "lineitem", "l_orderkey"))),

    // binary classification: train → leaf/contrib outputs exercised
    "t_train_logistic_auc" -> ((s, dir) => {
      val df = CoreQueries.table(s, dir, "lineitem")
      val n = featureCols.length
      val data = df.select(
        featureCols.map(c => col(c).cast("double")) :+
          when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"): _*)
        .rdd.map { r =>
          val f = new Array[Double](n)
          var i = 0
          while (i < n) { f(i) = r.getDouble(i); i += 1 }
          (f, r.getDouble(n), 1.0)
        }.cache()
      val model = new GBTTrainer(TrainParams(objective = "binary:logistic",
        numRounds = 5, maxDepth = 3, maxBin = 64, seed = 7)).fit(data)
      val scored = Predictor.transform(
        df.select(array(featureCols.map(c => col(c).cast("double")): _*).as("features"),
          when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y")),
        model, "features")
      data.unpersist(blocking = false)
      graft.metric.Metrics.aucBinary(scored, col("prediction"), col("y"), lit(1.0))
        .select(round(col("auc"), 3).as("auc"))
    }),

    // MLlib Estimator facade end-to-end: fit(df) → transform(df) with
    // rawPrediction/probability/prediction consumed by a standard evaluator
    "t_train_estimator" -> ((s, dir) => {
      import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
      // label is a noisy function of unit price so the evaluator AUC
      // demonstrates actual learning, not a coin-flip fixture
      // repartition after the projection: the sf parquet is a single row
      // group, so without it the scan — and every narrow stage downstream,
      // including the evaluator's per-row scoring — runs as ONE task
      // hash repartition on the key column (round-robin would sort each
      // input partition by the full row — array compares — first)
      // Bench decomposition (tools/EstimatorProbe): fit ~3.8 s,
      // transform-to-ml-vectors + materialize ~1.5 s, evaluator ~0.7 s.
      // The r7 param plumbing adds NO cluster work to this row (its one
      // new job, the ranking group-weight normalizer, is LambdaRank-gated)
      // — the r6→r7 driver delta was shared-JVM context, and caching df
      // here measured neutral (cache write ≈ saved second scan).
      val df = CoreQueries.table(s, dir, "lineitem")
        .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
        .select(
          array(featureCols.map(c => col(c).cast("double")): _*).as("features"),
          when(col("l_extendedprice") / col("l_quantity") +
            (col("l_orderkey") % 7) * 300.0 > 2500.0, 1.0).otherwise(0.0).as("label"))
      val model = new graft.api.XGBoostClassifier()
        .setNumRound(5).setMaxDepth(3).setMaxBin(64).setSeed(7L).fit(df)
      val out = model.transform(df).cache()
      out.count()
      val auc = new BinaryClassificationEvaluator()
        .setRawPredictionCol("rawPrediction").evaluate(out)
      val res = out.groupBy("prediction")
        .agg(count(lit(1)).as("n"))
        .withColumn("evaluator_auc", round(lit(auc), 3))
        .orderBy("prediction")
      out.unpersist(blocking = false)
      res
    }),

    // learning-to-rank: qid-grouped lambdarank training, NDCG@5 surfaced
    "t_train_rank_ndcg" -> ((s, dir) => {
      val df = CoreQueries.table(s, dir, "lineitem")
      val n = featureCols.length
      // hash repartition AFTER the narrow projection (the single-row-group
      // parquet defense, as in t_train_estimator — but shuffling only the
      // selected columns): without it the row-conversion map and the
      // qid-shuffle's map side run as the scan's 3 tasks
      // key choice: l_orderkey (high-cardinality — ~50 distinct l_quantity
      // or 100 distinct q values map 32 partitions unevenly and made this
      // row jitter-sensitive); qid co-location is NOT needed here, the
      // trainer's own partitionBy(qid) is the spreading shuffle for groups
      val data = df.select(
        featureCols.map(c => col(c).cast("double")) :+
          (col("l_linenumber") % 4).cast("double").as("rel") :+
          (col("l_orderkey") % 100).as("q") :+
          col("l_orderkey").as("okey"): _*)
        .repartition(s.sparkContext.defaultParallelism, col("okey"))
        .rdd.map { r =>
          val f = new Array[Double](n)
          var i = 0
          while (i < n) { f(i) = r.getDouble(i); i += 1 }
          (f, r.getDouble(n), 1.0, r.getLong(n + 1))
        }.cache()
      val model = new GBTTrainer(TrainParams(objective = "rank:ndcg",
        numRounds = 5, maxDepth = 3, maxBin = 64, seed = 7)).fitRanking(data)
      val scored = Predictor.transform(
        df.select(array(featureCols.map(c => col(c).cast("double")): _*).as("features"),
          (col("l_orderkey") % 100).as("q"),
          (col("l_linenumber") % 4).cast("double").as("rel"),
          col("l_orderkey").as("t")),
        model, "features")
      data.unpersist(blocking = false)
      graft.metric.Metrics.ndcgAt(scored, col("q"), col("margin"), col("rel"), col("t"), k = 5)
        .select(round(col("ndcg"), 3).as("ndcg"), col("num_groups"))
    }),

    // multi-target vector-leaf training (multi_strategy=multi_output_tree,
    // `src/tree/hist/histogram.h:315` MultiHistogramBuilder): ONE tree per
    // round carrying K=2 leaf lanes over the packed-margin cache; per-lane
    // RMSE of the fitted model surfaced (distributed — model broadcast,
    // no driver-side scoring)
    "t_train_multi" -> ((s, dir) => {
      val n = featureCols.length
      // repartition after the narrow projection (single-row-group defense):
      // the trainer's internal ensurePar otherwise runs its map side — and
      // this row conversion — as the scan's 3 tasks
      // hash key must be high-cardinality: l_quantity's ~50 distinct values
      // land 32 partitions unevenly (some empty) and amplified host jitter
      val data = CoreQueries.table(s, dir, "lineitem").select(
        featureCols.map(c => col(c).cast("double")) :+
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 100000.0).as("y0") :+
          (col("l_quantity") / 10.0 + col("l_tax")).as("y1") :+
          col("l_orderkey").as("okey"): _*)
        .repartition(s.sparkContext.defaultParallelism, col("okey"))
        .rdd.map { r =>
          val f = new Array[Double](n)
          var i = 0
          while (i < n) { f(i) = r.getDouble(i); i += 1 }
          (f, Array(r.getDouble(n), r.getDouble(n + 1)), 1.0)
        }.cache()
      val model = graft.api.XGBoost.trainMulti(data,
        TrainParams(numRounds = 5, maxDepth = 3, maxBin = 64, eta = 0.3, seed = 7),
        numTargets = 2)
      val bm = s.sparkContext.broadcast(model)
      import s.implicits._
      val errs = data.map { case (f, ys, _) =>
        val p = bm.value.margin(f)
        (p(0) - ys(0), p(1) - ys(1))
      }.toDF("e0", "e1")
      val out = errs.agg(
        round(sqrt(avg(col("e0") * col("e0"))), 3).as("rmse_y0"),
        round(sqrt(avg(col("e1") * col("e1"))), 3).as("rmse_y1"),
        count(lit(1)).as("n"))
      data.unpersist(blocking = false)
      out
    }),

    // model IO + feature importance surfaced as a table. The op under
    // test is importance+JSON roundtrip, not training: a 2-round model
    // exercises it identically at a fraction of the bench cost
    // the ops under test are importance extraction + JSON roundtrip —
    // driver-side model ops — so they run on a deterministic fixture
    // ensemble; training them from scratch here would just re-time the
    // trainer (already timed by t_train_*) to produce 4 numbers
    "t_feature_importance" -> ((s, dir) => {
      val model = syntheticEnsemble(numTrees = 20, depth = 4, nf = featureCols.length)
      val roundtrip = graft.model.BoosterModel.fromJson(model.toJson)
      import s.implicits._
      // three importance modes with distinct per-feature values (the
      // fixture's round-robin features make plain split counts uniform);
      // the oracle pins the full table as constants — the model is a
      // deterministic fixture, so any drift in importance math or the
      // JSON roundtrip (which carries gain/cover) flips the row red
      val w = roundtrip.featureImportance("weight")
      val g = roundtrip.featureImportance("total_gain")
      val c = roundtrip.featureImportance("total_cover")
      val imp = w.keys.toSeq.sorted.map { f =>
        (featureCols(f), w(f), g(f), c(f))
      }
      imp.toDF("feature", "n_splits", "total_gain", "total_cover")
        .orderBy("feature")
    }),

    // ---- golden-hash determinism rows ------------------------------------
    // The t_train_* queries above are not SQL-expressible (rows-only
    // check). These twins train FIXED-SEED models on an SF-INDEPENDENT
    // seeded synthetic fixture and emit a canonical model digest whose
    // expected value is PINNED as a constant in the oracle — the gate then
    // proves training is bit-stable round-over-round, at both scales, in a
    // fresh JVM. An unintended change to sketch/histogram/split/leaf math
    // flips the hash and turns the row red. The fixture is SINGLE-partition
    // (with minTrainPartitions=0 so it stays that way): near-tie split
    // gains amplify last-ulp float-sum noise into different-but-equally-
    // valid trees, so bit-stability requires a pinned reduction order —
    // multi-partition merge order is task-completion order, which no
    // engine (reference included) pins across runs for float sums.
    "t_hash_hist" -> ((s, _) =>
      hashRow(s, new GBTTrainer(goldenParams()).fit(goldenRows(s)))),

    // maxBin 32 ≠ the hist row's 64 so the approx re-sketch path gets its
    // own distinct digest (at 64 both paths derive identical cuts on this
    // fixture and the rows would alias)
    "t_hash_approx" -> ((s, _) =>
      hashRow(s, new GBTTrainer(goldenParams(treeMethod = "approx").copy(maxBin = 32))
        .fit(goldenRows(s)))),

    "t_hash_logistic" -> ((s, _) =>
      hashRow(s, new GBTTrainer(goldenParams(objective = "binary:logistic"))
        .fit(goldenRows(s, labelKind = "binary")))),

    "t_hash_multi" -> ((s, _) =>
      hashRow(s, new GBTTrainer(goldenParams(objective = "multi:softprob", numClass = 3))
        .fit(goldenRows(s, labelKind = "class3")))),

    "t_hash_rank" -> ((s, _) =>
      hashRow(s, new GBTTrainer(goldenParams(objective = "rank:ndcg"))
        .fitRanking(goldenRows(s, labelKind = "rel4").map { case (f, y, w) =>
          (f, y, w, (f(0) * 17).toLong.abs % 40) // qid from a feature: deterministic
        }))),

    "t_hash_dart" -> ((s, _) =>
      hashRow(s, new GBTTrainer(goldenParams(booster = "dart", rateDrop = 0.3))
        .fit(goldenRows(s)))),

    // LearningRateScheduler callback (ref callback.py:272): a decaying
    // per-round eta lands in the tree weights AND changes every later
    // tree's fit — the digest pins the whole schedule-into-training path
    // (identical params to t_hash_hist otherwise, so digest divergence
    // from that row is exactly the scheduler's effect)
    "t_hash_lr_decay" -> ((s, _) =>
      hashRow(s, new GBTTrainer(goldenParams())
        .withCallbacks(Seq(graft.tree.LearningRateScheduler(
          i => 0.5 * math.pow(0.5, i))))
        .fit(goldenRows(s)))),

    // multi-output tree (vector leaves, MultiTargetTrainer): lane 1 is the
    // regression label, lane 2 a second deterministic function of the
    // fixture features — pins the packed-margin multi-target path
    "t_hash_multitree" -> ((s, _) =>
      hashRow(s, new graft.tree.MultiTargetTrainer(goldenParams(), 2)
        .fit(goldenRows(s).map { case (f, y, w) =>
          (f, Array(y, 0.5 * f(1) - f(2)), w)
        }))),

    "t_hash_linear" -> ((s, _) => {
      // coord_descent: the sequential selector is order-deterministic
      val lm = new graft.linear.GBLinearTrainer(graft.linear.LinearParams(
        numRounds = 5, eta = 0.5, updater = "coord_descent", seed = 7))
        .fit(goldenRows(s))
      import s.implicits._
      val canon = (lm.weights.map(fmt) :+ fmt(lm.bias) :+ fmt(lm.baseScore))
        .mkString(lm.objective + "|", ",", "")
      Seq((md5Hex(canon), lm.numFeatures)).toDF("model_md5", "n_features")
    }),

    // learned corpus-quality filter: hashed-BoW featurization into the
    // engine's own gblinear logistic (the fastText/DataComp shape) —
    // pins featurizer (JVM hash60) + weak labels + coord_descent together
    "t_hash_quality_clf" -> ((s, _) => {
      val lm = graft.ext.QualityClassifier.trainFilter(
        goldenDocs(s), numBuckets = 64,
        params = graft.linear.LinearParams(objective = "binary:logistic",
          numRounds = 5, eta = 0.5, lambda = 1.0, updater = "coord_descent", seed = 7))
      import s.implicits._
      val canon = (lm.weights.map(fmt) :+ fmt(lm.bias) :+ fmt(lm.baseScore))
        .mkString(lm.objective + "|", ",", "")
      Seq((md5Hex(canon), lm.numFeatures)).toDF("model_md5", "n_features")
    }),

    // learned language identifier: hashed char-bigram features into the
    // engine's multiclass gblinear (the fastText lang-id shape) — pins
    // the char featurizer + fitMulti softmax lanes + class ordering
    "t_hash_lang_clf" -> ((s, _) => {
      val (lm, classes) = graft.ext.LangClassifier.train(
        goldenLangDocs(s), numBuckets = 64,
        params = graft.linear.LinearParams(objective = "multi:softmax",
          numRounds = 5, eta = 0.5, lambda = 1.0, updater = "coord_descent", seed = 7))
      import s.implicits._
      val canon = (lm.weights.flatMap(_.map(fmt)) ++ lm.bias.map(fmt))
        .mkString(lm.objective + "|" + classes.mkString(",") + "|", ",", "")
      Seq((md5Hex(canon), lm.numFeatures)).toDF("model_md5", "n_features")
    }),

    // multiclass gblinear (softmax lanes — ref num_output_group > 1)
    "t_hash_linear_multi" -> ((s, _) => {
      val lm = new graft.linear.GBLinearTrainer(graft.linear.LinearParams(
        objective = "multi:softprob",
        numRounds = 5, eta = 0.5, updater = "coord_descent", seed = 7))
        .fitMulti(goldenRows(s, labelKind = "class3"), numClass = 3)
      import s.implicits._
      val canon = (lm.weights.flatMap(_.map(fmt)) ++ lm.bias.map(fmt))
        .mkString(lm.objective + "|", ",", "")
      Seq((md5Hex(canon), lm.numFeatures)).toDF("model_md5", "n_features")
    })
  )

  /** PINNED golden digests: the oracle for each t_hash_* row is a
    * constant — DuckDB cannot train a GBDT, but it can hold the expected
    * hash still while the gate re-trains and re-hashes every round. An
    * intentional change to training math must re-pin these (that is the
    * point: the diff becomes visible and deliberate). */
  val oracle: Map[String, String] = Map(
    "t_hash_hist" ->
      "SELECT '2aca1b768ecb3ce8322ee1b6677431b9' AS model_md5, 5 AS n_trees, 155 AS n_nodes",
    "t_hash_approx" ->
      "SELECT '10da90ce34694678182a641dc2e8f0f4' AS model_md5, 5 AS n_trees, 155 AS n_nodes",
    "t_hash_logistic" ->
      "SELECT '98ad0f403bfea93fe25a55b1b03841a6' AS model_md5, 5 AS n_trees, 115 AS n_nodes",
    "t_hash_multi" ->
      "SELECT 'a8c5bad0e14942b5baa9a013c19cc8bd' AS model_md5, 15 AS n_trees, 449 AS n_nodes",
    // re-pinned r7: LambdaRank reference parity (hessian ×2 closed form +
    // lambdarank_normalization/score_normalization default-true)
    "t_hash_rank" ->
      "SELECT 'db78f92d0d929cf300f2d5ec211afde7' AS model_md5, 5 AS n_trees, 121 AS n_nodes",
    "t_hash_dart" ->
      "SELECT '2c80776d57b2356ac88fb731b9725a82' AS model_md5, 5 AS n_trees, 155 AS n_nodes",
    // pinned r8: LearningRateScheduler digest — MUST differ from
    // t_hash_hist (same params, decaying schedule)
    "t_hash_lr_decay" ->
      "SELECT '7bdee9a348efb7cd824a015f80afbb97' AS model_md5, 5 AS n_trees, 155 AS n_nodes",
    "t_hash_multitree" ->
      "SELECT '7231d623c61a208acb1bb63a07c3a6fa' AS model_md5, 5 AS n_trees, 155 AS n_nodes",
    "t_hash_linear" ->
      "SELECT '24887bb85f773245b342170bc64f92cf' AS model_md5, 6 AS n_features",
    "t_hash_linear_multi" ->
      "SELECT '02da7db622f699f653f0d1996d5cb22e' AS model_md5, 6 AS n_features",
    "t_hash_quality_clf" ->
      "SELECT '85b2016a40e4242b20719e1d00edb6d2' AS model_md5, 64 AS n_features",
    "t_hash_lang_clf" ->
      "SELECT 'f0d49d2b80431e0d01ba0f19a1817675' AS model_md5, 64 AS n_features",
    // pinned like the t_hash_* digests: the synthetic fixture ensemble is
    // deterministic, so importance (through the JSON roundtrip, which
    // carries gain/cover) is a constant table; gains are exact quarters
    // and covers integers, so the doubles compare exactly in any engine
    "t_feature_importance" ->
      """SELECT feature, CAST(n_splits AS DOUBLE) AS n_splits,
        |       CAST(total_gain AS DOUBLE) AS total_gain,
        |       CAST(total_cover AS DOUBLE) AS total_cover
        |FROM (VALUES
        |  ('l_discount', 75, 199.0, 309.0),
        |  ('l_extendedprice', 75, 203.75, 298.0),
        |  ('l_quantity', 75, 208.5, 287.0),
        |  ('l_tax', 75, 207.5, 304.0)) AS t(feature, n_splits, total_gain, total_cover)
        |ORDER BY feature""".stripMargin)

  /** Fixture params: small enough to add ~1 s per row to bench, deep
    * enough to exercise sketch→bin→grow→leaf on every path. */
  private def goldenParams(
      objective: String = "reg:squarederror",
      numClass: Int = 1,
      treeMethod: String = "hist",
      booster: String = "gbtree",
      rateDrop: Double = 0.0) =
    TrainParams(objective = objective, numClass = numClass,
      treeMethod = treeMethod, booster = booster, rateDrop = rateDrop,
      numRounds = 5, maxDepth = 4, maxBin = 64, eta = 0.3, seed = 7,
      minTrainPartitions = 0)

  /** SF-independent fixture: 10k rows, 6 features, ONE partition (pinned
    * fold order — see the block comment above), all values derived from a
    * splittable per-index hash (same bytes every scale, every round,
    * every JVM). */
  private def goldenRows(s: SparkSession, labelKind: String = "reg") =
    s.sparkContext.parallelize(0 until 10000, 1).map { i =>
      val rng = new java.util.Random(0x5DEECE66DL ^ (i.toLong * 0x9E3779B97F4A7C15L))
      val f = Array.fill(6)(math.rint(rng.nextGaussian() * 1000) / 100.0)
      val noise = rng.nextGaussian()
      val y = labelKind match {
        case "reg" => 2.0 * f(0) - f(1) + 0.05 * f(2) * f(3) + noise
        case "binary" => if (f(0) + 0.5 * noise > 0) 1.0 else 0.0
        case "class3" => (math.abs(f(0) + f(1) + noise) * 3).toInt % 3
        case "rel4" => (math.abs(f(0) + 0.5 * noise) * 2).toInt % 4
      }
      (f, y.toDouble, 1.0)
    }

  /** SF-independent document fixture for the learned quality filter:
    * 2000 seeded docs, half drawn from a stopword-rich "good" vocabulary
    * and half from symbol-noise — a separable weak-label problem whose
    * fit is reproducible byte-for-byte (one partition, splittable
    * per-index seed, deterministic token draws). */
  private def goldenDocs(s: SparkSession) = {
    val good = Array("the", "a", "of", "and", "to", "in", "is", "it",
      "fox", "river", "story", "plain", "words", "fine", "clear", "day")
    val bad = Array("zxq", "qqj9", "x#!", "%%%", "kkkk", "vvv2", "jjj",
      "zz@", "???", "&&&", "mm9m", "qq~")
    val rows = s.sparkContext.parallelize(0 until 2000, 1).map { i =>
      val rng = new java.util.Random(0x5DEECE66DL ^ (i.toLong * 0x9E3779B97F4A7C15L))
      val vocab = if (i % 2 == 0) good else bad
      val n = 8 + rng.nextInt(40)
      (i.toLong, Array.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    s.createDataFrame(rows).toDF("doc_id", "text")
  }

  /** Three synthetic "languages" with disjoint character alphabets —
    * LCG-deterministic, class-separable by char bigrams alone. */
  private def goldenLangDocs(s: SparkSession) = {
    val alphabets = Array("abcdefghi", "jklmnopqr", "stuvwxyz")
    val rows = s.sparkContext.parallelize(0 until 1500, 1).map { i =>
      val rng = new java.util.Random(0x2545F4914F6CDD1DL ^ (i.toLong * 0x9E3779B97F4A7C15L))
      val ab = alphabets(i % 3)
      val words = Array.fill(6 + rng.nextInt(20)) {
        Array.fill(2 + rng.nextInt(6))(ab(rng.nextInt(ab.length))).mkString
      }
      (i.toLong, words.mkString(" "), s"lang${i % 3}")
    }
    s.createDataFrame(rows).toDF("doc_id", "text", "lang")
  }

  private def fmt(v: Double): String = f"$v%.6e" // absorbs last-ulp noise

  private def md5Hex(sIn: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sIn.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Canonical digest of a booster: objective, groups, base margins, and
    * every node's (feature, threshold, children, default dir, leaves) at
    * 7 significant digits. */
  private def hashRow(s: SparkSession, m: graft.model.BoosterModel): DataFrame = {
    val sb = new StringBuilder
    sb.append(m.objective).append('|').append(m.numGroups).append('|')
    m.baseScore.foreach(b => sb.append(fmt(b)).append(','))
    m.trees.indices.foreach { t =>
      sb.append('|').append(fmt(m.treeWeights(t))).append(':')
        .append(m.treeGroup(t)).append(';')
      m.trees(t).nodes.foreach { nd =>
        sb.append(nd.feature).append(':')
        if (nd.isLeaf) nd.leaf.foreach(v => sb.append(fmt(v)).append(','))
        else sb.append(fmt(nd.threshold)).append(':').append(nd.left).append(':')
          .append(nd.right).append(':').append(if (nd.defaultLeft) 1 else 0)
        sb.append(';')
      }
    }
    import s.implicits._
    Seq((md5Hex(sb.toString), m.trees.length,
      m.trees.map(_.nodes.length).sum)).toDF("model_md5", "n_trees", "n_nodes")
  }
}
