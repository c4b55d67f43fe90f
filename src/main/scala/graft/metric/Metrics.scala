package graft.metric

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evaluation metrics as plain Spark SQL aggregations — the reference's
  * metric registry (`src/metric/elementwise_metric.cu`, `auc.cc`,
  * `rank_metric.cc`, `multiclass_metric.cu`, SURVEY §2.4). Every elementwise
  * metric is Σ over rows ÷ Σ weights, i.e. exactly Spark's partial+final
  * aggregate (the reference's metric allreduce, `src/metric/metric.cc`) —
  * and directly DuckDB-oracle-verifiable.
  *
  * Column builders return AGGREGATE expressions usable in `df.agg(...)`.
  */
object Metrics {

  // ---- elementwise (elementwise_metric.cu) --------------------------------

  /** rmse (`elementwise_metric.cu:109`). */
  def rmse(pred: Column, label: Column, w: Column): Column =
    sqrt(sum(w * pow(pred - label, 2)) / sum(w))

  /** rmsle (`elementwise_metric.cu:121`). */
  def rmsle(pred: Column, label: Column, w: Column): Column =
    sqrt(sum(w * pow(log1p(pred) - log1p(label), 2)) / sum(w))

  /** mae (`elementwise_metric.cu:133`). */
  def mae(pred: Column, label: Column, w: Column): Column =
    sum(w * abs(pred - label)) / sum(w)

  /** mape (`elementwise_metric.cu:142`). */
  def mape(pred: Column, label: Column, w: Column): Column =
    sum(w * abs((label - pred) / label)) / sum(w)

  /** binary logloss (`elementwise_metric.cu:161`); pred is probability. */
  def logloss(pred: Column, label: Column, w: Column): Column = {
    val eps = lit(1e-16)
    val p = least(greatest(pred, eps), lit(1.0) - eps)
    sum(w * -(label * log(p) + (lit(1.0) - label) * log(lit(1.0) - p))) / sum(w)
  }

  /** mean pseudo-Huber error mphe (`elementwise_metric.cu:168`). */
  def mphe(pred: Column, label: Column, w: Column, slope: Double = 1.0): Column = {
    val r = pred - label
    sum(w * (lit(slope * slope) * (sqrt(lit(1.0) + pow(r / slope, 2)) - lit(1.0)))) / sum(w)
  }

  /** classification error@t (`elementwise_metric.cu:208`). */
  def errorAt(pred: Column, label: Column, w: Column, t: Double = 0.5): Column =
    sum(w * when((pred > t) =!= (label > lit(0.5)), 1.0).otherwise(0.0)) / sum(w)

  /** Log-gamma by the Stirling series, evaluated at x + 6 and shifted back
    * by the recurrence `lgamma(x) = lgamma(x + 6) − ln(x(x+1)…(x+5))`:
    * within 5e-8 of the exact value for x ≥ 1, which count labels satisfy
    * after the +1 shift (the series at x itself is off by 5e-4 at x = 1).
    * The same closed form is emitted in the oracle SQL — Spark and DuckDB
    * lack a shared lgamma builtin. */
  def lgammaStirling(x: Column): Column = {
    val z = x + lit(6.0)
    (z - lit(0.5)) * log(z) - z + lit(0.5 * math.log(2 * math.Pi)) +
      lit(1.0) / (lit(12.0) * z) - lit(1.0) / (lit(360.0) * pow(z, 3)) -
      log(x * (x + lit(1.0)) * (x + lit(2.0)) * (x + lit(3.0)) * (x + lit(4.0)) * (x + lit(5.0)))
  }

  /** [[lgammaStirling]] of one value. */
  def lgammaStirling(x: Double): Double = {
    val z = x + 6.0
    (z - 0.5) * math.log(z) - z + 0.5 * math.log(2 * math.Pi) +
      1.0 / (12.0 * z) - 1.0 / (360.0 * math.pow(z, 3)) -
      math.log(x * (x + 1.0) * (x + 2.0) * (x + 3.0) * (x + 4.0) * (x + 5.0))
  }

  /** poisson negative log-likelihood (`elementwise_metric.cu:244`). */
  def poissonNloglik(pred: Column, label: Column, w: Column): Column = {
    val p = greatest(pred, lit(1e-16))
    sum(w * (p - label * log(p) + lgammaStirling(label + lit(1.0)))) / sum(w)
  }

  /** gamma deviance (`elementwise_metric.cu:263`). */
  def gammaDeviance(pred: Column, label: Column, w: Column): Column = {
    val e = lit(1e-16)
    sum(w * (lit(2.0) * (log((pred + e) / (label + e)) + label / (pred + e) - lit(1.0)))) / sum(w)
  }

  /** gamma negative log-likelihood with unit dispersion
    * (`elementwise_metric.cu:280`). */
  def gammaNloglik(pred: Column, label: Column, w: Column): Column = {
    val p = greatest(pred, lit(1e-16))
    sum(w * (label / p + log(p))) / sum(w)
  }

  /** tweedie nloglik@rho (`elementwise_metric.cu:299`). */
  def tweedieNloglik(pred: Column, label: Column, w: Column, rho: Double): Column = {
    val p = greatest(pred, lit(1e-16))
    val a = label * pow(p, lit(1.0 - rho)) / lit(1.0 - rho)
    val b = pow(p, lit(2.0 - rho)) / lit(2.0 - rho)
    sum(w * -(a - b)) / sum(w)
  }

  /** quantile pinball loss (`elementwise_metric.cu:412`). */
  def pinball(pred: Column, label: Column, w: Column, alpha: Double): Column = {
    val d = label - pred
    sum(w * when(d >= 0, lit(alpha) * d).otherwise(lit(alpha - 1.0) * d)) / sum(w)
  }

  /** expectile loss (`elementwise_metric.cu:499`). */
  def expectileLoss(pred: Column, label: Column, w: Column, tau: Double): Column = {
    val r = pred - label
    sum(w * when(r > 0, lit(1.0 - tau)).otherwise(lit(tau)) * r * r) / sum(w)
  }

  /** Whether a larger value of metric `name` is better (early stopping,
    * cv): the AUCs, the ranking gains, AMS and interval accuracy. */
  def higherIsBetter(name: String): Boolean =
    name.startsWith("auc") || name.startsWith("ndcg") || name.startsWith("map") ||
      name == "pre" || name.startsWith("pre@") || name.startsWith("ams@") ||
      name == "interval-regression-accuracy"

  // ---- multiclass (multiclass_metric.cu) ----------------------------------

  /** merror (`multiclass_metric.cu:222`): pred is the argmax class. */
  def merror(predClass: Column, label: Column, w: Column): Column =
    sum(w * when(predClass =!= label, 1.0).otherwise(0.0)) / sum(w)

  /** mlogloss (`multiclass_metric.cu:226`): probs is ArrayType(Double). */
  def mlogloss(probs: Column, label: Column, w: Column): Column =
    sum(w * -log(greatest(element_at(probs, (label + lit(1)).cast("int")), lit(1e-16)))) / sum(w)

  // ---- AUC (auc.cc) --------------------------------------------------------

  /** Weighted binary ROC-AUC, trapezoid over distinct scores
    * (`src/metric/auc.cc:153` BinaryROCAUC) — tie-correct. Returns a 1-row
    * DF. Scale shape: groupBy(score) shrinks to distinct scores (shuffle,
    * parallel), then [[graft.data.DistributedCumsum]] supplies the
    * cumulative TP/FP sweep WITHOUT an unpartitioned window — no single
    * task ever sees the whole score axis. The trapezoid term needs no lag:
    * prev-cumulative = cumulative − own group mass. */
  def aucBinary(df: DataFrame, pred: Column, label: Column, w: Column): DataFrame = {
    val g = df.groupBy(pred.as("p"))
      .agg(sum(when(label > 0.5, w).otherwise(0.0)).as("tp"),
        sum(when(label > 0.5, 0.0).otherwise(w)).as("fp"))
    val c = graft.data.DistributedCumsum.cumsum(g, "p", descending = true, Seq("tp", "fp"))
    // trapezoid between consecutive cumulative points:
    // dFP · (TPprev + TPcur)/2 = fp · (2·ctp − tp)/2
    c.agg(
      (sum(col("fp") * (lit(2.0) * col("cum_tp") - col("tp")) / 2.0) /
        (max("cum_tp") * max("cum_fp"))).as("auc"))
  }

  /** Weighted binary PR-AUC (`src/metric/auc.cc` BinaryPRAUC semantics):
    * trapezoid over the (recall, precision) curve at distinct scores,
    * descending. Same scale shape as [[aucBinary]]: distinct-score groupBy
    * then a distributed cumulative sweep; the previous curve point is
    * recovered as cumulative − own mass, so no lag/window is needed. The
    * zero-recall boundary takes precision 1 by convention (both engines
    * apply the identical CASE). */
  def aucPR(df: DataFrame, pred: Column, label: Column, w: Column): DataFrame = {
    val g = df.groupBy(pred.as("p"))
      .agg(sum(when(label > 0.5, w).otherwise(0.0)).as("tp"),
        sum(when(label > 0.5, 0.0).otherwise(w)).as("fp"))
    val c = graft.data.DistributedCumsum.cumsum(g, "p", descending = true, Seq("tp", "fp"))
    val prevTp = col("cum_tp") - col("tp")
    val prevFp = col("cum_fp") - col("fp")
    val prec = col("cum_tp") / (col("cum_tp") + col("cum_fp"))
    val prevPrec = when(prevTp + prevFp > 0, prevTp / (prevTp + prevFp)).otherwise(1.0)
    c.agg(
      (sum(col("tp") * (prec + prevPrec) / 2.0) / max("cum_tp")).as("aucpr"))
  }

  /** Multiclass one-vs-rest ROC-AUC (`src/metric/auc.cc:83` MultiAUC with
    * `MultiAUCType::kMultiClass`, dispatched from EvalMultiClass
    * `auc.cc:377`): per class c, the binary tie-correct AUC of response
    * (label == c) against the class-c probability, combined with class
    * PREVALENCE weights — auc = Σ_c auc_c·tp_c / Σ_c tp_c where tp_c is
    * the total positive weight of class c (the reference's
    * `weight = tp(c)` at auc.cc:137). Returns null (the reference's NaN)
    * if any class lacks positives or negatives (auc.cc:132-143).
    *
    * Scale shape: one posexplode (rows × numClass — numClass is small and
    * fixed), ONE groupBy to distinct (class, score) points, then a single
    * composite-key [[graft.data.DistributedCumsum]] over (class asc,
    * score desc) — all per-class ROC sweeps ride the same two-pass prefix
    * scan; within-class cumulatives are recovered by subtracting the
    * preceding classes' totals (a numClass-row broadcast join). No
    * unpartitioned window, no per-class Spark job. */
  def aucMulticlass(df: DataFrame, probs: Column, label: Column, w: Column): DataFrame = {
    val x = df.select(label.as("y"), w.as("wt"), posexplode(probs).as(Seq("c", "p")))
    val g = x.groupBy(col("c"), col("p"))
      .agg(sum(when(col("y") === col("c").cast("double"), col("wt")).otherwise(0.0)).as("tp"),
        sum(when(col("y") === col("c").cast("double"), 0.0).otherwise(col("wt"))).as("fp"))
    val cum = graft.data.DistributedCumsum.cumsum(
      g, Seq(col("c").asc, col("p").desc), Seq("tp", "fp"))
    // per-class exclusive offset = global cumulative at end of class − class total
    val off = cum.groupBy("c").agg(
      (max("cum_tp") - sum("tp")).as("offTp"),
      (max("cum_fp") - sum("fp")).as("offFp"))
    val perClass = cum.join(broadcast(off), "c")
      .select(col("c"), col("tp"), col("fp"),
        (col("cum_tp") - col("offTp")).as("ctp"),
        (col("cum_fp") - col("offFp")).as("cfp"))
      .groupBy("c").agg(
        sum(col("fp") * (lit(2.0) * col("ctp") - col("tp")) / 2.0).as("area"),
        max("ctp").as("ttp"), max("cfp").as("tfp"))
    // degenerate classes (no positives or no negatives) are excluded from
    // the inner sum (their division would raise under ANSI) and the outer
    // min-guard turns the whole result into null — the reference's NaN
    // contract (auc.cc:132-143)
    val valid = col("ttp") > 0 && col("tfp") > 0
    perClass.agg(
      when(min(when(valid, 1).otherwise(0)) === 1,
        sum(when(valid, col("area") / (col("ttp") * col("tfp")) * col("ttp")))
          / sum(col("ttp")))
        .as("auc"))
  }

  /** ams@ratio (`src/metric/rank_metric.cc:48` EvalAMS — the HEP
    * "approximate median significance", br = 10): sweep the descending
    * score order accumulating weighted signal s (label>0.5) and background
    * b; AMS(s,b) = √(2((s+b+br)·ln(1+s/(b+br)) − s)). ratio ≥ 1 returns
    * the MAX over candidate thresholds = distinct-score prefixes excluding
    * the full-data prefix (the reference's `i < ndata-1` bound); ratio < 1
    * evaluates at the ⌊ratio·n⌋-row cutoff (row-sliced — deterministic
    * when scores are unique, same caveat as the reference's unstable
    * sort). Scale shape: distinct-score groupBy + DistributedCumsum — no
    * unpartitioned window; the reference explicitly does NOT support
    * distributed evaluation of this metric, this form does. */
  def amsAt(df: DataFrame, pred: Column, label: Column, w: Column,
      ratio: Double): DataFrame = {
    val g = df.groupBy(pred.as("p"))
      .agg(sum(when(label > 0.5, w).otherwise(0.0)).as("tp"),
        sum(when(label > 0.5, 0.0).otherwise(w)).as("fp"),
        count(lit(1)).cast("double").as("cnt"))
    val c = graft.data.DistributedCumsum.cumsum(g, "p", descending = true,
      Seq("tp", "fp", "cnt"))
    val br = lit(10.0)
    val ams = sqrt(lit(2.0) * ((col("cum_tp") + col("cum_fp") + br) *
      log(lit(1.0) + col("cum_tp") / (col("cum_fp") + br)) - col("cum_tp")))
    val n = df.agg(count(lit(1))).head().getLong(0)
    if (ratio >= 1.0)
      c.agg(max(when(col("cum_cnt") < n, ams)).as("ams"))
    else {
      // AMS at the cumulative point nearest (below) the ⌊ratio·n⌋-row cutoff
      val ntop = math.min(math.max((ratio * n).toLong, 1L), n - 1)
      c.where(col("cum_cnt") <= ntop).agg(max_by(ams, col("cum_cnt")).as("ams"))
    }
  }

  /** Per-query ranking AUC averaged over groups (`auc.cc:165,229`). The
    * cumulative TP/FP windows are PARTITIONED by qid (bounded groups —
    * scale-safe); groups lacking both classes are excluded from the mean,
    * via an explicit guard (Spark yields NaN on double 0/0 where other
    * engines yield NULL — the guard keeps the semantics engine-portable). */
  def aucRanking(df: DataFrame, qid: Column, pred: Column, label: Column): DataFrame = {
    val byQ = Window.partitionBy(col("q")).orderBy(col("p").desc)
    val base = df.select(qid.as("q"), pred.as("p"), label.as("y"))
      .groupBy("q", "p")
      .agg(sum(when(col("y") > 0.5, 1.0).otherwise(0.0)).as("tp"),
        sum(when(col("y") > 0.5, 0.0).otherwise(1.0)).as("fp"))
      .withColumn("ctp", sum("tp").over(byQ.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cfp", sum("fp").over(byQ.rowsBetween(Window.unboundedPreceding, 0)))
    // trapezoid: dFP·(TPprev + TPcur)/2 = fp·(2·ctp − tp)/2 (no lag needed)
    val perQ = base.groupBy("q").agg(
      sum(col("fp") * (lit(2.0) * col("ctp") - col("tp")) / 2.0).as("num"),
      max("ctp").as("pos"), max("cfp").as("neg"))
      .select(col("q"),
        when(col("pos") > 0 && col("neg") > 0, col("num") / (col("pos") * col("neg"))).as("auc"))
    perQ.where(col("auc").isNotNull).agg(avg("auc").as("auc"), count(lit(1)).as("num_groups"))
  }

  // ---- ranking (rank_metric.cc + ranking_utils.h) --------------------------

  private def rankedWindow(qid: Column, pred: Column, tie: Column) =
    Window.partitionBy(qid).orderBy(pred.desc, tie.asc)

  /** ndcg@k (`rank_metric.cc:469`): exponential gain 2^rel−1, discount
    * 1/log2(1+pos); mean over groups (groups with zero ideal DCG score 0,
    * matching `ndcg_exp_gain` semantics). `tie` makes ordering deterministic. */
  def ndcgAt(df: DataFrame, qid: Column, pred: Column, label: Column, tie: Column,
      k: Int, expGain: Boolean = true): DataFrame = {
    def gain(l: Column): Column = if (expGain) pow(lit(2.0), l) - lit(1.0) else l
    // both windows cluster on q → ONE exchange, two in-partition sorts;
    // dcg and idcg then come out of a single groupBy (no second shuffle,
    // no self-join)
    val rw = rankedWindow(col("q"), col("p"), col("t"))
    val iw = Window.partitionBy(col("q")).orderBy(col("y").desc, col("t").asc)
    df.select(qid.as("q"), pred.as("p"), label.as("y"), tie.as("t"))
      .withColumn("rk", row_number().over(rw))
      .withColumn("irk", row_number().over(iw))
      .groupBy("q").agg(
        sum(when(col("rk") <= k, gain(col("y")) / log2(col("rk") + lit(1.0)))
          .otherwise(0.0)).as("dcg"),
        sum(when(col("irk") <= k, gain(col("y")) / log2(col("irk") + lit(1.0)))
          .otherwise(0.0)).as("idcg"))
      .select(col("q"), when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(0.0).as("ndcg"))
      .agg(avg("ndcg").as("ndcg"), count("*").as("num_groups"))
  }

  /** precision@k (`rank_metric.cc:461`). */
  def precisionAt(df: DataFrame, qid: Column, pred: Column, label: Column, tie: Column,
      k: Int): DataFrame = {
    val rw = rankedWindow(col("q"), col("p"), col("t"))
    // denominator is min(k, group size) — `rank_metric.cc:315`
    // `n = std::min(TopK, g_label.Size())`, so bare "pre" (k = max) is
    // hits/|group|
    df.select(qid.as("q"), pred.as("p"), label.as("y"), tie.as("t"))
      .withColumn("rk", row_number().over(rw))
      .groupBy("q").agg(
        (sum(when(col("y") > 0 && col("rk") <= k, 1.0).otherwise(0.0)) /
          least(lit(k), count(lit(1)))).as("prec"))
      .agg(avg("prec").as("precision"), count("*").as("num_groups"))
  }

  /** map@k (`rank_metric.cc:465`): mean average precision, binary relevance. */
  def mapAt(df: DataFrame, qid: Column, pred: Column, label: Column, tie: Column,
      k: Int): DataFrame = {
    val rw = rankedWindow(col("q"), col("p"), col("t"))
    // the cumulative relevant-count at a relevant row equals its
    // row_number within the (q, relevant) slice under the SAME ordering —
    // two row_number windows (streaming fast path) instead of a running
    // sum frame (per-row aggregate-frame update, ~8× slower in WindowExec);
    // hashpartitioning(q) satisfies the (q, rel) clustering, so the second
    // window adds a sort but NO exchange. Filtering rk<=k first is safe:
    // ranks within the slice are unchanged by dropping later rows.
    val base = df.select(qid.as("q"), pred.as("p"), label.as("y"), tie.as("t"))
      .withColumn("rk", row_number().over(rw))
      .where(col("rk") <= k)
      .withColumn("relRank", row_number().over(
        Window.partitionBy(col("q"), col("y") > 0).orderBy(col("p").desc, col("t").asc)))
    val perQ = base
      .groupBy("q")
      .agg(sum(when(col("y") > 0, col("relRank").cast("double") / col("rk"))
          .otherwise(0.0)).as("apNum"),
        sum(when(col("y") > 0, 1.0).otherwise(0.0)).as("nrel"))
      .select(col("q"), when(col("nrel") > 0, col("apNum") / col("nrel")).otherwise(0.0).as("ap"))
    perQ.agg(avg("ap").as("map"), count("*").as("num_groups"))
  }

  // ---- survival ------------------------------------------------------------

  /** cox negative MEAN partial log-likelihood per event (`rank_metric.cc:204`
    * EvalCox): risk-set cumulative sums over |label| order; label<0 =
    * censored. Breslow tie handling: rows with equal |label| share one risk
    * set (value-based, deterministic). Scale shape: pre-aggregate per
    * distinct |label| (shuffle, parallel), then the risk-set sweep runs via
    * [[graft.data.DistributedCumsum]] — no unpartitioned window, no
    * single-task sort. Normalized by the event count so the magnitude is
    * O(log n) and engine-portable under rounding. */
  def coxNloglik(df: DataFrame, pred: Column, label: Column): DataFrame = {
    val byV = df.select(pred.as("p"), label.as("y"))
      .groupBy(abs(col("y")).as("av"))
      .agg(sum(exp(col("p"))).as("se"),
        sum(when(col("y") > 0, col("p")).otherwise(0.0)).as("sp"),
        sum(when(col("y") > 0, 1.0).otherwise(0.0)).as("ne"))
    val c = graft.data.DistributedCumsum.cumsum(byV, "av", descending = true, Seq("se"))
    c.agg((-sum(col("sp") - col("ne") * log(col("cum_se"))) /
      sum(col("ne"))).as("cox_nloglik"))
  }

  /** erf as a Column expression — Abramowitz–Stegun 7.1.26, the SAME
    * closed form as [[graft.objective.AFT.erf]] (|err| < 1.5e-7), so the
    * executors, the driver-side objective, and a SQL oracle emitting the
    * identical polynomial all agree under rounding. Pure arithmetic ⇒
    * whole-stage codegen. */
  private def erfCol(x: Column): Column = {
    val s = when(x < 0, -1.0).otherwise(1.0)
    val a = abs(x)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * a)
    val y = lit(1.0) - (((((lit(1.061405429) * t - lit(1.453152027)) * t) +
      lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t * exp(-a * a)
    s * y
  }

  /** aft-nloglik (`src/metric/survival_metric.cu:250`) for all three error
    * distributions (`src/common/probability_distribution.h:31-120`; the
    * reference DEFAULT `aft_loss_distribution` is "normal",
    * `survival_util.h`): interval labels [lower, upper]; sigma = the
    * distribution scale; pred is the raw margin (log time). Normal uses
    * the A&S erf closed form (Spark has no erf builtin). One aggregation,
    * all map-side arithmetic. */
  def aftNloglik(df: DataFrame, pred: Column, lower: Column, upper: Column,
      sigma: Double, dist: String = "normal"): DataFrame = {
    require(Set("normal", "logistic", "extreme")(dist), s"unknown AFT distribution: $dist")
    val eps = lit(1e-12)
    def cdf(z: Column): Column = dist match {
      case "normal"   => lit(0.5) * (lit(1.0) + erfCol(z / math.sqrt(2.0)))
      case "logistic" => lit(1.0) / (lit(1.0) + exp(-z))
      case "extreme"  => lit(1.0) - exp(-exp(z))
    }
    def pdf(z: Column): Column = dist match {
      case "normal"   => exp(-z * z / 2) / math.sqrt(2.0 * math.Pi)
      case "logistic" => { val e = exp(-z); e / pow(lit(1.0) + e, 2) }
      case "extreme"  => exp(z) * exp(-exp(z))
    }
    val zl = (log(col("lo")) - col("p")) / sigma
    val zu = (log(col("hi")) - col("p")) / sigma
    val like =
      when(col("lo") === col("hi"), pdf(zl) / (lit(sigma) * col("lo"))) // uncensored
        .when(col("hi").isNull || col("hi") === Double.PositiveInfinity,
          lit(1.0) - cdf(zl)) // right-censored
        .otherwise(cdf(zu) - cdf(zl)) // interval
    df.select(pred.as("p"), lower.as("lo"), upper.as("hi"))
      .agg(avg(-log(greatest(like, eps))).as("aft_nloglik"))
  }

  /** back-compat alias (pre-r7 name; logistic was the only distribution). */
  def aftNloglikLogistic(df: DataFrame, pred: Column, lower: Column, upper: Column,
      sigma: Double): DataFrame = aftNloglik(df, pred, lower, upper, sigma, "logistic")

  /** interval-regression-accuracy (`survival_metric.cu:254`): fraction of
    * rows whose predicted log-time falls in [log lo, log hi]. */
  def intervalAccuracy(df: DataFrame, pred: Column, lower: Column, upper: Column): DataFrame =
    df.select(pred.as("p"), lower.as("lo"), upper.as("hi"))
      .agg(avg(when(col("p") >= log(col("lo")) &&
        (col("hi").isNull || col("p") <= log(col("hi"))), 1.0).otherwise(0.0))
        .as("interval_accuracy"))

  // ---- the registry --------------------------------------------------------

  /** The one table from metric name to kernel (the reference's
    * `Metric::Create`, `src/metric/metric.cc`): standalone evaluation and
    * the boosting watch both evaluate through it. What each name reads:
    *  - elementwise names read `pred`, the prediction after the
    *    objective's transform;
    *  - sweep (auc, aucpr, ams@r), ranking (ndcg, map, pre, bare or @k)
    *    and survival names read `margin`, the raw margin, when given, else
    *    `pred`;
    *  - with `probs` (a multiclass model's class probabilities) only
    *    merror, mlogloss and the one-vs-rest auc are defined.
    * Ranking names group rows by `qid` (one group when absent) and break
    * score ties by `tie` (default: the score); `auc` is the per-group
    * ranking AUC only when `qid` is given. `upper` is the survival
    * interval's upper bound (null = right-censored; default `label`). The
    * remaining parameters are the reference's metric parameters at its
    * defaults: `huber_slope` (mphe), `quantile_alpha` (bare quantile),
    * `tweedie_variance_power` (bare tweedie-nloglik), the AFT distribution
    * and scale, and `ndcg_exp_gain`. Unknown names raise. */
  def evaluate(name: String, df: DataFrame, pred: Column, label: Column,
      w: Column, qid: Option[Column] = None, probs: Option[Column] = None,
      tie: Option[Column] = None, margin: Option[Column] = None,
      upper: Option[Column] = None, pseudoHuberSlope: Double = 1.0,
      quantileAlpha: Double = 0.5, tweedieVariancePower: Double = 1.5,
      aftDistribution: String = "normal", aftScale: Double = 1.0,
      ndcgExpGain: Boolean = true): Double = {
    require(probs.isEmpty || Set("merror", "mlogloss", "auc")(name),
      s"$name is not defined for multiclass predictions (supported: merror, mlogloss, auc)")
    val raw = margin.getOrElse(pred)
    val q = qid.getOrElse(lit(0L))
    val t = tie.getOrElse(raw)
    // "<family>" or "<family>@<arg>"; the bare name takes `default`
    def in(family: String): Boolean = name == family || name.startsWith(family + "@")
    def arg(family: String, default: Double): Double =
      if (name == family) default else name.stripPrefix(family + "@").toDouble
    def topK(family: String): Int =
      if (name == family) Int.MaxValue else name.stripPrefix(family + "@").toInt
    def agg(c: Column): DataFrame = df.agg(c.cast("double"))
    val out = name match {
      case "auc" if probs.isDefined => aucMulticlass(df, probs.get, label, w)
      case "auc" if qid.isDefined => aucRanking(df, q, raw, label)
      case "auc" => aucBinary(df, raw, label, w)
      case "aucpr" => aucPR(df, raw, label, w)
      case n if n.startsWith("ams@") => amsAt(df, raw, label, w, arg("ams", 0.0))
      case _ if in("ndcg") => ndcgAt(df, q, raw, label, t, topK("ndcg"), ndcgExpGain)
      case _ if in("map") => mapAt(df, q, raw, label, t, topK("map"))
      case _ if in("pre") => precisionAt(df, q, raw, label, t, topK("pre"))
      case "cox-nloglik" => coxNloglik(df, raw, label)
      case "aft-nloglik" =>
        aftNloglik(df, raw, label, upper.getOrElse(label), aftScale, aftDistribution)
      case "interval-regression-accuracy" =>
        intervalAccuracy(df, raw, label, upper.getOrElse(label))
      case "merror" => agg(merror(probs.fold(pred)(p => array_position(p, array_max(p)) - 1), label, w))
      case "mlogloss" =>
        require(probs.isDefined, "mlogloss needs the class probabilities (probs)")
        agg(mlogloss(probs.get, label, w))
      case "rmse" => agg(rmse(pred, label, w))
      case "rmsle" => agg(rmsle(pred, label, w))
      case "mae" => agg(mae(pred, label, w))
      case "mape" => agg(mape(pred, label, w))
      case "logloss" => agg(logloss(pred, label, w))
      case "mphe" => agg(mphe(pred, label, w, pseudoHuberSlope))
      case _ if in("error") => agg(errorAt(pred, label, w, arg("error", 0.5)))
      case n if n.startsWith("expectile@") => agg(expectileLoss(pred, label, w, arg("expectile", 0.0)))
      case "poisson-nloglik" => agg(poissonNloglik(pred, label, w))
      case "gamma-deviance" => agg(gammaDeviance(pred, label, w))
      case "gamma-nloglik" => agg(gammaNloglik(pred, label, w))
      case _ if in("quantile") => agg(pinball(pred, label, w, arg("quantile", quantileAlpha)))
      case _ if in("tweedie-nloglik") =>
        agg(tweedieNloglik(pred, label, w, arg("tweedie-nloglik", tweedieVariancePower)))
      case other => throw new IllegalArgumentException(s"unknown metric: $other (supported: " +
        "rmse, rmsle, mae, mape, logloss, mphe, error[@t], expectile@tau, poisson-nloglik, " +
        "gamma-nloglik, gamma-deviance, tweedie-nloglik[@rho], quantile[@alpha], merror, " +
        "mlogloss, auc, aucpr, ams@r, ndcg[@k], map[@k], pre[@k], cox-nloglik, aft-nloglik, " +
        "interval-regression-accuracy)")
    }
    // every kernel aggregates to one row; collect skips the limit a head() plans
    val r = out.collect()(0)
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }
}
