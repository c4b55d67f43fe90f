package graft.tree

/** Per-iteration training callback (the reference's `TrainingCallback`,
  * `python-package/xgboost/callback.py:51-120`): driver-side hooks around
  * each boosting round. `afterIteration` returning true stops training
  * (the protocol `EarlyStopping`/`EvaluationMonitor` use, `callback.py:311,
  * 511`). `evalLog` carries this round's watch metrics when the fit
  * watches — it is given watch sets, or asked for a metric, early stopping
  * or a user metric — and is empty otherwise: a callback alone adds no
  * evaluation to a fit. */
trait TrainingCallback {
  def beforeIteration(iter: Int): Unit = {}
  def afterIteration(iter: Int, evalLog: Map[String, Double]): Boolean = false
  /** Like [[afterIteration]] but with a LAZY builder of the model as of
    * this round (committed trees only) — evaluated only if the callback
    * calls it, so monitoring-only callbacks pay nothing. The checkpoint
    * callback uses this. */
  def afterIterationSnapshot(iter: Int, snapshot: () => graft.model.BoosterModel): Unit = {}
  def afterTraining(bestIteration: Int): Unit = {}
}

/** The reference's stock learning-rate schedule
  * (`python-package/xgboost/callback.py:272` `LearningRateScheduler`):
  * eta for round `iter` comes from a function (or a fixed sequence —
  * clamped at its last value, like the reference's list form errors past
  * the end only when rounds exceed the list; we take the safer clamp).
  * The trainer reads the schedule each round and commits the round's
  * trees at that weight (eta lives in tree weights here, so a schedule
  * composes with DART renormalization unchanged). Applies to the gbtree /
  * dart boosters ([[GBTTrainer]]). */
class LearningRateScheduler(schedule: Int => Double) extends TrainingCallback {
  /** eta to use for round `iter`. */
  def etaFor(iter: Int): Double = {
    val e = schedule(iter)
    require(e > 0, s"scheduled learning rate must be positive, got $e at round $iter")
    e
  }
}
object LearningRateScheduler {
  def apply(f: Int => Double): LearningRateScheduler = new LearningRateScheduler(f)
  def apply(rates: Seq[Double]): LearningRateScheduler = {
    require(rates.nonEmpty, "learning-rate sequence must be non-empty")
    new LearningRateScheduler(i => rates(math.min(i, rates.length - 1)))
  }
}

/** The reference's stock per-round metric printer
  * (`callback.py:511` `EvaluationMonitor(period, show_stdv)`): logs the
  * watch metrics every `period` rounds in the reference's line format
  * (`[iter]\twatch-metric:value...`), and — like the reference — replays
  * the final round's line in `afterTraining` if the period skipped it.
  * `logger` defaults to stderr; inject a sink for tests. */
class EvaluationMonitor(period: Int = 1, logger: String => Unit = Console.err.println)
    extends TrainingCallback {
  require(period > 0, s"period must be positive, got $period")
  private var lastLine: String = null
  private var lastPrinted = true
  override def afterIteration(iter: Int, evalLog: Map[String, Double]): Boolean = {
    if (evalLog.nonEmpty) {
      lastLine = s"[$iter]" +
        evalLog.toSeq.map { case (k, v) => "\t%s:%.5f".format(k, v) }.mkString
      lastPrinted = iter % period == 0
      if (lastPrinted) logger(lastLine)
    }
    false
  }
  override def afterTraining(bestIteration: Int): Unit =
    if (lastLine != null && !lastPrinted) logger(lastLine)
}

/** The reference's stock checkpointer (`callback.py:586`
  * `TrainingCheckPoint(directory, name, interval)`): every `interval`
  * rounds, the model as of that round is written to
  * `dir/<name>_<iter>.json` (the engine's native JSON carrier — reload
  * with `BoosterModel.fromJson`). Driver-side IO over the lazy snapshot
  * hook, so no extra cluster work beyond assembling committed trees. */
class CheckpointCallback(dir: String, name: String = "model", interval: Int = 5)
    extends TrainingCallback {
  require(interval > 0, s"interval must be positive, got $interval")
  override def afterIterationSnapshot(iter: Int,
      snapshot: () => graft.model.BoosterModel): Unit =
    if ((iter + 1) % interval == 0) {
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.writeString(
        p.resolve(s"${name}_$iter.json"), snapshot().toJson)
    }
}

/** Distributed custom eval metric (the reference's `custom_metric`,
  * `python-package/xgboost/training.py:53`, JVM `runtimeParams.eval`):
  * per-row (numerator, denominator) contributions are summed across the
  * cluster — the partial+final shape every built-in metric uses — and
  * `finish` turns the two sums into the metric value. */
trait CustomEvalMetric extends Serializable {
  def name: String
  /** (num, den) contribution of one row at the current raw margin. */
  def contribution(margin: Double, label: Double, weight: Double): (Double, Double)
  def finish(num: Double, den: Double): Double = num / den
  /** true ⇒ larger is better (early stopping direction). */
  def maximize: Boolean = false
}
