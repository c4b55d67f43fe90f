package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload as a closed loop: one client in one process makes one
  * call after another at local[4]. Usage:
  * {{{
  * Main --workload <train_wide|train_rank|crawl_gate> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir>
  * Main --selfcheck 1 --work <dir>
  * }}}
  * It sets up three times, warms up once, then repeats cycles for at least
  * --seconds and at least the workload's `minCycles`. With --trace 0 it times the
  * user-level calls; with --trace 1 it alternates those cycles with traced
  * ones and reports per-layer figures.
  * The last stdout line is the result JSON. PERFBENCH_FAULT=<call name>
  * makes the first invocation of that call throw. */
object Main {
  val Cores = 4
  val SetupRepeats = 3
  val Workloads = Seq("train_wide", "train_rank", "crawl_gate")

  /** Every per-layer metric with its unit. A workload reports those on its
    * path; a layer the workload never calls reads 0. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "data.sketch_s" -> "s", "data.sketch_result_mb" -> "MB", "data.bin_s" -> "s",
    "data.bin_cache_mb" -> "MB", "data.sketch_rank_err" -> "ratio",
    "tree.boost_s" -> "s", "tree.round_s" -> "s", "tree.round_jobs" -> "count",
    "tree.round_task_s" -> "s", "tree.round_slot_util" -> "ratio",
    "tree.round_driver_gap_s" -> "s", "tree.round_result_mb" -> "MB",
    "tree.round_shuffle_mb" -> "MB", "objective.grad_pass_s" -> "s",
    "predict.score_s" -> "s", "predict.rows_per_s" -> "rows/s", "metric.eval_s" -> "s") ++
    Seq("sig", "gate", "advance", "retire").flatMap(step => Seq(
      s"dedup.${step}_s" -> "s", s"dedup.$step.jobs" -> "count",
      s"dedup.$step.task_s" -> "s", s"dedup.$step.shuffle_mb" -> "MB")) ++
    Seq("dedup.snapshot_mb" -> "MB", "dedup.kept_ratio" -> "ratio", "trace.overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    if (opts.contains("selfcheck")) {
      val code = SelfCheck.run(work)
      if (opts.contains("exercise")) exercise(work)
      sys.exit(code)
    }
    val name = opts("workload")
    require(Workloads.contains(name), s"unknown workload $name; one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"

    val t0 = System.nanoTime()
    val spark = session(work, Cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(spark.sparkContext, sys.env.get("PERFBENCH_FAULT").filter(_.nonEmpty))
    if (trace) SpanCounters.setup(spark.sparkContext)
    val dir = work.resolve(name)
    val w = workload(name, spark, rec, dir, seed)
    val setupS = (1 to SetupRepeats).map { _ =>
      val s0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmUpS = (System.nanoTime() - w0) / 1e9

    // the measured loop; a trace run alternates plain and traced cycles
    val plainCycleS, tracedCycleS = new scala.collection.mutable.ArrayBuffer[Double]
    var cycles = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || cycles < w.minCycles) {
      System.gc()
      val traced = trace && cycles % 2 == 1
      cycles += 1
      rec.tracing = traced
      rec.run += 1
      val first = rec.spans.length
      val c0 = System.nanoTime()
      val ok = rec.cycle { if (traced) w.tracedCycle() else w.plainCycle() }
      val cycleS = (System.nanoTime() - c0) / 1e9
      rec.tracing = false
      // a traced cycle's total is the time inside its top-level layer calls
      if (ok && traced) tracedCycleS += rec.spans.drop(first).filter(_.parent == 0L).map(_.seconds).sum
      else if (ok) plainCycleS += cycleS
      System.err.println(s"perfbench: cycle $cycles ${if (traced) "traced" else "plain"} ok=$ok " +
        s"wall_s=$cycleS fit_s=${w.fitS.lastOption.getOrElse(0.0)} score_s=${w.scoreS.lastOption.getOrElse(0.0)}")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", sessionS + Stats.median(setupS) + warmUpS, "s"),
        ("fit_s", Stats.median(w.fitS), "s"),
        ("score_s", Stats.median(w.scoreS), "s"),
        ("quality", Stats.median(w.qualities), "ratio"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else {
        SpanCounters.drain(spark.sparkContext)
        rec.writeJsonl(work.resolve("traces").resolve(s"$name-seed$seed.jsonl"))
        val own = w.perLayer(Cores) :+
          (("trace.overhead_s", Stats.median(tracedCycleS) - Stats.median(plainCycleS), "s"))
        require(own.forall(m => LayerMetrics.contains(m._1 -> m._3)), "undeclared per-layer metric")
        LayerMetrics.map { case (name, unit) =>
          (name, own.find(_._1 == name).map(_._2).getOrElse(0.0), unit)
        }
      }
    // a figure that could not be measured is a failure, not a number
    metrics.filter(_._2.isNaN).foreach { case (k, _, _) => rec.check(s"measured_$k", ok = false, "no value") }
    val failed = rec.failed
    val reported =
      if (trace) metrics else metrics :+ (("ok_rate", 1.0 - failed.toDouble / rec.attempted, "ratio"))

    (w.summary ++ Seq(("error_rate", failed.toDouble / rec.attempted, "ratio"),
      ("session_s", sessionS, "s"), ("setup_runs_s", Stats.median(setupS), "s"),
      ("warm_up_s", warmUpS, "s"))).foreach { case (k, v, u) =>
      println(s"perfbench: $name $k = $v $u")
    }
    spark.stop()
    println(resultLine(failed == 0, rec.attempted, failed, reported))
    sys.exit(0)
  }

  /** Runs each workload's set-up and one plain cycle, unmeasured: the
    * build does this once so the JVM can archive the classes they load. */
  def exercise(work: Path): Unit = {
    val spark = session(work, Cores)
    val rec = new Recorder(spark.sparkContext, None)
    Workloads.foreach { name =>
      val w = workload(name, spark, rec, work.resolve(name), 1L)
      w.setup()
      w.plainCycle()
    }
    spark.stop()
  }

  def workload(name: String, spark: SparkSession, rec: Recorder, dir: Path, seed: Long): Workload =
    name match {
      case "train_wide" => new Train(spark, rec, dir, seed, ranking = false)
      case "train_rank" => new Train(spark, rec, dir, seed, ranking = true)
      case "crawl_gate" => new CrawlGate(spark, rec, dir, seed)
    }

  def session(work: Path, cores: Int): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    spark
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val body = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }
}
