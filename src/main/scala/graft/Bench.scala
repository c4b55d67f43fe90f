package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Length bound of the compact last stdout line. The driver keeps a
    * 2000-char tail of sbt's stdout, and sbt adds an `[info] ` prefix and
    * a `[success] Total time …` trailer (~80 chars) around the line. */
  val CompactLineChars = 1700

  /** The full stdout line: every row's time, the failed rows and the
    * isolated re-runs. */
  def fullLine(total: Double, results: Seq[(String, Double)],
      isolated: Seq[(String, Double)], sfDir: String): String = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, v) if v < 0.0 => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val iso = isolated.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"isolated":$iso,"sf":"$sfDir","note":"noop-sink full-plan eval; sub-3s rows = median of 3; -1.0 = FAILED (names in errors); isolated = fresh-JVM WARMED re-run of the heaviest rows (warm once, report second run; codegen+JIT excluded): engine regression iff slow there too, else full-run JVM-state noise"}"""
  }

  /** The compact last stdout line: the total, the row and failure
    * counts, and a `queries` map of as many rows as fit
    * [[CompactLineChars]] — failed rows (-1.0) first, then the slowest,
    * times rounded to the millisecond. The full per-query line and
    * `bench_out.json` carry every row. */
  def compactLine(total: Double, results: Seq[(String, Double)],
      sfDir: String, outPath: String): String = {
    def line(qs: Seq[String]) =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"n_err":${results.count(_._2 < 0.0)},"queries":${qs.mkString("{", ",", "}")},"sf":"$sfDir","full_json":"$outPath"}"""
    val ranked = results.filter(_._2 < 0.0).sortBy(_._1) ++
      results.filter(_._2 >= 0.0).sortBy { case (k, v) => (-v, k) }
    val entries = ranked.map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0.0) "-1.0" else "%.3f".formatLocal(java.util.Locale.ROOT, v)) }
    val room = CompactLineChars - line(Nil).length
    val fit = entries.scanLeft(0)(_ + _.length + 1).drop(1)
      .takeWhile(_ - 1 <= room).size
    line(entries.take(fit))
  }

  /** The `queries` map of the first line in `out` that has one — the
    * full per-query line Bench prints first. Later lines (the compact
    * line's rounded subset) are not read. */
  def fullQueryTimes(out: String): Seq[(String, Double)] =
    out.linesIterator.find(_.contains("\"queries\"")).toSeq.flatMap { l =>
      val from = l.indexOf("{", l.indexOf("\"queries\""))
      val map = l.substring(from, l.indexOf("}", from))
      """"([A-Za-z0-9_]+)":(-?[0-9.]+(?:E-?[0-9]+)?)""".r.findAllMatchIn(map)
        .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_CONF="k=v;k2=v2": extra SQL confs (local profiling aid)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_DEBUG=1: print slow stages / scheduling gaps to stderr
    // (diagnosing intermittent stalls without touching the output contract)
    if (sys.env.contains("SPARK_GRAFT_DEBUG")) {
      import org.apache.spark.scheduler._
      // SPARK_GRAFT_DEBUG=<ms> sets the slow-stage threshold (default 2000)
      val thresholdMs = sys.env("SPARK_GRAFT_DEBUG").toLongOption.filter(_ > 0).getOrElse(2000L)
      val lastEnd = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val info = sc.stageInfo
          val dur = for { s <- info.submissionTime; c <- info.completionTime } yield c - s
          val gap = (System.nanoTime() - lastEnd.getAndSet(System.nanoTime())) / 1e9
          if (dur.exists(_ > thresholdMs) || gap > 3.0) {
            val m = info.taskMetrics
            System.err.println(f"[graft-debug] stage ${info.stageId}%4d tasks=${info.numTasks}%3d dur=${dur.getOrElse(-1L)}%6dms gap=$gap%6.1fs run=${m.executorRunTime}%5dms gc=${m.jvmGCTime}%4dms deser=${m.executorDeserializeTime}%4dms ${info.name.take(100)}")
          }
        }
      })
    }
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (local profiling aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // set only by the isolated-fork parent: warm-once-time-second policy
    val isoChild = sys.env.contains("SPARK_GRAFT_ISO_CHILD")
    // SPARK_GRAFT_FAIL_INJECT=name makes that query throw — exercises the
    // loud-failure path end-to-end (sentinel time + errors key) on demand
    val failInject = sys.env.get("SPARK_GRAFT_FAIL_INJECT")
    // deterministic name order: hash-map order shifts when the query set
    // changes, which silently reshuffles who pays JIT warm-up round-to-round
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.forall(_.contains(k)) }
    // JVM/codegen warm-up outside the timed region so the first query's
    // number measures the query, not classloading + codegen bootstrap.
    // The trainer loops are warmed on a tiny in-memory set for the same
    // reason: C2 compilation of the histogram/λ-gradient kernels costs
    // seconds of interpreted execution on first touch, which is a JVM
    // cold-start artifact, not a property of the operators under test —
    // steady-state throughput is what a long-running cluster job sees.
    spark.range(1000).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    locally {
      import graft.tree.{GBTTrainer, TrainParams}
      val rnd = new java.util.Random(1)
      val tiny = spark.sparkContext.parallelize(
        (0 until 4000).map { i =>
          (Array.fill(4)(rnd.nextDouble() * 50), (i % 4).toDouble, 1.0, (i % 37).toLong)
        }, 8).cache()
      val dense = tiny.map(r => (r._1, r._2, r._3))
      new GBTTrainer(TrainParams(numRounds = 3, maxDepth = 3, maxBin = 32)).fit(dense)
      new GBTTrainer(TrainParams(objective = "binary:logistic", numRounds = 2,
        maxDepth = 3, maxBin = 32)).fit(dense.map(r => (r._1, (r._2 % 2), r._3)))
      new GBTTrainer(TrainParams(objective = "rank:ndcg", numRounds = 3,
        maxDepth = 3, maxBin = 32)).fitRanking(tiny)
      tiny.unpersist(blocking = true)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc(); Thread.sleep(300)
    }
    val results = selected.map { case (name, fn) =>
      // noop sink, NOT count(): count() lets Catalyst prune unreferenced
      // aggregate expressions — and with them entire window/sort/join
      // subtrees — so filter-free queries would time a hollowed-out plan.
      // The noop write evaluates every output column of the real plan
      // without driver-side result transfer.
      // A failed query must be LOUD: swallowing the exception would let a
      // broken bench-only row (t_train_*, no oracle) keep "passing" with a
      // plausible-looking time. Print the failure and return the -1.0
      // sentinel, which flows into the JSON (negative time + an "errors"
      // key) so the driver can see it.
      def run(): Double = {
        val t0 = System.nanoTime()
        try {
          if (failInject.contains(name))
            throw new IllegalStateException("SPARK_GRAFT_FAIL_INJECT test failure")
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[graft-bench] FAILED $name: " +
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
            -1.0
        }
      }
      // drop any cached plans/RDD blocks a query execution left behind so
      // later timings measure the query, not accumulated state
      def drain(fullGc: Boolean): Unit = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        if (fullGc) {
          // two gc+drain cycles: the first GC enqueues ContextCleaner work
          // for every shuffle/broadcast the query leaked, the sleep lets the
          // cleaner drain OUTSIDE the next query's timed region (otherwise
          // the cleanup storm lands mid-query as a spurious stall)
          System.gc(); Thread.sleep(1500)
          System.gc(); Thread.sleep(500)
        } else { System.gc(); Thread.sleep(200) }
      }
      // Repetition policy: a single-shot number for a sub-second query is
      // dominated by one-time codegen compilation of that query's generated
      // class (measured: p_token_stats 1.7 s cold vs 0.5 s steady-state) —
      // a JVM artifact a long-running cluster job amortizes to zero. So
      // short queries (< 3 s first run) report the MEDIAN OF 3 executions;
      // long queries — internally multi-job trainer/miner loops, warm by
      // construction — stay single-shot to keep the round's bench bounded.
      // stderr marker so SPARK_GRAFT_DEBUG stage lines attribute to a query
      if (sys.env.contains("SPARK_GRAFT_DEBUG"))
        System.err.println(s"[graft-bench] >>> $name")
      val first = run()
      val dt =
        if (first < 0.0) first // failure sentinel — no point re-running
        else if (isoChild) {
          // Isolated-fork child: the WHOLE point of the fork is separating
          // an engine regression from JVM-state contamination, and a
          // single-shot number in a fresh JVM bakes one-time codegen+JIT
          // warmup into exactly the rows under suspicion (measured three
          // rounds running: p_cluster_keep_best 22.9 s cold-single-shot vs
          // 9.1 s steady-state). Warm once, report the second run — the
          // number a long-lived cluster job actually sees.
          drain(fullGc = false); val second = run()
          if (second < 0.0) -1.0 else second
        }
        else if (first < 3.0) {
          drain(fullGc = false); val second = run()
          drain(fullGc = false); val third = run()
          // a flaky query must not hide behind the median: any failed
          // repeat poisons the row (else sorted()(1) can pick a valid
          // time and the failure is visible only on stderr)
          if (second < 0.0 || third < 0.0) -1.0
          else Array(first, second, third).sorted.apply(1)
        } else first
      drain(fullGc = true)
      name -> dt
    }
    // Variance ledger: the heaviest single-shot rows are the ones JVM-state
    // accumulation across a 135-query run can inflate (measured r9:
    // p_span_dedup 7.8 s full-run vs 1.8 s isolated, same harness). Re-run
    // them in a FRESH child JVM so the artifact itself distinguishes an
    // engine regression (slow in isolation too) from harness contamination
    // (fast in isolation) without anyone re-running the bench by hand.
    val isoMin = sys.env.get("SPARK_GRAFT_ISOLATE_MIN")
      .flatMap(_.toDoubleOption).getOrElse(3.0)
    val flagged = results.filter(_._2 >= isoMin).sortBy(-_._2).take(6).map(_._1)
    val isolated: Seq[(String, Double)] =
      if (flagged.isEmpty || only.isDefined ||
          sys.env.contains("SPARK_GRAFT_NO_ISOLATED")) Seq.empty
      else try {
        import scala.jdk.CollectionConverters._
        val jvm = new java.io.File(new java.io.File(
          System.getProperty("java.home"), "bin"), "java").getAbsolutePath
        val rtArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toSeq
          .filterNot(a => a.startsWith("-Xlog") || a.startsWith("-agentlib"))
        val cmd = (Seq(jvm) ++ rtArgs ++
          Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_ONLY", flagged.mkString(","))
        pb.environment().put("SPARK_GRAFT_NO_ISOLATED", "1")
        pb.environment().put("SPARK_GRAFT_ISO_CHILD", "1")
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        pb.redirectErrorStream(false)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        val outJson = scala.io.Source.fromInputStream(proc.getInputStream).mkString
        val rc = proc.waitFor()
        if (rc != 0) System.err.println(s"[graft-bench] isolated re-run rc=$rc")
        fullQueryTimes(outJson).filter { case (k, _) => flagged.contains(k) }
      } catch {
        case e: Throwable =>
          System.err.println(s"[graft-bench] isolated re-run failed: " +
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}")
          Seq.empty
      }
    val total = results.map(_._2).filter(_ >= 0.0).sum
    val fullJson = fullLine(total, results, isolated, sfDir)
    println(fullJson)
    // Measurement-signal restore (r19 verdict "What's wrong" #1): the full
    // line above is ~10 KB, the driver stores only a 2000-char tail of the
    // sbt-wrapped stdout, and sbt's "[success] Total time" trailer follows
    // it — so BENCH_r{16..19}.json all carry parsed:null and the driver has
    // had NO per-query perf signal for four rounds. Mitigation the verdict
    // prescribes: persist the full JSON to a file and print a SECOND,
    // compact summary line that fits the tail ([[compactLine]]: total,
    // counts and the failed and slowest rows' times). The full line —
    // the original contract — is unchanged and still printed first.
    // The isolated child reports through its stdout only: writing here
    // would overwrite the parent's file while the parent is still running.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    if (!isoChild) try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), fullJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[graft-bench] bench_out write failed: ${e.getMessage}")
    }
    println(compactLine(total, results, sfDir, outPath))
    spark.stop()
  }
}
