package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.metric.Metrics

/** Oracle-checkable queries over the driver testdata. Every query here has a
  * DuckDB-equivalent SQL in `oracle`; results are explicitly rounded on BOTH
  * sides so double-precision aggregation-order differences between engines
  * cannot flip the hash compare. Column names are aligned between the Spark
  * plan and the SQL (the driver sorts columns by name before hashing).
  */
object CoreQueries {

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** [[table]] plus a scale-ADAPTIVE parallelism restore for CPU-heavy
    * consumers (optimization guide §2.5 "input skew" / §1.2 step 1): the
    * testdata parquet is one row group per file, so the scan — and every
    * narrow stage downstream, which for the text pipeline is where the
    * regex/md5/shingle CPU lives — runs as ONE task no matter how many
    * cores the session has (a row group is the parquet split floor;
    * `minPartitionNum` cannot cut inside it). When the scan yields fewer
    * partitions than the session's default parallelism, hash-repartition
    * on the table's unique key: deterministic under task retry (the
    * guide's §2.5 rand()-repartition hazard — a hash of a stored column
    * reproduces on re-run; round-robin would also pay a per-partition
    * sort), evenly spread (unique key, so 20-100x more distinct values
    * than partitions), and ~50 ms for the row counts where it matters.
    * At production scale a 100 TB table scans as thousands of splits and
    * this is a NO-OP — nothing here is tuned to local[32]; the driver's
    * lower-core bench run adapts the same way via defaultParallelism.
    *
    * NOT used by the trainer rows: their pinned t_hash_* digests depend
    * on the quantile-sketch merge topology, which partitioning changes —
    * results there must stay bit-identical (see TrainQueries scaladoc).
    */
  def spreadTable(s: SparkSession, dir: String, name: String,
      key: String): DataFrame = {
    val df = table(s, dir, name)
    val target = s.sparkContext.defaultParallelism
    // The split-count probe (df.rdd.getNumPartitions) forces full physical
    // planning + an RDD conversion of the scan; docTable/embTable route
    // ~110 call sites through here and the probe runs INSIDE the bench's
    // timed region, so each query build paid it per base-table read.
    // The split count is a function of the files, the parallelism and
    // the session's split-size confs, so all of those key the JVM-lifetime
    // cache. ASSUMPTION: the table's files do not change while the JVM
    // runs (the testdata is written once, before any query); a rewritten
    // table would keep its old, stale split count.
    val splitConfs = Seq("maxPartitionBytes", "openCostInBytes",
      "minPartitionNum").map(k => s.conf.getOption(s"spark.sql.files.$k"))
    val cacheKey = (Seq(s"$dir/$name", target) ++ splitConfs).mkString("@")
    val n = splitCountCache.computeIfAbsent(cacheKey,
      _ => Integer.valueOf(df.rdd.getNumPartitions))
    if (n >= target) df
    else df.repartition(target, col(key))
  }

  private val splitCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Deterministic synthetic prediction/label/weight columns over lineitem —
    * the fixture for metric + gradient queries (FIXTURES.md §1): pred is a
    * scaled quantity in (0,1); binary label from returnflag; count label
    * from linenumber. */
  private def scored(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem").select(
      (col("l_quantity") / 51.0).as("pred"),
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("ylab"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 100000.0).as("yreg"),
      col("l_linenumber").cast("double").as("ycnt"),
      (lit(1.0) + col("l_tax")).as("w"),
      col("l_returnflag"))

  private val scoredSql =
    """SELECT l_quantity / 51.0 AS pred,
      |  CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS ylab,
      |  l_extendedprice * (1.0 - l_discount) / 100000.0 AS yreg,
      |  CAST(l_linenumber AS DOUBLE) AS ycnt,
      |  1.0 + l_tax AS w,
      |  l_returnflag
      |FROM lineitem""".stripMargin

  private def agg1(df: DataFrame, c: Column, name: String, digits: Int): DataFrame =
    df.agg(round(c.cast("double"), digits).as(name))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans + aggregation (§2.1/§2.4) ----
    "q1_agg" -> ((s, dir) => table(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")),

    "q_join_agg" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      // broadcast the small dimension: at 100 TB customer×mktsegment stays
      // tiny relative to orders, and Catalyst picks broadcast-hash join
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(round(sum("o_totalprice"), 2).as("sum_price"), count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // ---- projection/filter + missing-value predicate (§2.2) ----
    "q_filter_cast" -> ((s, dir) => table(s, dir, "lineitem")
      .where(col("l_discount") > 0.05 && !isnan(col("l_quantity")))
      // the sort covers ALL output columns: (orderkey, lineno) alone is not
      // unique in the synthetic data, so the LIMIT cutoff could otherwise
      // pick engine-dependent rows and flip the oracle hash
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("lineno"),
        col("l_quantity").cast("double").as("qty"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy("l_orderkey", "lineno", "qty", "revenue")
      .limit(1000)),

    "q_label_validate" -> ((s, dir) => scored(s, dir)
      .agg(
        sum(when(col("ylab") < 0 || col("ylab") > 1, 1L).otherwise(0L)).as("bad_binary"),
        sum(when(col("w") < 0, 1L).otherwise(0L)).as("bad_weight"),
        count(lit(1)).as("n"))),

    // ---- categorical dictionary + recode (§2.3 Recode, §2.7 category
    // union): one collect_set pass builds the sorted-order dictionaries,
    // recode is a broadcast literal-map lookup; DuckDB reproduces codes
    // with dense_rank over distinct values ----
    "q_cat_recode" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val dict = graft.data.CategoryEncoder.fit(li, Seq("l_returnflag", "l_linestatus"))
      dict.transform(li)
        .groupBy("l_returnflag_code", "l_linestatus_code")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag_code", "l_linestatus_code")
    }),

    // ---- batch append / union (§2.7; ref SparsePage::Push appending
    // ingest batches, include/xgboost/data.h:410): two batch slices are
    // re-appended with union — Spark's union is a zero-shuffle concat of
    // partition lists, the exact analog of page append ----
    "q_union_append" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val batchA = li.where(col("l_linenumber") <= 3)
      val batchB = li.where(col("l_linenumber") > 3)
      batchA.unionByName(batchB)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // ---- gradient computation as SQL (§2.8) ----
    "grad_squarederror" -> ((s, dir) => scored(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(sum(col("w") * (col("pred") - col("yreg"))), 4).as("sum_g"),
        round(sum(col("w")), 4).as("sum_h"))
      .orderBy("l_returnflag")),

    "grad_logistic" -> ((s, dir) => {
      val p = lit(1.0) / (lit(1.0) + exp(-col("pred")))
      scored(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(sum(col("w") * (p - col("ylab"))), 4).as("sum_g"),
          round(sum(col("w") * p * (lit(1.0) - p)), 4).as("sum_h"))
        .orderBy("l_returnflag")
    }),

    "grad_poisson" -> ((s, dir) => scored(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(sum(col("w") * (exp(col("pred")) - col("ycnt"))), 4).as("sum_g"),
        round(sum(col("w") * exp(col("pred") + lit(0.7))), 4).as("sum_h"))
      .orderBy("l_returnflag")),

    // ---- elementwise metrics (§2.4, elementwise_metric.cu) ----
    "m_rmse" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.rmse(col("pred"), col("yreg"), col("w")), "rmse", 6)),
    "m_mae" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.mae(col("pred"), col("yreg"), col("w")), "mae", 6)),
    "m_mape" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.mape(col("pred"), col("yreg"), col("w")), "mape", 6)),
    "m_rmsle" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.rmsle(col("pred"), col("yreg"), col("w")), "rmsle", 6)),
    "m_logloss" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.logloss(col("pred"), col("ylab"), col("w")), "logloss", 6)),
    "m_error" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.errorAt(col("pred"), col("ylab"), col("w"), 0.5), "error", 6)),
    "m_mphe" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.mphe(col("pred"), col("yreg"), col("w")), "mphe", 6)),
    "m_poisson_nloglik" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.poissonNloglik(col("pred"), col("ycnt"), col("w")), "poisson_nloglik", 6)),
    "m_gamma_deviance" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.gammaDeviance(col("pred"), col("yreg"), col("w")), "gamma_deviance", 6)),
    "m_gamma_nloglik" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.gammaNloglik(col("pred"), col("yreg"), col("w")), "gamma_nloglik", 6)),
    "m_tweedie_nloglik" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.tweedieNloglik(col("pred"), col("ycnt"), col("w"), 1.5), "tweedie_nloglik", 6)),
    "m_pinball" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.pinball(col("pred"), col("yreg"), col("w"), 0.9), "pinball", 6)),
    "m_expectile" -> ((s, dir) => agg1(scored(s, dir),
      Metrics.expectileLoss(col("pred"), col("yreg"), col("w"), 0.3), "expectile", 6))
  )

  private def mSql(expr: String, name: String, digits: Int = 6): String =
    s"SELECT round(CAST(($expr) AS DOUBLE), $digits) AS $name FROM ($scoredSql)"

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_join_agg" ->
      """SELECT c_mktsegment,
        |  round(sum(o_totalprice), 2) AS sum_price, count(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_filter_cast" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS lineno,
        |  CAST(l_quantity AS DOUBLE) AS qty,
        |  round(l_extendedprice * (1.0 - l_discount), 4) AS revenue
        |FROM lineitem WHERE l_discount > 0.05 AND NOT isnan(l_quantity)
        |ORDER BY 1, 2, 3, 4 LIMIT 1000""".stripMargin,

    // the sums are cast to BIGINT explicitly: DuckDB's sum(int) is HUGEINT
    // (int128) which pandas-serializes differently than Spark's int64
    "q_label_validate" ->
      s"""SELECT CAST(sum(CASE WHEN ylab < 0 OR ylab > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_binary,
         |  CAST(sum(CASE WHEN w < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_weight,
         |  count(*) AS n
         |FROM ($scoredSql)""".stripMargin,

    "q_cat_recode" ->
      """WITH rf AS (
        |  SELECT v, CAST(dense_rank() OVER (ORDER BY v) AS INT) - 1 AS c
        |  FROM (SELECT DISTINCT l_returnflag AS v FROM lineitem)
        |), ls AS (
        |  SELECT v, CAST(dense_rank() OVER (ORDER BY v) AS INT) - 1 AS c
        |  FROM (SELECT DISTINCT l_linestatus AS v FROM lineitem)
        |)
        |SELECT rf.c AS l_returnflag_code, ls.c AS l_linestatus_code,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem l
        |JOIN rf ON l.l_returnflag = rf.v
        |JOIN ls ON l.l_linestatus = ls.v
        |GROUP BY 1, 2""".stripMargin,

    "q_union_append" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM (
        |  SELECT * FROM lineitem WHERE l_linenumber <= 3
        |  UNION ALL
        |  SELECT * FROM lineitem WHERE l_linenumber > 3
        |) GROUP BY 1 ORDER BY 1""".stripMargin,

    "grad_squarederror" ->
      s"""SELECT l_returnflag,
         |  round(sum(w * (pred - yreg)), 4) AS sum_g,
         |  round(sum(w), 4) AS sum_h
         |FROM ($scoredSql) GROUP BY 1 ORDER BY 1""".stripMargin,

    "grad_logistic" ->
      s"""SELECT l_returnflag,
         |  round(sum(w * (1.0/(1.0+exp(-pred)) - ylab)), 4) AS sum_g,
         |  round(sum(w * (1.0/(1.0+exp(-pred))) * (1.0 - 1.0/(1.0+exp(-pred)))), 4) AS sum_h
         |FROM ($scoredSql) GROUP BY 1 ORDER BY 1""".stripMargin,

    "grad_poisson" ->
      s"""SELECT l_returnflag,
         |  round(sum(w * (exp(pred) - ycnt)), 4) AS sum_g,
         |  round(sum(w * exp(pred + 0.7)), 4) AS sum_h
         |FROM ($scoredSql) GROUP BY 1 ORDER BY 1""".stripMargin,

    "m_rmse" -> mSql("sqrt(sum(w * (pred - yreg) * (pred - yreg)) / sum(w))", "rmse"),
    "m_mae" -> mSql("sum(w * abs(pred - yreg)) / sum(w)", "mae"),
    "m_mape" -> mSql("sum(w * abs((yreg - pred) / yreg)) / sum(w)", "mape"),
    "m_rmsle" -> mSql(
      "sqrt(sum(w * (ln(1.0 + pred) - ln(1.0 + yreg)) * (ln(1.0 + pred) - ln(1.0 + yreg))) / sum(w))",
      "rmsle"),
    "m_logloss" -> mSql(
      "sum(w * -(ylab * ln(least(greatest(pred, 1e-16), 1.0 - 1e-16)) + " +
        "(1.0 - ylab) * ln(1.0 - least(greatest(pred, 1e-16), 1.0 - 1e-16)))) / sum(w)",
      "logloss"),
    "m_error" -> mSql(
      "sum(w * CASE WHEN (pred > 0.5) <> (ylab > 0.5) THEN 1.0 ELSE 0.0 END) / sum(w)",
      "error"),
    "m_mphe" -> mSql("sum(w * (sqrt(1.0 + (pred - yreg) * (pred - yreg)) - 1.0)) / sum(w)", "mphe"),
    "m_poisson_nloglik" -> mSql(
      "sum(w * (greatest(pred, 1e-16) - ycnt * ln(greatest(pred, 1e-16)) + " +
        "((ycnt + 1.0) - 0.5) * ln(ycnt + 1.0) - (ycnt + 1.0) + 0.5 * ln(2 * pi()) + " +
        "1.0 / (12.0 * (ycnt + 1.0)) - 1.0 / (360.0 * pow(ycnt + 1.0, 3)))) / sum(w)",
      "poisson_nloglik"),
    "m_gamma_deviance" -> mSql(
      "sum(w * 2.0 * (ln((pred + 1e-16) / (yreg + 1e-16)) + yreg / (pred + 1e-16) - 1.0)) / sum(w)",
      "gamma_deviance"),
    "m_gamma_nloglik" -> mSql(
      "sum(w * (yreg / greatest(pred, 1e-16) + ln(greatest(pred, 1e-16)))) / sum(w)",
      "gamma_nloglik"),
    "m_tweedie_nloglik" -> mSql(
      "sum(w * -(ycnt * pow(greatest(pred, 1e-16), -0.5) / -0.5 - " +
        "pow(greatest(pred, 1e-16), 0.5) / 0.5)) / sum(w)",
      "tweedie_nloglik"),
    "m_pinball" -> mSql(
      "sum(w * CASE WHEN yreg - pred >= 0 THEN 0.9 * (yreg - pred) " +
        "ELSE -0.1 * (yreg - pred) END) / sum(w)",
      "pinball"),
    "m_expectile" -> mSql(
      "sum(w * CASE WHEN pred - yreg > 0 THEN 0.7 ELSE 0.3 END * " +
        "(pred - yreg) * (pred - yreg)) / sum(w)",
      "expectile")
  )
}
