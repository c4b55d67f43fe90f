package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{CellQuantizer, Dedup, Similarity}

/** The skew-safe cap primitive (r18): `cappedCells` / `cappedBuckets`
  * are a count-aggregate + null-safe LEFT ANTI join-back, NOT a
  * per-key window count — a window partition can never be split, so
  * the mega-cell/mega-bucket (the exact case the cap exists for)
  * would buffer through ONE task before being dropped, while AQE can
  * skew-split or broadcast the anti-join. These specs pin (a)
  * bit-identical membership vs the window spelling on fixtures with
  * over-cap, under-cap, boundary and NULL-key groups, and (b) the
  * no-WindowExec plan shape of the gate paths that consume them. */
class CapPrimitiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The r17 window spelling, kept as the parity reference. */
  private def windowCap(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("_n", count(lit(1)).over(w))
      .where(col("_n") <= cap).drop("_n")
  }

  test("cappedCells == window spelling incl. null-key and boundary groups; no WindowExec") {
    import spark.implicits._
    // groups: 7×cell=1 (over), 3×cell=2 (boundary), 1×cell=3 (under),
    // 5×cell=NULL (over — nulls group together in the window spelling)
    val cells = (Seq.fill(7)(Option(1)) ++ Seq.fill(3)(Option(2)) ++
        Seq(Option(3)) ++ Seq.fill(5)(Option.empty[Int]))
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("id", "cell")
    val got = Similarity.cappedCells(cells, maxCellSize = 3)
    val want = windowCap(cells, Seq("cell"), 3)
    assert(got.select("id").except(want.select("id")).isEmpty &&
      want.select("id").except(got.select("id")).isEmpty)
    // membership stated explicitly: boundary group kept, over-cap and
    // null mega-group dropped
    assert(got.select("cell").distinct().as[Option[Int]].collect().toSet ==
      Set(Option(2), Option(3)))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("CartesianProduct"), plan.take(800))
  }

  test("cappedBuckets == window spelling on (band, key) incl. nulls; extra columns carried") {
    import spark.implicits._
    val rows = (Seq.fill(4)((0, Option("hot"))) ++
        Seq.fill(2)((0, Option("ok"))) ++ Seq.fill(3)((1, Option("hot"))) ++
        Seq.fill(4)((1, Option.empty[String])))
      .zipWithIndex.map { case ((b, k), i) => (i.toLong, b, k) }
      .toDF("id", "band", "key")
    val got = Dedup.cappedBuckets(rows, maxBucketSize = 3)
    val want = windowCap(rows, Seq("band", "key"), 3)
    assert(got.select("id").except(want.select("id")).isEmpty &&
      want.select("id").except(got.select("id")).isEmpty)
    // (0, hot) and (1, NULL) over cap → dropped; (1, hot) at boundary kept
    assert(got.count() == 5)
    assert(got.columns.toSeq == Seq("id", "band", "key"))
    assert(!got.queryExecution.executedPlan.toString.contains("WindowExec"))
  }

  test("exactDedup == rank-1 window spelling incl. mega-group and null text; no WindowExec") {
    import spark.implicits._
    // one 5000-row byte-identical mega-group + unique docs + null text
    val docs = ((0 until 5000).map(i => (i.toLong, "the same viral page body")) ++
        (5000 until 5040).map(i => (i.toLong, s"unique page $i")) ++
        Seq((9001L, null: String), (9002L, null: String)))
      .toDF("doc_id", "text")
    val got = Dedup.exactDedup(docs, "text", "doc_id")
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val want = docs.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
    assert(got.select("doc_id").except(want.select("doc_id")).isEmpty &&
      want.select("doc_id").except(got.select("doc_id")).isEmpty)
    // the mega-group resolves to its min id; null-text rows collapse to
    // theirs (both spellings group the null key)
    val ids = got.select("doc_id").as[Long].collect().toSet
    assert(ids(0L) && !ids(1L) && ids(9001L) && !ids(9002L) && ids.size == 42)
    assert(!got.queryExecution.executedPlan.toString.contains("WindowExec"))
    intercept[IllegalArgumentException] {
      Dedup.exactDedup(docs.withColumn("_gkey", lit("x")), "text", "doc_id")
    }
  }

  test("keyedGate (via incrementalDedupKeys) == salted-window spelling; nulls pass; no WindowExec") {
    import spark.implicits._
    // batch: a hot within-batch duplicate group, snapshot hits, novel
    // docs, and null-text rows (the null contract: all pass untouched)
    val batch = ((0 until 3000).map(i => (i.toLong, "dup dup dup")) ++
        Seq((8000L, "seen before"), (8001L, "novel one"),
          (8002L, null: String), (8003L, null: String)))
      .toDF("doc_id", "text")
    val prior = Seq("seen before").toDF("text")
    val keys = Dedup.exactKeys(prior).localCheckpoint()
    val got = Dedup.incrementalDedupKeys(batch, keys)
    // the r17 salted-window reference spelling
    val keyed = batch.withColumn("_key", md5(col("text")))
    val ws = Window.partitionBy(col("_key"),
        when(col("_key").isNull, col("doc_id").cast("string")).otherwise(lit("")))
      .orderBy(col("doc_id"))
    val want = keyed.withColumn("_rn", row_number().over(ws))
      .where(col("_rn") === 1).drop("_rn")
      .join(keys, Seq("_key"), "left_anti").drop("_key")
    assert(got.select("doc_id").except(want.select("doc_id")).isEmpty &&
      want.select("doc_id").except(got.select("doc_id")).isEmpty)
    assert(got.select("doc_id").as[Long].collect().toSet ==
      Set(0L, 8001L, 8002L, 8003L))
    assert(!got.queryExecution.executedPlan.toString.contains("WindowExec"))
  }

  test("opt-in id contract check: null idCol raises under spark.graft.checkIdContract") {
    import spark.implicits._
    val docs = Seq((Option(1L), "a"), (Option.empty[Long], "a"))
      .toDF("doc_id", "text")
    // off (default): min_by skips the null id while a non-null exists
    assert(Dedup.exactDedup(docs, "text", "doc_id").count() == 1L)
    spark.conf.set("spark.graft.checkIdContract", "true")
    try {
      val ex = intercept[Exception] {
        Dedup.exactDedup(docs, "text", "doc_id").count()
      }
      assert(ex.getMessage.contains("exactDedup") ||
        Option(ex.getCause).exists(_.getMessage.contains("exactDedup")),
        ex.toString)
      val ex2 = intercept[Exception] {
        Dedup.incrementalDedupKeys(docs,
          Dedup.exactKeys(Seq("zzz").toDF("text"))).count()
      }
      assert(ex2.toString.contains("keyedGate") ||
        Option(ex2.getCause).exists(_.toString.contains("keyedGate")),
        ex2.toString)
      // non-null ids pass the check unchanged
      assert(Dedup.exactDedup(Seq((1L, "a"), (2L, "a")).toDF("doc_id", "text"),
        "text", "doc_id").count() == 1L)
    } finally spark.conf.unset("spark.graft.checkIdContract")
  }

  test("routeMaterialize=persist: gate results identical on the lineage-keeping route") {
    import spark.implicits._
    val batch = ((0 until 200).map(i => (i.toLong, s"doc ${i % 50}")) ++
      Seq((900L, null: String))).toDF("doc_id", "text")
    val keys = Dedup.exactKeys(
      (0 until 10).map(i => s"doc $i").toDF("text")).localCheckpoint()
    def run() = Dedup.incrementalDedupKeys(batch, keys,
        bloomExpectedItems = 10L)
      .select("doc_id").as[Long].collect().toSet
    val viaCheckpoint = run()
    spark.conf.set("spark.graft.routeMaterialize", "persist")
    try {
      assert(run() == viaCheckpoint)
      // the documented growth remedy releases the routed cache entries
      spark.catalog.clearCache()
    } finally spark.conf.unset("spark.graft.routeMaterialize")
  }

  test("gate paths carry no WindowExec (the skew argument reaches the executed plan)") {
    import spark.implicits._
    val emb = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)((i % 4 + 1).toFloat).toSeq)).toDF("vec_id", "embedding")
    val cents = Array.tabulate(4)(c => Array.fill(8)(c + 1.0))
    val kept = Similarity.incrementalSemDedup(
      emb.where($"vec_id" >= 20),
      Similarity.semanticKeys(emb.where($"vec_id" < 20), CellQuantizer.Flat(cents)),
      CellQuantizer.Flat(cents), threshold = 0.999, nprobe = 1, maxCellSize = 3)
    assert(!kept.queryExecution.executedPlan.toString.contains("WindowExec"))
    val docs = (0 until 12).map(i => (i.toLong,
      if (i < 8) "the same boilerplate sentence repeated everywhere always"
      else s"document number $i with its own distinct words inside here")).toDF("doc_id", "text")
    val keptB = Dedup.incrementalBandedNearDedup(
      docs.where($"doc_id" >= 6), Dedup.minhashSignatures(
        docs.where($"doc_id" < 6), "text", col("doc_id"), 16),
      numHashes = 16, bands = 4, maxBucketSize = 3)
    assert(!keptB.queryExecution.executedPlan.toString.contains("WindowExec"))
  }
}
